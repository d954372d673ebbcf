package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the entry-point mains and the specs
  * build, so the oracle dump, the bench board and the specs all run
  * under the same confs. */
object Session {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
