package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(8, false)
    spark.stop()
  }
}
