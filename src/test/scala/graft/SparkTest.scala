package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkTest extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import scala.jdk.CollectionConverters._

  /** Build a flow DataFrame with the named columns (LongType) from rows. */
  def flowDf(cols: Seq[String], rows: Seq[Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(cols.map(c => StructField(c, LongType, true)))
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(r)).asJava, schema)
  }
}

object SparkTest {
  lazy val session: SparkSession = Session.local(2)
}
