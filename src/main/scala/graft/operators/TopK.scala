package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top-K family: top-N + "others" residual row, and top-X%-cumulative cut.
  *
  * Reference semantics:
  *  - top-N+others: emit the first N rows in declared sort order, then
  *    ONE residual row whose key columns are NULL and whose measures sum
  *    everything past row N (reference monit-objects-fwm.c:404-481;
  *    NULL keys at 461-478). No others row when there are at most N rows.
  *  - top-X%: sort desc by one measure, keep rows until the running total
  *    (exclusive of the current row) reaches X% of the grand total
  *    (reference classification.c:524-619).
  *
  * Both run AFTER aggregation, over a group-cardinality-bounded input, as
  * the reference does over one window's in-memory aggregate. Each is one
  * lazy window plan that reads `agg` once; empty `partCols` is one
  * partition. On the contract aggregates (16 to 1,806 rows) that plan
  * measured faster than a distributed head take or a banded cumulative
  * walk (SCALE.md, "One windowed TopK path").
  */
object TopK {

  /** Per-partition top-N + NULL-keyed "others" residual.
    *
    * @param agg       aggregated input
    * @param partCols  partition columns (e.g. the time window); may be empty
    * @param keyCols   group-key columns → NULL in the others row
    * @param measCols  measure columns → summed in the others row
    * @param sortCols  declared ordering within a partition
    * @param n         head rows kept per partition
    */
  def topNOthers(agg: DataFrame, partCols: Seq[String], keyCols: Seq[String],
                 measCols: Seq[String], sortCols: Seq[Column],
                 n: Int): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(sortCols: _*)
    // SINGLE PASS over the aggregated input (a union of head/tail
    // branches would scan + aggregate it twice — shows up as a double
    // parquet scan at any scale): rank rows, null the keys past row n,
    // and re-group. Head rows keep their unique rank so the merge leaves
    // them untouched; all rows past n share the (part, NULL keys, NULL
    // rank) group and collapse into the one residual row.
    val flagged = agg.withColumn("__rn", row_number().over(w))
    val schema = agg.schema
    val marked = flagged.select(
      (partCols.map(col) ++
        keyCols.map(k => when(col("__rn") <= n, col(k))
          .otherwise(lit(null).cast(schema(k).dataType)).as(k)) ++
        measCols.map(col) :+
        when(col("__rn") <= n, col("__rn")).otherwise(lit(null))
          .as("__hrn")): _*)
    val sums = measCols.map(m => sum(col(m)).as(m))
    marked
      .groupBy((partCols ++ keyCols :+ "__hrn").map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .drop("__hrn")
      .select(schema.fieldNames.map(col): _*)
  }

  /** Keep the top rows by `measure` desc until the cumulative sum reaches
    * pct% of the total (the crossing row is kept).
    *
    * @param tieBreak extra ordering columns to make the cut deterministic
    */
  def topPctCut(agg: DataFrame, measure: String, pct: Double,
                tieBreak: Seq[Column]): DataFrame = {
    val wOrd = Window.orderBy(col(measure).desc +: tieBreak: _*)
    val cumExcl = coalesce(
      sum(col(measure)).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val total = sum(col(measure)).over()
    agg.withColumn("__cum", cumExcl)
      .withColumn("__tot", total)
      .filter(col("__cum") < col("__tot") * lit(pct) / lit(100.0))
      .drop("__cum", "__tot")
  }
}
