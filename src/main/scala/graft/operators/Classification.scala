package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Traffic classification: periodically compute the top-X% classes by one
  * measure over declared key fields, give them human-readable names, and
  * label subsequent flows by key lookup (reference classification.c;
  * top-X% cut at 524-619, naming 382-457, label attach 947-956,
  * background refresh loop 806-871).
  *
  * Spark shape: the class table is a small aggregate (top-X% of group
  * keys), so labeling is a broadcast LEFT join — the streaming analog is a
  * stream-static join whose static side is refreshed per interval
  * (SURVEY.md §2.7 "classification loop"). One-interval label lag in the
  * reference becomes one-refresh lag here; semantics equivalent.
  */
object Classification {

  /** @param keyCols   classification key columns (already projected)
    * @param measure   measure column name to rank by
    * @param topPct    keep classes covering this % of total traffic
    *                  (reference CONFIG.md "top-percents")
    * @param nameCol   expression building the display name from key cols */
  final case class Conf(keyCols: Seq[String], measure: String,
                        topPct: Double, nameCol: Column)

  /** Build the class table: keyCols + measure + `class_name`. */
  def classTable(flows: DataFrame, conf: Conf,
                 measureExpr: Column): DataFrame = {
    val agg = flows
      .groupBy(conf.keyCols.map(col): _*)
      .agg(sum(measureExpr).as(conf.measure))
    TopK.topPctCut(agg, conf.measure, conf.topPct,
        conf.keyCols.map(c => col(c).asc))
      .withColumn("class_name", conf.nameCol)
  }

  /** Attach `class0` to each flow by key lookup (NULL = unclassified).
    * The class table is tiny by construction → broadcast hash join,
    * no shuffle of the flow side. */
  def label(flows: DataFrame, classes: DataFrame,
            keyCols: Seq[String]): DataFrame = {
    val cls = broadcast(
      classes.select((keyCols.map(col) :+
        col("class_name").as("class0")): _*))
    flows.join(cls, keyCols, "left")
  }

  /** One refresh of the filesystem class database (reference
    * classification_dump + update_clsf_dir, classification.c:459-544):
    * `{dir}/{mo}/{clsId}/{key}/name` is written only when ABSENT — a
    * user's manual rename survives every later refresh — while `stats`
    * is rewritten each time ("<v> of <total>, <pct>%"). Returns the
    * class table with `class_name` replaced by the effective (possibly
    * renamed) names, ready for [[label]].
    *
    * The class table is a tiny top-X% aggregate (it is broadcast for
    * labeling anyway), so the driver-side collect here is the same
    * bounded work the reference's dump cursor does. */
  def refreshFs(clsfDir: String, mo: String, clsId: Int,
                classes: DataFrame, conf: Conf): DataFrame = {
    import java.nio.file.{Files, Paths}
    val keyDirCol =
      concat_ws("-", conf.keyCols.map(c => col(c).cast("string")): _*)
    val collected = classes.select(keyDirCol.as("kdir"),
      col("class_name"), col(conf.measure).cast("long").as("v")).collect()
    val total = collected.map(_.getLong(2)).sum
    val base = Paths.get(clsfDir, mo, clsId.toString)
    Files.createDirectories(base)
    val effective: Map[String, String] = collected.map { r =>
      val kdir = r.getString(0)
      val d = base.resolve(kdir)
      Files.createDirectories(d)
      val nameF = d.resolve("name")
      if (!Files.exists(nameF)) Files.writeString(nameF, r.getString(1))
      val v = r.getLong(2)
      val pct = if (total > 0) v * 100.0 / total else 0.0
      Files.writeString(d.resolve("stats"), s"$v of $total, $pct%\n")
      kdir -> Files.readString(nameF)
    }.toMap
    if (effective.isEmpty) classes
    else classes.withColumn("class_name",
      coalesce(element_at(typedlit(effective), keyDirCol),
        col("class_name")))
  }
}
