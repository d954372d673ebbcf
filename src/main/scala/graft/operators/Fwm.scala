package graft.operators

import graft.filter.{Compiler, FieldSpec, FilterEnv}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fixed-window aggregation ("fwm" in the reference): tumbling
  * epoch-aligned time buckets × group-by keys × summed measures, with
  * declared multi-key mixed-order sort and optional top-N+"others"
  * (reference monit-objects-fwm.c; window boundary `(now / T)` aligned to
  * the epoch at monit-objects-fwm.c:704; measure update
  * `vals[j] += v*scale*sampling_rate` at monit-objects.c:988-997).
  *
  * The reference's per-thread tries + atomic bank swap + merge become
  * Catalyst's partial/final hash aggregate over a shuffle — the same
  * partial-aggregation dance, but elastic across a cluster
  * (SURVEY.md §2.4). Runs identically over batch DataFrames and
  * foreachBatch micro-batches.
  */
object Fwm {

  /** One fwm section of a monitoring object (reference CONFIG.md:348-376).
    * @param fields  declared output fields: keys and measures with order
    * @param timeSec window length, default 30 (reference monit-objects.h:10)
    * @param limit   optional top-N with others row
    */
  final case class Conf(name: String, fields: Seq[String],
                        timeSec: Long = 30L, limit: Option[Int] = None)

  final case class Compiled(conf: Conf, keys: Seq[FieldSpec],
                            aggrs: Seq[FieldSpec], sortOrder: Seq[FieldSpec])

  /** Parse a section's fields into keys and measures; a section must
    * declare at least one aggregable field. */
  private[graft] def compile(conf: Conf): Compiled = {
    val specs = FieldSpec.parseAll(conf.fields).fold(e => sys.error(e),
      identity)
    val (aggrs, keys) = specs.partition(_.isAggr)
    require(aggrs.nonEmpty,
      s"section '${conf.name}' needs at least one aggregable field")
    Compiled(conf, keys, aggrs, specs)
  }

  /** One flow's contribution to a measure: value × field scale ×
    * sampling rate (monit-objects.c:988-997). */
  private[graft] def measure(a: FieldSpec, env: FilterEnv,
                             samplingRate: Option[Column]): Column =
    a.column(env) * lit(a.scale) * samplingRate.getOrElse(lit(1L))

  /** Epoch-aligned bucket start from an epoch-seconds column. */
  def bucket(tsSec: Column, timeSec: Long): Column =
    (tsSec - (tsSec % timeSec)).cast(LongType)

  /** The scan + aggregate half of [[batch]] — epoch-bucketed groupBy +
    * summed measures, no finishing sort/top-N. This is the part whose
    * cost scales with the data; the finish is aggregate-sized. Exposed
    * so scan-vs-scan comparisons time symmetric work (SCALE.md "r15:
    * shared-scan fwm — baseline column-pruning bias fixed"); perfbench's
    * layer ladder times it as its aggregate rung.
    *
    * @param tsCol epoch-seconds column
    */
  def aggregate(flows: DataFrame, env: FilterEnv, conf: Conf,
                tsCol: Column = col("ts_sec"),
                samplingRate: Option[Column] = None): DataFrame = {
    val compiled = compile(conf)
    val keyCols = compiled.keys.map(k => k.column(env).as(k.sqlName))
    val aggCols = compiled.aggrs.map(a =>
      sum(measure(a, env, samplingRate)).as(a.sqlName))
    flows
      .groupBy((bucket(tsCol, conf.timeSec).as("time") +: keyCols): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Build the full batch pipeline over a flow DataFrame.
    *
    * Output columns: `time` (epoch secs) + one column per declared field
    * (its SQL-safe name), rows ordered by (time, declared field order),
    * with the others row (NULL keys) last inside each window.
    *
    * @param tsCol epoch-seconds column
    */
  def batch(flows: DataFrame, env: FilterEnv, conf: Conf,
            tsCol: Column = col("ts_sec"),
            samplingRate: Option[Column] = None): DataFrame =
    finishWindows(aggregate(flows, env, conf, tsCol, samplingRate), conf)

  /** Per-batch finish for streamed windows: declared sort + top-N+others
    * (apply inside foreachBatch, where each closed window's rows are
    * final). */
  def finishWindows(batch: DataFrame, conf: Conf): DataFrame = {
    val compiled = compile(conf)
    val sortCols = compiled.sortOrder.map(f =>
      if (f.descending) col(f.sqlName).desc else col(f.sqlName).asc)
    val limited = conf.limit match {
      case Some(n) =>
        TopK.topNOthers(batch, Seq("time"),
          compiled.keys.map(_.sqlName), compiled.aggrs.map(_.sqlName),
          sortCols, n)
      case None => batch
    }
    val othersLast = compiled.keys.headOption
      .map(k => col(k.sqlName).isNull.cast("int").asc).toSeq
    limited.orderBy((col("time").asc +: othersLast) ++ sortCols: _*)
  }
}
