package graft.operators

import graft.config.MoConfig
import graft.config.MoConfig.MonitoringObject
import graft.filter.{FieldSpec, FilterEnv}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Shared-scan evaluation of MANY fwm sections over ONE pass of the
  * flow data — the Spark shape of the reference's hot loop, which
  * dispatches every flow to every monitoring object in a single pass
  * (netflow.c:214-244: `monit_object_match` + `monit_object_process`
  * per flow per MO, one traversal of the packet batch; a child MO's
  * filter applies on top of its parent's).
  *
  * [[Fwm.batch]] plans one scan per section; for an MO tree with N fwm
  * sections that is N reads of the same 100 TB. Here the N sections
  * compile into ONE plan:
  *
  * {{{
  *   scan (filter: OR of all section predicates — pushed to parquet)
  *     → explode(array(N per-section structs))   // the dispatch
  *     → filter(struct non-null)                 // per-section pred
  *     → hash aggregate (partial → shuffle → final)
  * }}}
  *
  * Each flow row expands to one struct per section whose predicate it
  * satisfies, tagged `(mo, section)` and carrying that section's
  * epoch-aligned window plus a SUPERSET of all sections' key and
  * measure columns (unused ones typed-NULL). A single partial/final
  * hash aggregate over `(mo, section, time, keys…)` then does all N
  * aggregations in one shuffle — map-side combine collapses the
  * explode's fan-out back to per-(section × key × window) partials
  * before anything moves, so shuffle volume is the sum of the N
  * sections' aggregate cardinalities, NOT N× the scan.
  *
  * 100 TB shape: one parquet read instead of N, one shuffle instead of
  * N, and the explode stays inside whole-stage codegen. The fan-out is
  * CPU-only and short-lived (rows die in the partial aggregate's hash
  * map). Same-named fields across sections share one superset column —
  * `FieldSpec.sqlName` is a pure function of the declared field text,
  * so equal names imply equal expressions.
  *
  * Per-section results come back out with [[slice]], which is
  * bit-compatible with [[Fwm.batch]] for the same section (proven in
  * SharedFwmSpec; q111 oracles three sections against DuckDB).
  */
object SharedFwm {

  /** One fwm section with its effective (parent-conjoined) filter.
    * `extended` carries the config's gate flag (reference "extended"
    * windows aggregate only while an alert holds them open) so sink
    * wiring — [[graft.streaming.Pipeline.sharedFwmBatchWriter]] — can
    * gate without the caller rebuilding a lookup the config already
    * states. */
  final case class Section(mo: String, pred: Column, conf: Fwm.Conf,
                           extended: Boolean = false)

  /** Flatten an MO tree to sections in pre-order, each carrying its
    * node's [[MoConfig.paths]] predicate. */
  def sections(mo: MonitoringObject, env: FilterEnv): Seq[Section] =
    MoConfig.paths(mo, env).flatMap { case (node, pred) =>
      node.fwm.map(f => Section(node.name, pred, f.conf, f.extended))
    }

  /** Superset compilation shared by the batch and streaming passes:
    * per-section dispatch structs over deduped key/measure supersets.
    * `timeOf` supplies the per-section window column (epoch bucket in
    * batch; None in streaming, where `window()` groups instead). */
  private final case class Dispatch(structs: Seq[Column],
      keySpecs: Seq[FieldSpec], aggSpecs: Seq[FieldSpec])
  private def compileDispatch(flows: DataFrame, env: FilterEnv,
      secs: Seq[Section], samplingRate: Option[Column],
      timeOf: Option[Section => Column]): Dispatch = {
    require(secs.nonEmpty, "shared fwm needs at least one section")
    require(secs.map(s => (s.mo, s.conf.name)).distinct.size == secs.size,
      "shared fwm sections must have distinct (mo, name)")
    val compiled = secs.map(s => s -> Fwm.compile(s.conf))
    // dedup key is the LOWERCASED sqlName: field-name resolution is
    // case-insensitive but sqlName preserves the declared text's case,
    // so 'Octets desc' in one section and 'octets desc' in another are
    // the same expression — two superset columns differing only in
    // case would make slice's col() ambiguous under Spark's default
    // case-insensitive resolution
    def dedup(specs: Seq[FieldSpec]): Seq[FieldSpec] = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[
        String, FieldSpec]
      specs.foreach(f => seen.getOrElseUpdate(f.sqlName.toLowerCase, f))
      seen.values.toSeq
    }
    val keySpecs = dedup(compiled.flatMap(_._2.keys))
    val aggSpecs = dedup(compiled.flatMap(_._2.aggrs))

    // superset column types, for NULL-padding the unused slots of a
    // section's struct (array elements must share one struct schema)
    def measureCol(a: FieldSpec): Column =
      Fwm.measure(a, env, samplingRate)
    val types: Map[String, DataType] = flows.select(
        keySpecs.map(k => k.column(env).as(k.sqlName)) ++
          aggSpecs.map(a => measureCol(a).as(a.sqlName)): _*)
      .schema.map(f => f.name -> f.dataType).toMap

    // the dispatch: one struct per section, NULL when its predicate
    // rejects the flow (explode keeps NULL elements as NULL rows; the
    // isNotNull filter drops them)
    val structs = compiled.map { case (s, c) =>
      val usedK = c.keys.map(_.sqlName.toLowerCase).toSet
      val usedA = c.aggrs.map(_.sqlName.toLowerCase).toSet
      val fields =
        Seq(lit(s.mo).as("mo"), lit(s.conf.name).as("section")) ++
        timeOf.map(f => f(s).as("time")).toSeq ++
        keySpecs.map(k =>
          (if (usedK(k.sqlName.toLowerCase)) k.column(env)
           else lit(null).cast(types(k.sqlName))).as(k.sqlName)) ++
        aggSpecs.map(a =>
          (if (usedA(a.sqlName.toLowerCase)) measureCol(a)
           else lit(null).cast(types(a.sqlName))).as(a.sqlName))
      when(s.pred, struct(fields: _*))
    }
    Dispatch(structs, keySpecs, aggSpecs)
  }

  /** All sections aggregated in one pass. Output columns: `mo`,
    * `section`, `time`, then the superset of every section's key and
    * measure columns (a section's unused columns are NULL in its
    * rows). Top-N/sort finishing is per-section work over the (small)
    * aggregate — apply it via [[slice]].
    *
    * @param tsCol epoch-seconds column
    */
  def batchAll(flows: DataFrame, env: FilterEnv, secs: Seq[Section],
               tsCol: Column = col("ts_sec"),
               samplingRate: Option[Column] = None): DataFrame = {
    val d = compileDispatch(flows, env, secs, samplingRate,
      Some(s => Fwm.bucket(tsCol, s.conf.timeSec)))
    val aggCols = d.aggSpecs.map(a => sum(col(a.sqlName)).as(a.sqlName))
    flows
      // scan-level prefilter: a flow no section wants never explodes;
      // this disjunction is what reaches the parquet PushedFilters
      .where(secs.map(_.pred).reduce(_ || _))
      .select(explode(array(d.structs: _*)).as("s"))
      .where(col("s").isNotNull)
      .select(col("s.*"))
      .groupBy(col("mo") +: col("section") +: col("time") +:
        d.keySpecs.map(k => col(k.sqlName)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** STREAMING shared pass for sections sharing ONE window length: a
    * single watermarked windowed aggregation computes every section of
    * the group over one source — one streaming query, one state store,
    * however many sections (the engine's only streaming fwm path; one
    * section is a group of one). Sections with different `timeSec`
    * cannot share a streaming window operator — group by
    * `conf.timeSec` and run one query per group (the reference's
    * one-pass dispatch, factored by window length).
    *
    * Append mode: a window emits once when the watermark passes its
    * end (the reference's bank swap + dump, monit-objects-fwm.c:
    * 665-682). Rows carry `mo`, `section`, the superset columns and
    * `time` (window start, epoch secs); finish each section per
    * micro-batch with [[slice]] inside foreachBatch, which gives the
    * rows [[Fwm.batch]] computes for that window.
    *
    * The watermark is the STREAM's event-time clock, advanced by every
    * flow any section of the group wants — not a per-section clock. A
    * section whose filter matches nothing for a while still has its
    * windows closed as stream time passes, as the reference's fwm bank
    * swap flushes EVERY MO's windows on the shared clock. SharedFwmSpec
    * pins both the per-window equality and this close.
    *
    * @param delay watermark delay (the reference drops late data by
    *              design — INTERNALS.md:126-129 — so "0 seconds") */
  def streamGroup(flows: DataFrame, env: FilterEnv, secs: Seq[Section],
                  tsColName: String = "ts",
                  samplingRate: Option[Column] = None,
                  delay: String = "0 seconds"): DataFrame = {
    val times = secs.map(_.conf.timeSec).distinct
    require(times.size == 1,
      s"streamGroup needs one shared window length, got $times")
    val d = compileDispatch(flows, env, secs, samplingRate, None)
    val aggCols = d.aggSpecs.map(a => sum(col(a.sqlName)).as(a.sqlName))
    val out = flows
      .withWatermark(tsColName, delay)
      // Catalyst pushes this non-ts disjunction below the watermark
      // node, so flows no section wants don't advance the watermark
      // (assertFilterBelowWatermark below proves the placement)
      .where(secs.map(_.pred).reduce(_ || _))
      .select(col(tsColName), explode(array(d.structs: _*)).as("s"))
      .where(col("s").isNotNull)
      .select(col(tsColName) +: col("s.mo") +: col("s.section") +:
        (d.keySpecs ++ d.aggSpecs).map(f => col(s"s.${f.sqlName}")): _*)
      .groupBy(window(col(tsColName), s"${times.head} seconds") +:
        col("mo") +: col("section") +:
        d.keySpecs.map(k => col(k.sqlName)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("time", unix_timestamp(col("window.start")))
      .drop("window")
    assertFilterBelowWatermark(out)
    out
  }

  /** Plan guard for [[streamGroup]]'s watermark claim: the root
    * disjunction must sit BELOW the EventTimeWatermark node (so a flow
    * no section wants is dropped before its event time is sampled and
    * never advances the watermark). This rests on Catalyst's
    * PushPredicateThroughNonJoin — the EXACT placement whose opposite
    * direction silently broke q109's sentinel — so it is asserted, not
    * assumed: an optimizer change or a ts-referencing predicate fails
    * loudly here instead of silently shifting window-close timing.
    * Filters above the explode are post-dispatch (the struct isNotNull)
    * and cannot touch watermark sampling. */
  private def assertFilterBelowWatermark(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      EventTimeWatermark, Filter, Generate}
    // the bridge: queryExecution.optimizedPlan on a streaming frame
    // throws the batch-execution check; optimize the analyzed plan
    // directly (same rule set the micro-batch planner runs)
    val plan = org.apache.spark.sql.GraftBridge.optimizeLogical(df)
    val wm = plan.collectFirst { case w: EventTimeWatermark => w }
    require(wm.isDefined,
      "streamGroup plan lost its EventTimeWatermark node")
    val below = wm.get.collect { case f: Filter => f }.toSet
    // the optimizer infers `isnotnull(ts)` ABOVE the watermark — a
    // NULL event time is never sampled, so a filter touching only the
    // event-time attribute itself cannot change watermark advancement
    val etId = wm.get.eventTime.exprId
    val offenders = plan.collect {
      case f: Filter if !below(f) &&
          f.collectFirst { case g: Generate => g }.isEmpty &&
          !f.condition.references.forall(_.exprId == etId) => f
    }
    require(offenders.isEmpty,
      "streamGroup: a source-row filter sits ABOVE the " +
        "EventTimeWatermark node — dropped flows would advance the " +
        s"watermark, changing window-close timing: $offenders")
  }

  /** One section's frame out of [[batchAll]]'s combined result:
    * identical columns, rows and ordering to [[Fwm.batch]] run alone
    * on that section.
    *
    * Consuming N slices as N separate frames re-plans the subtree per
    * frame — and Catalyst then pushes each slice's `(mo, section)`
    * predicate below the aggregation (they are group keys), so the
    * branches stop being identical and exchange reuse cannot kick in:
    * N actions would mean N scans again. Either keep everything in ONE
    * query (q111 returns the combined frame directly), or persist the
    * combined aggregate before slicing — small: its cardinality is the
    * sum of the sections' group counts, not the scan — so the parquet
    * read happens exactly once regardless of how many slices are
    * consumed (what [[graft.streaming.Pipeline.sharedFwmBatchWriter]]
    * does per micro-batch). */
  def slice(combined: DataFrame, s: Section): DataFrame = {
    val c = Fwm.compile(s.conf)
    val own = combined
      .filter(col("mo") === s.mo && col("section") === s.conf.name)
      .select(col("time") +:
        (c.keys ++ c.aggrs).map(f => col(f.sqlName)): _*)
    Fwm.finishWindows(own, s.conf)
  }

  /** Leaf scans of a physical plan — the shared-scan invariant is
    * exactly one (asserted by q111 and SharedFwmSpec). Subqueries and
    * AQE-reused stages are walked; a ReusedExchange counts as zero
    * because its scan already counted once. */
  def countScans(df: DataFrame): Int = {
    import org.apache.spark.sql.execution._
    def walk(p: SparkPlan): Int = p match {
      case _: datasources.v2.BatchScanExec => 1
      case _: FileSourceScanExec => 1
      case r: adaptive.AdaptiveSparkPlanExec => walk(r.executedPlan)
      case q: adaptive.QueryStageExec => walk(q.plan)
      case _: exchange.ReusedExchangeExec => 0
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}
