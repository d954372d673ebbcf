package graft.streaming

import graft.config.MoConfig
import graft.config.MoConfig.MonitoringObject
import graft.filter.FilterEnv
import graft.operators.{Fwm, SharedFwm}
import graft.sinks.AlertSink
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentHashMap

/** Extended-stats gate: overlimit alerts flip designated fwm sections
  * active, possibly in other monitoring objects (reference
  * monit-objects-mavg-act.c:192-227, fwm gate monit-objects.c:943-952,
  * CONFIG.md:411 — "extended" windows aggregate only while an alert
  * holds them open).
  *
  * The reference uses per-window `is_active` atomics; the Spark analog is
  * a driver-side control set consulted per micro-batch: an inactive
  * extended section skips its SINK work (finish sort + export), while the
  * windowed aggregation itself still executes — Spark commits every
  * stateful operator's state each batch, so the aggregation cannot be
  * conditionally skipped inside one query (see
  * [[Pipeline.sharedFwmBatchWriter]]). For a truly zero-cost-while-
  * inactive extended section, run it as its own query and start/stop it
  * on gate transitions — that also matches the reference's from-empty-
  * on-activation behavior.
  */
final class ExtStatsGate extends Serializable {
  private val active = ConcurrentHashMap.newKeySet[String]()

  def activate(name: String): Unit = active.add(name)
  def deactivate(name: String): Unit = active.remove(name)
  def isActive(name: String): Boolean = active.contains(name)

  /** Apply alert events: Started → activate the alert's ext sections,
    * Ended → deactivate (reference act on_limit/on_back_to_norm hooks). */
  def applyAlerts(events: Seq[MavgStream.AlertRow],
                  extNames: Map[Int, Seq[String]]): Unit =
    events.foreach { e =>
      val names = extNames.getOrElse(e.limitIdx, Nil)
      e.event match {
        case "start" => names.foreach(activate)
        case "end"   => names.foreach(deactivate)
        case _       => ()
      }
    }
}

/** End-to-end wiring of a monitoring-object tree over a flow stream:
  * the fwm sections run as shared windowed aggregations (one query per
  * window length) finished per batch; extended sections are gated;
  * mavg sections run the stateful alert processor. This is the
  * engine's equivalent of the reference's monit_objects_init +
  * per-thread hot loop (SURVEY.md §3).
  */
object Pipeline {

  final case class MavgBranch(mo: String, section: MoConfig.MavgSection,
                              alerts: org.apache.spark.sql.Dataset[
                                MavgStream.AlertRow])

  /** Build the streaming queries for an MO tree: the fwm side is
    * [[buildSharedFwm]]'s groups, the mavg side one alert processor per
    * mavg section over its node's [[MoConfig.paths]] predicate.
    *
    * @param flows streaming DataFrame with a TimestampType `ts` column
    *              plus canonical flow columns */
  def build(mo: MonitoringObject, flows: DataFrame, env: FilterEnv,
            samplingRate: Option[Column] = None,
            /** silent-key tick cadence; 0 disables the processing-time
              * timer (tests / batch replays) */
            mavgTickMs: Long = 1000L): (Seq[SharedFwmGroup],
      Seq[MavgBranch]) = {
    import flows.sparkSession.implicits._
    val mavgs = MoConfig.paths(mo, env).flatMap { case (node, pred) =>
      node.mavg.map { m =>
        // key = concat of the non-aggregable fields; value = first
        // aggregable measure × rate (reference mavg fieldset split)
        val compiled = Fwm.compile(Fwm.Conf(m.name, m.fields, m.timeSec))
        val keyCol = concat_ws("|",
          compiled.keys.map(k => keyDisplayCol(k, env)): _*)
        val input = flows.filter(pred).select(
          keyCol.as("key"),
          (unix_timestamp(col("ts")) * lit(1000000000L)).as("tsNs"),
          Fwm.measure(compiled.aggrs.head, env, samplingRate)
            .cast("double").as("v"))
          // a NULL measure/ts row would be a poison pill: Input's fields
          // are non-nullable, so the deserializer throws, the batch dies,
          // and the restart replays the same offsets forever — drop such
          // rows instead (the reference's fixed-layout flow records
          // cannot carry a missing measure at all)
          .where(col("tsNs").isNotNull && col("v").isNotNull)
          .as[MavgStream.Input]
        val conf = MavgStream.Conf(
          windowSec = m.timeSec,
          // aligned per section; a section without a default never fires
          // on its own (∞ threshold) but its limits file still can
          defaultLimits = m.overlimit.map(
            _.default.headOption.getOrElse(Double.PositiveInfinity)),
          back2normSec = m.overlimit.headOption
            .map(_.back2normSec).getOrElse(30L),
          // each overlimit section keeps its OWN hysteresis (reference:
          // per-mavg_limit back2norm-time) — the uniform back2normSec
          // above only backstops indices beyond this seq
          back2normsSec = m.overlimit.map(_.back2normSec),
          // one hot-reloadable limits file PER overlimit section
          // (reference: each mavg_limit carries its own file)
          limitsProviders = m.overlimit.map(_.limitsFile.map(f =>
            graft.config.Reloadable.limitsCsv(f, compiled.keys.size))),
          tickIntervalMs = mavgTickMs)
        MavgBranch(node.name, m, MavgStream(input, conf))
      }
    }
    (buildSharedFwm(mo, flows, env, samplingRate), mavgs)
  }

  /** Mavg key-field rendering: address-typed fields display in their
    * printed form (dotted quad / hex-group v6) so reference-style limits
    * files ('1.2.3.4,1000000', CONFIG.md:438-469) match keys, and
    * notification file names carry readable addresses — the reference's
    * mavg_limits_parse_line converts types the same way. */
  private def keyDisplayCol(k: graft.filter.FieldSpec,
                            env: FilterEnv): Column = {
    import graft.flow.FlowSchema.{Addr4L, Addr6L}
    import graft.functions.NetFns
    val c = k.column(env)
    env.fields.get(k.name).map(_._1) match {
      case Some(Addr4L) => NetFns.ip4str(c)
      case Some(Addr6L) => NetFns.ip6str(c)
      case _            => c.cast("string")
    }
  }

  /** One shared-scan streaming group: every fwm section of the MO tree
    * with this window length, computed by ONE streaming query
    * ([[SharedFwm.streamGroup]]). */
  final case class SharedFwmGroup(timeSec: Long, combined: DataFrame,
      sections: Seq[SharedFwm.Section])

  /** [[build]]'s fwm side: the MO tree's sections grouped by window
    * length, each group ONE watermarked windowed aggregation over one
    * pass of the source — the reference's single-pass dispatch
    * (netflow.c:214-244), factored by window length because one
    * streaming window operator has one length. An MO config whose
    * sections share their `time` (the common case — reference
    * CONFIG.md's examples use one window per MO tree level) collapses
    * to a single query for the whole tree. */
  def buildSharedFwm(mo: MonitoringObject, flows: DataFrame,
      env: FilterEnv, samplingRate: Option[Column] = None,
      delay: String = "0 seconds"): Seq[SharedFwmGroup] = {
    val secs = SharedFwm.sections(mo, env)
    secs.groupBy(_.conf.timeSec).toSeq.sortBy(_._1).map {
      case (t, group) => SharedFwmGroup(t,
        SharedFwm.streamGroup(flows, env, group,
          samplingRate = samplingRate, delay = delay), group)
    }
  }

  /** foreachBatch body for a shared group: slice each section out of
    * the micro-batch (finish = sort + top-N+others) and hand it to that
    * section's sink; gated-off extended sections skip their sink work —
    * the extended flag travels ON the Section (sections() reads it from
    * the config), so ExtStatsGate gating needs no caller-built lookup.
    * The micro-batch is persisted across the slices — it is
    * aggregate-sized (closed windows only), and without the persist
    * each slice would recompute the batch's lineage. A batch no live
    * section reads is still drained: Spark commits a stateful batch
    * only once every partition ran. */
  def sharedFwmBatchWriter(group: SharedFwmGroup, gate: ExtStatsGate)(
      sink: (SharedFwm.Section, DataFrame) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, _) => {
      val live = group.sections.filter(s =>
        !s.extended || gate.isActive(s.conf.name))
      if (live.isEmpty) { batch.count(); () }
      else {
        batch.persist()
        try live.foreach(s => sink(s, SharedFwm.slice(batch, s)))
        finally { batch.unpersist(); () }
      }
    }

  /** Alert sink for a mavg branch, built from its mo.conf overlimit
    * sections (names + action/back2norm scripts). */
  def alertSink(branch: MavgBranch, notifDir: String,
                execute: Boolean = false): AlertSink =
    new AlertSink(AlertSink.Conf(notifDir, branch.mo, branch.section.name,
      branch.section.overlimit.map(o =>
        AlertSink.Limit(o.name, o.actionScript, o.back2normScript)),
      execute))

  /** limitIdx → extended-section names of a mavg branch. */
  def extNames(branch: MavgBranch): Map[Int, Seq[String]] =
    branch.section.overlimit.zipWithIndex
      .map { case (o, i) => i -> o.extNames }.toMap

  /** foreachBatch body for a mavg branch's alert stream: feed the events
    * to the ext-stats gate AND the notification/action sink — the Spark
    * analog of the reference's act thread consuming the alert db
    * (monit-objects-mavg-act.c:569-592). Alert events are a bounded
    * post-hysteresis trickle, so the driver-side collect is by design. */
  def alertBatchWriter(branch: MavgBranch, gate: ExtStatsGate,
                       sink: AlertSink): (Dataset[MavgStream.AlertRow],
      Long) => Unit =
    (batch, _) => {
      val events = batch.collect().toSeq
      gate.applyAlerts(events, extNames(branch))
      sink.handle(events)
    }
}
