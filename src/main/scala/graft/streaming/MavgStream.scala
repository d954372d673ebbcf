package graft.streaming

import graft.streaming.AlertMachine._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming mavg: per-key decaying average + threshold alerting as a
  * Structured Streaming stateful operator.
  *
  * The reference runs this in the capture threads (decay-update per
  * arrival, monit-objects-mavg.c:887-1030) plus a 100 ms act thread for
  * the alert lifecycle and a 1 s underlimit scanner
  * (monit-objects-mavg-act.c:569-592, monit-objects-mavg-under.c:315-343).
  * Here all three collapse into one keyed stateful processor:
  *  - arrivals fold the decay recurrence in event order;
  *  - every limit is checked per arrival (val/T vs limit);
  *  - the lifecycle machine ([[AlertMachine]]) advances on every batch and
  *    on processing-time timeouts, which also cover the underlimit case
  *    ("silent key" detection needs ticks without data — the reason the
  *    reference has a dedicated scanner thread, SURVEY.md §7.4).
  *
  * State per key is O(#limits); the state store scales out with the
  * shuffle partitioning of the key column.
  */
object MavgStream {

  /** One flow contribution: group key (pre-concatenated), event-time ns,
    * measure value (already scale×sampling-rate adjusted). */
  final case class Input(key: String, tsNs: Long, v: Double)

  /** Encoder-friendly flat state. */
  final case class LimStateS(state: Int, timeLast: Long, timeDump: Long,
                             timeB2n: Long, value: Double, limit: Double,
                             b2n: Long)
  final case class KeyState(n: Double, tLast: Long,
                            lims: Map[Int, LimStateS])

  final case class AlertRow(key: String, limitIdx: Int, event: String,
                            value: Double, limit: Double, timeNs: Long)

  final case class Conf(
      windowSec: Long = 5L,       // reference monit-objects.h:12
      defaultLimits: Seq[Double] = Seq.empty,
      back2normSec: Long = 30L,   // reference monit-objects.h:14
      isOver: Boolean = true,
      /** per-overlimit-section hot-reloadable limits files, aligned
        * with `defaultLimits` indices — each section resolves its
        * threshold independently (its file's value for the key, else
        * that section's default), matching the reference's one-file-
        * per-mavg_limit layout (CONFIG.md:438-469). A file edit takes
        * effect on the NEXT micro-batch without restarting the query
        * (reference SIGHUP + mavg_limits_update bank swap,
        * monit-objects-mavg.c:756-774). */
      limitsProviders: Seq[Option[graft.config.Reloadable[
        Map[String, Seq[Double]]]]] = Nil,
      /** processing-time tick for silent keys (reference's 1 s underlimit
        * scanner cadence). <= 0 disables the timer: lifecycle then only
        * advances on arrivals — right for batch replays and tests, where
        * wall-clock ticks against event-time data would churn forever.
        *
        * CLOCK CONTRACT: timer ticks decay state on the PROCESSING
        * clock against event-time `tLast`, which is only coherent when
        * ingestion is near-real-time (event ≈ wall clock) — the same
        * assumption the reference's live collector embodies (its act /
        * underlimit scanner threads run on the capture host's clock,
        * and a live UDP feed cannot lag). Under sustained ingestion lag
        * larger than `windowSec`, wall-clock ticks over-decay and close
        * alerts conservatively; for replays or lag-prone feeds use
        * tickIntervalMs = 0 (arrival-driven lifecycle only). A tick
        * whose wall clock is BEHIND the newest event time is skipped
        * outright (never inflates). */
      tickIntervalMs: Long = 1000L,
      /** per-overlimit-section hysteresis, aligned with `defaultLimits`
        * indices (reference: each mavg_limit carries its own
        * back2norm-time, CONFIG.md:407); indices beyond this seq fall
        * back to the uniform `back2normSec`. */
      back2normsSec: Seq[Long] = Nil)

  private[streaming] def toS(s: LimState): LimStateS =
    LimStateS(s.state match {
      case New => 0; case Update => 1; case AlmostGone => 2; case Gone => 3
    }, s.timeLastNs, s.timeDumpNs, s.timeBack2NormNs, s.value, s.limit,
      s.back2normNs)

  private[streaming] def fromS(s: LimStateS): LimState =
    LimState(s.state match {
      case 0 => New; case 1 => Update; case 2 => AlmostGone; case _ => Gone
    }, s.timeLast, s.timeDump, s.timeB2n, s.value, s.limit, s.b2n)

  /** Wire the stateful processor over a keyed input stream. */
  def apply(input: Dataset[Input], conf: Conf): Dataset[AlertRow] = {
    import input.sparkSession.implicits._
    val timeout =
      if (conf.tickIntervalMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    input
      .groupByKey(_.key)
      .flatMapGroupsWithState[KeyState, AlertRow](
        OutputMode.Append, timeout)(process(conf))
  }

  /** Per-key limit thresholds for one lifecycle instant. */
  private def resolveLimits(conf: Conf, key: String): Seq[Double] =
    // per-section resolution: a key row in one section's file never
    // silences the OTHER sections' checks
    conf.defaultLimits.zipWithIndex.map { case (d, i) =>
      conf.limitsProviders.lift(i).flatten
        .flatMap(_.get().get(key)).flatMap(_.headOption).getOrElse(d)
    }

  /** Per-section hysteresis ns (falls back to the uniform value). */
  private def b2nNs(conf: Conf, i: Int): Long =
    conf.back2normsSec.lift(i).getOrElse(conf.back2normSec) * 1_000_000_000L

  /** Per-key step: fold arrivals (or take a tick instant), check
    * limits, advance the lifecycle, prune finished entries, and decide
    * retirement.
    *
    * @return (new n, new tLast, surviving lim entries, events, retire) —
    *         retire=true means the key's state can be dropped entirely
    *         (overlimit mode, nothing tracked, value fully decayed); the
    *         caller removes its state and stops re-arming its timeout.
    *         Underlimit keys never retire: silence IS their alert
    *         condition, so the watched key set must stay resident —
    *         size underlimit key cardinality accordingly (the reference
    *         has the same property: its underlimit scanner walks a
    *         configured key table, monit-objects-mavg-under.c).
    */
  private def step(conf: Conf, key: String, rows: Seq[Input],
      n0: Double, tLast0: Long, lims0: Map[Int, LimState],
      tickNowNs: Option[Long])
      : (Double, Long, Map[Int, LimState], Seq[AlertRow], Boolean) = {
    val windowNs = conf.windowSec * 1_000_000_000L
    val limitVals = resolveLimits(conf, key)
    var n = n0
    var tLast = tLast0
    var lims = lims0
    val out = Seq.newBuilder[AlertRow]
    var nowNs = 0L

    tickNowNs match {
      case Some(t) =>
        // clock guard: tick time is the PROCESSING clock, tLast is event
        // time — if the wall clock is behind the newest event (skew,
        // replay), decaying would run time backwards and INFLATE the
        // average; skip the tick instead (see Conf.tickIntervalMs doc)
        if (tLast == Long.MinValue || t > tLast) nowNs = t
      case None =>
        // fold arrivals in event order (decay recurrence per arrival,
        // reference mavg_recalc monit-objects-mavg.c:571-593)
        rows.sortBy(r => (r.tsNs, r.v)).foreach { r =>
          val dt = (r.tsNs - tLast).toDouble
          n =
            if (tLast == Long.MinValue || dt >= windowNs) r.v
            // late cross-batch row: the value still contributes, but the
            // clock never runs backwards (a negative dt in the recurrence
            // would INFLATE n; the reference's capture clock is monotone
            // so this case does not exist there)
            else if (dt <= 0) n + r.v
            else n - dt / windowNs * n + r.v
          tLast = if (tLast == Long.MinValue) r.tsNs else math.max(tLast, r.tsNs)
          nowNs = tLast
          // limit check per arrival (mavg_limits_check:535-569)
          limitVals.zipWithIndex.foreach { case (limit, i) =>
            val perSec = n / conf.windowSec
            val breach = if (conf.isOver) perSec >= limit else perSec <= limit
            if (breach) {
              lims += i ->
                onBreach(lims.get(i), nowNs, perSec, limit, b2nNs(conf, i))
            }
          }
        }
    }

    if (nowNs > 0L) {
      // underlimit scan at ANY lifecycle instant (arrival or silent
      // tick) — the reference's dedicated scanner thread
      // (monit-objects-mavg-under.c:35-98), BOTH of its branches:
      //  - absent entry at/below the limit → insert (before r11 this
      //    was skipped on the timeout path, so a key that went silent
      //    while healthy could never start its underlimit alert);
      //  - EXISTING entry → REFRESH value/time/limit to the key's
      //    CURRENT decayed rate unconditionally (file:57-66). The
      //    refresh is what lets the lifecycle END on recovery: the
      //    act tick then sees the rate back above the limit, starts
      //    the hysteresis clock, and fires Ended — without it the
      //    stale under-limit snapshot keeps "breaching" forever and a
      //    recovered key's alert never closes. (The reference's
      //    Gone→New revival at file:68-71 is covered by pruning Gone
      //    entries below: the next scan re-inserts them as New —
      //    behaviorally identical.)
      if (!conf.isOver) {
        val decayedN =
          if (tLast == Long.MinValue || nowNs > tLast + windowNs) 0.0
          else n - (nowNs - tLast).toDouble / windowNs * n
        limitVals.zipWithIndex.foreach { case (limit, i) =>
          val perSec = decayedN / conf.windowSec
          lims.get(i) match {
            case Some(s) =>
              lims += i -> s.copy(timeLastNs = nowNs, value = perSec,
                limit = limit, back2normNs = b2nNs(conf, i))
            case None =>
              if (perSec <= limit)
                lims += i ->
                  onBreach(None, nowNs, perSec, limit, b2nNs(conf, i))
          }
        }
      }
      // lifecycle tick (reference act thread)
      lims = lims.map { case (i, s0) =>
        val (s1, evs) = onTick(s0, nowNs, windowNs, conf.isOver)
        evs.foreach { e =>
          val (nm, v) = e match {
            case Started(v0, _) => ("start", v0)
            case Updated(v0)    => ("update", v0)
            case Ended(v0)      => ("end", v0)
          }
          out += AlertRow(key, i, nm, v, s1.limit, nowNs)
        }
        i -> s1
      }
      // Gone entries are behaviorally identical to absent ones (onBreach
      // restarts both as New, onTick no-ops) — prune so state shrinks
      // back after an episode instead of growing with limit count
      lims = lims.filter { case (_, s) => s.state != Gone }
    }

    // retirement: an overlimit key with nothing tracked and a fully
    // decayed value is indistinguishable from a never-seen key — drop
    // it so state size follows ACTIVE keys, not lifetime cardinality
    // (the reference's fixed-size hash tables recycle the same way)
    val retire = conf.isOver && lims.isEmpty && nowNs > 0L &&
      (tLast == Long.MinValue || nowNs > tLast + windowNs)
    (n, tLast, lims, out.result(), retire)
  }

  /** The per-key update function (public for deterministic testing). */
  def process(conf: Conf)(
      key: String, rows: Iterator[Input],
      state: GroupState[KeyState]): Iterator[AlertRow] = {
    val st = state.getOption.getOrElse(KeyState(0.0, Long.MinValue, Map.empty))
    val lims0: Map[Int, LimState] =
      st.lims.map { case (i, s) => i -> fromS(s) }
    val tick =
      if (state.hasTimedOut)
        Some(state.getCurrentProcessingTimeMs() * 1_000_000L)
      else None
    val (n, tLast, lims, events, retire) =
      step(conf, key, if (tick.isDefined) Nil else rows.toSeq,
        st.n, st.tLast, lims0, tick)
    if (retire) state.remove()
    else {
      state.update(KeyState(n, tLast,
        lims.map { case (i, s) => i -> toS(s) }))
      if (conf.tickIntervalMs > 0)
        state.setTimeoutDuration(conf.tickIntervalMs)
    }
    events.iterator
  }
}
