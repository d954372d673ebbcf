package graft.streaming

import graft.streaming.AlertMachine.LimState
import graft.streaming.MavgStream.LimStateS
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** STREAMING replay of the alert lifecycle over a keyed tick grid —
  * the live mirror of [[graft.operators.AlertTimeline]]'s batch
  * replay, built on `transformWithState` EVENT-TIME timers.
  *
  * The reference needs a dedicated scanner thread because alert decay
  * and hysteresis must advance on ticks WITHOUT traffic
  * (monit-objects-mavg-act.c:569-592); [[MavgStream]] models that with
  * processing-time timeouts, which is right live but non-deterministic
  * in a replay. Here the silent-key tick is an event-time timer chain:
  * each key registers a timer for its next unprocessed tick, and the
  * WATERMARK — not the wall clock — decides when a tick is complete
  * (all of its data has arrived) and may fire. The result is a fully
  * deterministic streaming lifecycle: identical output to the batch
  * replay for the same series however the input is micro-batched, and
  * across a stop/restart from the checkpoint mid-trace (q109 proves
  * both against the q82 DuckDB oracle).
  *
  * Mechanics per key:
  *  - `handleInputRows` only BUFFERS (tick → value sums, max limit)
  *    and arms the timer chain at the key's first unprocessed tick;
  *    nothing is decided on arrival, because the current tick's data
  *    may still be incomplete;
  *  - when the watermark passes tick t, the timer fires and the
  *    machine advances through EVERY complete tick ≤ watermark in one
  *    callback (breach check against the buffered sum, then the scan
  *    step: [[AlertMachine.replayTick]], the batch replay's own tick
  *    step), emits the events, drops the consumed buffer entries, and
  *    re-arms for the next tick;
  *  - past `nTicks` the chain stops and the key's state clears.
  *
  * Scale shape: state per key is O(watermark lag) buffered ticks plus
  * one machine — bounded, keys shard across the state store exactly
  * like [[MavgStream]]. The ONLY ordering assumption is the watermark
  * contract itself (no rows for tick t after the watermark passes t),
  * which the caller's `withWatermark` declares.
  *
  * '''Limit semantics caveat (live deployments).''' The per-key limit
  * is folded as `max` over every observation seen so far — the same
  * rule as the batch replay, chosen because micro-batch arrival order
  * within a tick is not stable and the replay must be deterministic.
  * Consequence: if limits hot-reload mid-trace (the
  * [[graft.config.Reloadable]] path), a RAISED limit applies to all
  * ticks processed after it arrives, but a LOWERED one is ignored —
  * the old max wins retroactively. A live pipeline that needs
  * hot-reloaded limits to take effect downward should use
  * [[MavgStream]], which reads the limit per wall-clock evaluation from
  * the reloadable config rather than folding it into keyed state.
  *
  * @param nTicks         grid length; ticks are 1-second grid slots
  *                       with tick t at event-time second `epoch0 + t`
  * @param epoch0         event-time second of tick 0
  * @param windowTicks    decay window (reference act():391-397)
  * @param back2normTicks hysteresis before Ended fires
  */
class AlertTimelineStreamProcessor(nTicks: Int, epoch0: Long,
    windowTicks: Int, back2normTicks: Int)
    extends StatefulProcessor[Long, AlertTimelineStream.Tick,
      AlertTimelineStream.Event] {
  import AlertTimelineStream.{Buf, Event, State, Tick}

  @transient private var state: ValueState[State] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[State]("timeline",
      Encoders.product[State], TTLConfig.NONE)
  }

  private def tickMs(t: Long): Long = (epoch0 + t) * 1000L

  override def handleInputRows(key: Long, rows: Iterator[Tick],
      timerValues: TimerValues): Iterator[Event] = {
    val st0 = Option(state.get()).getOrElse(
      State(-1L, Double.NaN, hasSt = false,
        LimStateS(0, 0L, 0L, 0L, 0.0, 0.0, 0L), Seq.empty))
    var buf = st0.buf.map(b => b.idx -> b.v).toMap
    var limit = st0.limit
    var first = Long.MaxValue
    rows.foreach { r =>
      if (r.idx >= 0 && r.idx < nTicks) {
        buf += r.idx -> (buf.getOrElse(r.idx, 0.0) + r.v)
        // max, not first-seen: batch order is not stable, the replay
        // must be (same rule as the batch AlertTimeline)
        limit = if (limit.isNaN) r.lim else math.max(limit, r.lim)
        first = math.min(first, r.idx)
      }
    }
    // a key whose rows all fell outside [0, nTicks) — e.g. a
    // watermark-sentinel key — must not mint state: nothing was
    // buffered, no timer will ever fire for it, and state is only
    // cleared in the timer path, so an update here would be permanent
    if (first == Long.MaxValue && state.get() == null)
      return Iterator.empty
    val nextTick =
      if (st0.nextTick >= 0) st0.nextTick
      else if (first == Long.MaxValue) -1L
      else first
    state.update(st0.copy(nextTick = nextTick, limit = limit,
      buf = buf.toSeq.sortBy(_._1).map { case (i, v) => Buf(i, v) }))
    // arm the chain at the key's first unprocessed tick; ONE timer per
    // key at any instant (an unconditional register would mint one
    // chain per data batch)
    if (nextTick >= 0 && !getHandle.listTimers().hasNext)
      getHandle.registerTimer(tickMs(nextTick))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Event] = {
    val st0 = Option(state.get()).getOrElse {
      return Iterator.empty // retired key; stale timer
    }
    val wmMs = timerValues.getCurrentWatermarkInMs()
    var buf = st0.buf.map(b => b.idx -> b.v).toMap
    var machine: Option[LimState] =
      if (st0.hasSt) Some(MavgStream.fromS(st0.st)) else None
    var t = st0.nextTick
    val out = Seq.newBuilder[Event]
    // every COMPLETE tick at once: the watermark may have jumped a
    // whole micro-batch of input files past the armed tick
    while (t < nTicks && tickMs(t) <= wmMs) {
      val v = buf.get(t)
      buf -= t
      machine = AlertMachine.replayTick(machine, t, v.isDefined,
        v.getOrElse(0.0), st0.limit, windowTicks, back2normTicks)(
        (ev, x) => out += Event(key, t, ev, x))
      t += 1
    }
    if (t >= nTicks) state.clear() // grid done: state follows live keys
    else {
      state.update(State(t, st0.limit, machine.isDefined,
        machine.map(MavgStream.toS).getOrElse(st0.st),
        buf.toSeq.sortBy(_._1).map { case (i, v) => Buf(i, v) }))
      getHandle.registerTimer(tickMs(t))
    }
    out.result().iterator
  }
}

object AlertTimelineStream {
  /** One series observation: grid tick, value contribution, limit. */
  final case class Tick(key: Long, idx: Long, v: Double, lim: Double)

  /** Emitted lifecycle event (the q82 timeline row shape). */
  final case class Event(key: Long, t: Long, ev: String, value: Double)

  /** Avro-friendly flat state (no Map/Option columns). */
  final case class Buf(idx: Long, v: Double)
  final case class State(nextTick: Long, limit: Double, hasSt: Boolean,
                         st: LimStateS, buf: Seq[Buf])

  /** Wire over a keyed tick stream. `input` must carry a watermark on
    * its event-time column (tick t ↔ second `epoch0 + t`) — the
    * watermark IS the tick-completeness signal the timers fire on.
    *
    * CONTRACT (enforced): no row filter may sit between the watermark
    * and this operator. Catalyst's PushPredicateThroughNonJoin pushes
    * any non-ts predicate BELOW EventTimeWatermark, so a
    * `.filter(key =!= sentinel)` written after `withWatermark` drops
    * the row before its event time is sampled — the watermark then
    * never passes the grid end and the tail ticks never fire (the
    * exact silent q109 bug). Rows a key doesn't want are ignored
    * statelessly by the processor's idx∈[0,nTicks) guard instead;
    * filters applied BEFORE the watermark are the caller's explicit
    * pre-watermark semantics and remain allowed. */
  def apply(input: Dataset[Tick], nTicks: Int, epoch0: Long,
            windowTicks: Int = 8,
            back2normTicks: Int = 2): Dataset[Event] = {
    import input.sparkSession.implicits._
    assertNoFilterAboveWatermark(input)
    input
      .groupByKey(_.key)
      .transformWithState(
        new AlertTimelineStreamProcessor(nTicks, epoch0, windowTicks,
          back2normTicks),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The q109 sentinel guard, promoted onto the operator so the
    * contract travels with it: reject any Filter that is an ancestor
    * of the EventTimeWatermark node in the ANALYZED plan (that is
    * precisely the shape the optimizer reorders below the watermark).
    * Checked pre-optimization so the guard sees the filter where the
    * caller wrote it, before pushdown hides it inside the subtree. */
  private def assertNoFilterAboveWatermark(input: Dataset[_]): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      EventTimeWatermark, Filter}
    val plan = input.queryExecution.analyzed
    plan.collectFirst { case w: EventTimeWatermark => w }.foreach { wm =>
      val below = wm.collect { case f: Filter => f }.toSet
      val offenders = plan.collect {
        case f: Filter if !below(f) => f }
      require(offenders.isEmpty,
        "AlertTimelineStream: a row filter sits between the watermark " +
          "and the processor — Catalyst pushes it below " +
          "EventTimeWatermark, dropping rows (e.g. the grid-end " +
          "sentinel) before their event time is sampled. Filter " +
          s"before withWatermark instead: $offenders")
    }
  }
}
