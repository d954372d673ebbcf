package graft.streaming

/** Pure alert state machine for mavg threshold events, replicated from the
  * reference's act thread (reference monit-objects-mavg-act.c:342-444 and
  * merge logic check_items:446-531).
  *
  * Lifecycle per (group key, limit id):
  * {{{
  *   (absent) --breach--> NEW --tick--> UPDATE        [fires Start action]
  *   UPDATE: breach keeps it UPDATE; decayed value back past the limit
  *           → ALMOST_GONE (hysteresis clock starts)
  *   ALMOST_GONE: re-breach → UPDATE; after back2norm-time
  *           → GONE                                    [fires Stop action]
  *   GONE --breach--> NEW again                        [restart]
  * }}}
  * The periodic notification-file refresh (3 s cadence in the reference)
  * surfaces as Updated events.
  *
  * The machine is pure (state in, state+events out) so it is testable as a
  * scalar model and drives both the streaming stateful processor and any
  * foreachBatch alert sink.
  */
object AlertMachine {

  sealed trait St
  case object New        extends St // inserted, action not yet fired
  case object Update     extends St // active alert
  case object AlmostGone extends St // below limit, hysteresis running
  case object Gone       extends St // finished; next breach restarts

  /** All times in nanoseconds like the reference. */
  final case class LimState(
      state: St,
      timeLastNs: Long,     // last breach-update time
      timeDumpNs: Long,     // last notification write
      timeBack2NormNs: Long,// when value first went back past the limit
      value: Double,        // decayed mavg value at timeLast
      limit: Double,
      back2normNs: Long)    // configured hysteresis

  sealed trait Event
  /** Alert start → action-script + notification file
    * (reference on_limit, STEP-BY-STEP.md:938-969). */
  final case class Started(value: Double, limit: Double) extends Event
  /** Periodic refresh of the notification file (on_update). */
  final case class Updated(value: Double) extends Event
  /** Alert end → back2norm-script, notification file removed. */
  final case class Ended(value: Double) extends Event

  val updateCadenceNs: Long = 3_000_000_000L // reference act():427

  /** One grid tick of the keyed replays ([[graft.operators.AlertTimeline]]
    * and [[AlertTimelineStream]]) = one machine second. */
  private[graft] val TickNs: Long = 1_000_000_000L

  /** A worker detected value ≥ limit (or ≤ for underlimit) and inserted
    * the item (reference check_items:446-531). */
  def onBreach(st: Option[LimState], nowNs: Long, value: Double,
               limit: Double, back2normNs: Long): LimState = st match {
    case None =>
      LimState(New, nowNs, 0L, 0L, value, limit, back2normNs)
    case Some(s) => s.state match {
      case Update =>
        // refresh time always; value/limit only refresh while the dump is
        // fresh (reference quirk at check_items:477-489 — kept as-is)
        if (s.timeDumpNs + updateCadenceNs < nowNs)
          s.copy(timeLastNs = nowNs)
        else s.copy(timeLastNs = nowNs, value = value, limit = limit)
      case Gone =>
        LimState(New, nowNs, 0L, 0L, value, limit, back2normNs)
      case New | AlmostGone => s // untouched (check_items:501)
    }
  }

  /** Periodic scan step (reference act():342-444).
    * @param isOver true = overlimit alert, false = underlimit mirror */
  def onTick(s: LimState, nowNs: Long, windowNs: Long,
             isOver: Boolean): (LimState, Seq[Event]) = s.state match {
    case Gone => (s, Nil)
    case New =>
      (s.copy(state = Update, timeDumpNs = nowNs),
        Seq(Started(s.value, s.limit)))
    case Update | AlmostGone =>
      // decay the stored value to "now" without new traffic (act():391-397)
      val decayed =
        if (nowNs > s.timeLastNs + windowNs) 0.0
        else s.value - (nowNs - s.timeLastNs).toDouble / windowNs * s.value
      val breaching = if (isOver) decayed > s.limit else decayed < s.limit
      var st = s
      if (breaching) {
        st = st.copy(state = Update, timeBack2NormNs = 0L)
      } else if (st.state == Update) {
        st = st.copy(state = AlmostGone, timeBack2NormNs = nowNs)
      }
      if (st.state == AlmostGone &&
          nowNs > st.timeBack2NormNs + st.back2normNs) {
        (st.copy(state = Gone), Seq(Ended(decayed)))
      } else if (st.timeDumpNs + updateCadenceNs <= nowNs) {
        (st.copy(timeDumpNs = nowNs), Seq(Updated(decayed)))
      } else {
        (st, Nil)
      }
  }

  /** One step of a keyed tick-grid replay: a breach check of tick `t`'s
    * summed value (when the tick saw traffic) against the limit, then
    * the scan step. Each event reaches `emit` as a timeline row's
    * (ev, value): started, updated or ended. Returns the machine after
    * the tick; None while the key has never breached. */
  private[graft] def replayTick(st: Option[LimState], t: Long,
      seen: Boolean, v: Double, limit: Double, windowTicks: Int,
      back2normTicks: Int)(emit: (String, Double) => Unit)
      : Option[LimState] = {
    val nowNs = t * TickNs
    val cur =
      if (seen && v > limit)
        Some(onBreach(st, nowNs, v, limit, back2normTicks * TickNs))
      else st
    cur.map { c =>
      val (next, events) =
        onTick(c, nowNs, windowTicks * TickNs, isOver = true)
      events.foreach {
        case Started(x, _) => emit("started", x)
        case Updated(x)    => emit("updated", x)
        case Ended(x)      => emit("ended", x)
      }
      next
    }
  }
}
