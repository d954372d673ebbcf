package graft.operators

import graft.streaming.AlertMachine
import graft.streaming.AlertMachine.LimState
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch replay of the alert lifecycle machine over a keyed time
  * series: the audit/backfill mirror of the live path.
  *
  * The reference's act thread walks every tracked item once per scan
  * and advances the overlimit state machine
  * (monit-objects-mavg-act.c:342-444); the streaming analog here is
  * [[graft.streaming.MavgStream]]. This operator answers the OFFLINE
  * question the same engine leaves to scripts: "given the historical
  * per-key series, what alerts WOULD have fired, when, and with what
  * values?" — one deterministic pass of the SAME pure machine
  * ([[AlertMachine]]) over a tick grid, so batch backfill, the live
  * stream, and the unit model can never disagree on lifecycle
  * semantics.
  *
  * Scale shape: one shuffle (groupByKey on the series key), then each
  * key's timeline replays independently inside its group — no driver
  * collect, no cross-key state. Per-group memory is O(nTicks) (the
  * dense value array), bounded by the caller's grid, NOT by the input
  * row count; millions of keys parallelize across executors. Ticks are
  * abstract grid indices (callers bucket wall time however they like);
  * the machine's 3-unit update cadence, the decay window and the
  * hysteresis are all expressed in ticks.
  *
  * @param series        (key, idx, value, limit) rows; idx in
  *                      [0, nTicks), missing idx = no traffic that
  *                      tick (the machine decays through it). Multiple
  *                      rows per (key, idx) are summed. `limit` is
  *                      per-key: supply one constant per key (config
  *                      join upstream); if in-grid rows disagree, the
  *                      MAXIMUM wins — a deterministic, shuffle-order-
  *                      independent rule (rows outside the grid never
  *                      contribute a limit).
  * @param nTicks        grid length; every key ticks over the full grid
  * @param windowTicks   decay window (reference act():391-397)
  * @param back2normTicks hysteresis before Ended fires
  * @return (key, t, ev, val): ev in started/updated/ended, val = the
  *         machine's (decayed) value at emission — started/updated
  *         refresh the notification file, ended removes it
  */
object AlertTimeline {

  val outSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("ev", StringType, nullable = false),
    StructField("val", DoubleType, nullable = false)))

  def replay(series: DataFrame, keyCol: String, idxCol: String,
             valueCol: String, limitCol: String, nTicks: Int,
             windowTicks: Int = 8, back2normTicks: Int = 2): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    series
      .select(col(keyCol).cast(LongType), col(idxCol).cast(LongType),
        col(valueCol).cast(DoubleType), col(limitCol).cast(DoubleType))
      // a NULL key/idx/value/limit row (all-NULL sum, missed limit
      // join) is a poison pill for the non-nullable tuple encoder —
      // same guard Pipeline puts before MavgStream.Input
      .where(col(keyCol).isNotNull && col(idxCol).isNotNull &&
        col(valueCol).isNotNull && col(limitCol).isNotNull)
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        // dense per-tick values: O(nTicks) regardless of input size
        val v = new Array[Double](nTicks)
        val seen = new Array[Boolean](nTicks)
        var limit = Double.NaN
        it.foreach { case (_, i, value, lim) =>
          if (i >= 0 && i < nTicks) {
            v(i.toInt) += value
            seen(i.toInt) = true
            // max, not first-seen: the group iterator's order after the
            // shuffle is not stable, and the replay must be
            limit = if (limit.isNaN) lim else math.max(limit, lim)
          }
        }
        var st: Option[LimState] = None
        val out = Seq.newBuilder[Row]
        (0 until nTicks).foreach { i =>
          st = AlertMachine.replayTick(st, i, seen(i), v(i), limit,
            windowTicks, back2normTicks)((ev, x) =>
            out += Row(key, i.toLong, ev, x))
        }
        out.result().iterator
      }(enc)
  }
}
