package graft

import graft.streaming.MavgStream
import graft.streaming.MavgStream.{AlertRow, Conf, Input}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end Structured Streaming drive of the mavg stateful processor
  * over a MemoryStream (deterministic: alerts fire on the data path). */
class MavgStreamSpec extends SparkTest {

  test("overlimit alert fires through a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val S = 1_000_000_000L
    val mem = MemoryStream[Input]
    val alerts = MavgStream(mem.toDS(),
      Conf(windowSec = 5, defaultLimits = Seq(100.0),
        back2normSec = 30, isOver = true, tickIntervalMs = 0))

    val q = alerts.writeStream
      .format("memory").queryName("mavg_alerts")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // batch 1: key a ramps over the limit (v/T = 600/5 = 120 ≥ 100),
      // key b stays under (10/5 = 2)
      mem.addData(
        Input("a", 10 * S, 600.0), Input("b", 10 * S, 10.0))
      q.processAllAvailable()
      // batch 2: another arrival advances the machine (NEW → UPDATE fires)
      mem.addData(Input("a", 11 * S, 500.0))
      q.processAllAvailable()

      val rows = spark.table("mavg_alerts").as[AlertRow].collect().toSeq
      assert(rows.exists(r => r.key == "a" && r.event == "start"),
        s"expected a start alert, got $rows")
      assert(!rows.exists(r => r.key == "b"), s"key b must not alert: $rows")
    } finally q.stop()
  }

  test("processor is deterministic when driven directly (no timeouts)") {
    // call the per-key function like the state store would
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 30, isOver = true, tickIntervalMs = 0)
    val state = new TestGroupState[MavgStream.KeyState]
    val S = 1_000_000_000L
    val out1 = MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 600.0)), state).toSeq
    // breach inserts NEW and the end-of-batch tick fires Started at once
    // (one batch earlier than the reference's 100ms act-thread lag)
    assert(out1.exists(_.event == "start"))
    val out2 = MavgStream.process(conf)("a",
      Iterator(Input("a", 11 * S, 1.0)), state).toSeq
    assert(!out2.exists(_.event == "start"), "no duplicate start")
  }

  test("a key that goes silent while HEALTHY starts its underlimit " +
    "alert from a timeout tick (r11: seeding used to need an arrival)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 30, isOver = false, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    // healthy: 1000/5 = 200/s > 100 → NO underlimit entry is inserted
    val out1 = MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 1000.0)), state).toSeq
    assert(out1.isEmpty && state.get.lims.isEmpty,
      s"healthy key must not alert: $out1")
    // silence: wall-clock tick at 20s → decayed value 0 ≤ 100 → the
    // entry seeds AND the same tick fires Started
    state.timedOut = true
    state.processingTimeMs = 20_000L
    val out2 = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out2.count(_.event == "start") == 1,
      s"silent key must start its underlimit alert, got $out2")
  }

  test("late cross-batch rows contribute without inflating the decayed " +
    "average, and the clock never runs backwards") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 30, isOver = true, tickIntervalMs = 0)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 400.0)), state).toSeq // 80/s, no breach
    // late row (ts 6 < tLast 10): naive recurrence would compute
    // n = 400·(1+4/5)+10 = 730 → 146/s → spurious overlimit Started
    val out = MavgStream.process(conf)("a",
      Iterator(Input("a", 6 * S, 10.0)), state).toSeq
    assert(out.isEmpty, s"late row must not inflate into a breach: $out")
    assert(state.get.n == 410.0 && state.get.tLast == 10 * S,
      s"expected additive contribution with a monotone clock: ${state.get}")
  }

  test("overlimit state retires after the episode ends and the value " +
    "fully decays (state size follows active keys, not lifetime keys)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 2, isOver = true, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    val out1 = MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 600.0)), state).toSeq
    assert(out1.exists(_.event == "start"))
    // 16s: value decayed past the window → ALMOST_GONE (b2n clock runs)
    state.timedOut = true
    state.processingTimeMs = 16_000L
    MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(state.exists, "mid-hysteresis state must persist")
    // 19s: past 16+2 → Ended fires, the Gone entry prunes, and the key
    // retires entirely — indistinguishable from never-seen
    state.processingTimeMs = 19_000L
    val out3 = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out3.count(_.event == "end") == 1, s"got $out3")
    assert(!state.exists, "retired key must drop its state")
    // a fresh breach later restarts cleanly from empty state
    state.timedOut = false
    val out4 = MavgStream.process(conf)("a",
      Iterator(Input("a", 30 * S, 600.0)), state).toSeq
    assert(out4.exists(_.event == "start"), s"restart after retire: $out4")
  }

  test("per-section back2norm hysteresis: each overlimit section ends " +
    "on ITS OWN clock (r11: first section's value applied to all)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0, 100.0),
      back2normSec = 30, back2normsSec = Seq(2L, 30L),
      isOver = true, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    val out1 = MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 600.0)), state).toSeq
    assert(out1.count(_.event == "start") == 2)
    state.timedOut = true
    state.processingTimeMs = 16_000L // both sections → ALMOST_GONE
    MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    state.processingTimeMs = 19_000L // past 16+2 but NOT 16+30
    val out3 = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out3.count(_.event == "end") == 1 &&
      out3.exists(r => r.event == "end" && r.limitIdx == 0),
      s"only the 2s-hysteresis section may end: $out3")
    assert(state.exists, "section 1 still mid-hysteresis → state stays")
  }

  test("a tick whose wall clock is behind the newest event time is " +
    "skipped (clock-skew guard: decay must never run backwards)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 30, isOver = true, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    MavgStream.process(conf)("a",
      Iterator(Input("a", 100 * S, 600.0)), state).toSeq
    val before = state.get
    state.timedOut = true
    state.processingTimeMs = 50_000L // wall 50s < event 100s
    val out = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out.isEmpty && state.get == before,
      s"skewed tick must be a no-op: $out, ${state.get}")
  }

  test("timeout path ticks silent keys (underlimit scanner analog)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 30, isOver = false, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    // arrival at rate 10/s ≤ 100 → underlimit breach inserted
    val out1 = MavgStream.process(conf)("a",
      Iterator(Input("a", 10 * S, 50.0)), state).toSeq
    assert(out1.exists(_.event == "start") || state.get.lims.nonEmpty)
    // timeout tick with no data advances the machine on wall-clock
    state.timedOut = true
    state.processingTimeMs = 20_000L
    val out2 = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out2.exists(r => r.event == "start" || r.event == "update"),
      s"expected lifecycle events on timeout tick, got $out2")
  }

  test("underlimit alert ENDS after the rate recovers (the scanner's " +
    "per-scan value refresh, monit-objects-mavg-under.c:57-66)") {
    val conf = Conf(windowSec = 5, defaultLimits = Seq(100.0),
      back2normSec = 2, isOver = false, tickIntervalMs = 1000)
    val S = 1_000_000_000L
    val state = new TestGroupState[MavgStream.KeyState]
    def feed(ts: Long, v: Double) = MavgStream.process(conf)("a",
      Iterator(Input("a", ts * S, v)), state).toSeq
    // rate 50/5 = 10/s ≤ 100 → entry inserts, Started fires on the tick
    val out1 = feed(10, 50.0)
    assert(out1.count(_.event == "start") == 1, out1.toString)
    // RECOVERY: rate jumps to ~1000/s > 100. The scanner refresh must
    // overwrite the stale under-limit snapshot with the current rate,
    // so the act tick sees not-breaching and starts the hysteresis
    // clock (t=12) — no end yet
    val out2 = feed(12, 5000.0)
    assert(!out2.exists(_.event == "end"), out2.toString)
    // hysteresis (2 s) elapsed at t=15 while still recovered → Ended
    // exactly once; without the refresh the entry's value stays ~10/s
    // (< limit = "breaching" for underlimit) and the alert never ends
    val out3 = feed(15, 5000.0)
    assert(out3.count(_.event == "end") == 1, out3.toString)
    // the episode is closed: the entry is pruned, and a LATER silence
    // re-seeds a fresh alert (the reference's Gone→New revival)
    state.timedOut = true
    state.processingTimeMs = 60_000L
    val out4 = MavgStream.process(conf)("a", Iterator.empty, state).toSeq
    assert(out4.count(_.event == "start") == 1,
      s"re-silenced key must start a fresh underlimit alert: $out4")
  }

  test("hysteresis timeline survives a query restart (no duplicate " +
    "start, end fires on schedule)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val S = 1_000_000_000L
    val mem = MemoryStream[Input]
    // window 5 s, limit 100/s, hysteresis 30 s; ticks ride the data path
    // (tickIntervalMs = 0) so the lifecycle is event-time deterministic
    val alerts = MavgStream(mem.toDS(),
      Conf(windowSec = 5, defaultLimits = Seq(100.0),
        back2normSec = 30, isOver = true, tickIntervalMs = 0))
    val ckpt = java.nio.file.Files.createTempDirectory("mavg_restart")
    // memory sink can't recover from a checkpoint; foreachBatch can
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[AlertRow]()
    def run(body: => Unit): Seq[AlertRow] = {
      sunk.clear()
      val q = alerts.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: Dataset[AlertRow], _: Long) =>
          b.collect().foreach(sunk.add); ()
        }
        .start()
      try { body; sunk.toArray(Array.empty[AlertRow]).toSeq }
      finally q.stop()
    }
    // phase 1: breach at t=10 (600/5 = 120 ≥ 100) → NEW → Started;
    // quiet row at t=15 decays the value to 0 → ALMOST_GONE with
    // back2norm clock started at t=15 (GONE due after t=45)
    val p1 = run {
      mem.addData(Input("a", 10 * S, 600.0))
      spark.streams.active.foreach(_.processAllAvailable())
      mem.addData(Input("a", 15 * S, 1.0))
      spark.streams.active.foreach(_.processAllAvailable())
    }
    assert(p1.count(r => r.key == "a" && r.event == "start") == 1, p1)
    assert(!p1.exists(_.event == "end"), p1)

    // phase 2: new query, same checkpoint — the state store must restore
    // the mid-ALMOST_GONE machine. t=20 is inside the hysteresis
    // window (must NOT re-fire start: the key is not (absent)); t=50
    // is past 15+30 → Ended fires exactly once.
    val p2 = run {
      mem.addData(Input("a", 20 * S, 1.0))
      spark.streams.active.foreach(_.processAllAvailable())
      mem.addData(Input("a", 50 * S, 1.0))
      spark.streams.active.foreach(_.processAllAvailable())
    }
    assert(!p2.exists(_.event == "start"),
      s"restart must not re-fire start (state lost?): $p2")
    assert(p2.count(r => r.key == "a" && r.event == "end") == 1,
      s"expected exactly one end after hysteresis: $p2")
  }
}

/** Minimal GroupState stub for direct processor tests. */
class TestGroupState[T] extends org.apache.spark.sql.streaming.GroupState[T] {
  private var v: Option[T] = None
  var timedOut: Boolean = false
  var processingTimeMs: Long = 0L
  override def exists: Boolean = v.isDefined
  override def get: T = v.get
  override def getOption: Option[T] = v
  override def update(newValue: T): Unit = v = Some(newValue)
  override def remove(): Unit = v = None
  override def hasTimedOut: Boolean = timedOut
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long,
    additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date,
    additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = processingTimeMs
}
