package graft

import graft.operators.Mavg
import graft.streaming.AlertMachine
import graft.streaming.AlertMachine._

class MavgSpec extends SparkTest {

  test("decayedFinal integer recurrence per key") {
    val df = flowDf(Seq("k", "ts", "id", "v"), Seq(
      Seq(1L, 100L, 1L, 600L),
      Seq(1L, 200L, 2L, 600L),   // dt=100<600: 600-100*600/600+600=1100
      Seq(1L, 1000L, 3L, 50L),   // dt=800>=600: reset to 50
      Seq(2L, 100L, 4L, 10L)))
    val out = Mavg.decayedFinal(df,
        Mavg.Conf(Seq("k"), "ts", "id", "v", windowSec = 600))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, 50L, 1000L), (2L, 10L, 100L)))
  }

  test("same-second arrivals are order-independent (dt=0 adds linearly)") {
    val df = flowDf(Seq("k", "ts", "id", "v"), Seq(
      Seq(1L, 100L, 9L, 7L), Seq(1L, 100L, 1L, 5L), Seq(1L, 100L, 5L, 3L)))
    val out = Mavg.decayedFinal(df,
      Mavg.Conf(Seq("k"), "ts", "id", "v", 600)).collect()
    assert(out(0).getLong(1) == 15L)
  }

  test("limits CSV parse (CONFIG.md:438-469)") {
    val csv = """# fields = ["src host", "proto", "packets"]
      |1.2.3.4,1,100000
      |
      |1.2.3.4,17,200000
      |1.2.3.5,6,200000""".stripMargin
    val m = Mavg.parseLimitsCsv(csv, 2)
    assert(m(Seq("1.2.3.4", "17")) == Seq(200000.0))
    assert(m.size == 3)
  }
}

class AlertMachineSpec extends SparkTest {
  private val S = 1_000_000_000L // ns per sec
  private val wnd = 5 * S

  test("full overlimit lifecycle (monit-objects-mavg-act.c:342-444)") {
    // breach inserts NEW
    val s0 = onBreach(None, 10 * S, 120.0, 100.0, 30 * S)
    assert(s0.state == New)
    // first tick fires Started, state → UPDATE
    val (s1, e1) = onTick(s0, 10 * S + 1, wnd, isOver = true)
    assert(s1.state == Update && e1 == Seq(Started(120.0, 100.0)))
    // still breaching (decayed 120*(1-1/5)=96 < 100? choose closer tick)
    val (s2, e2) = onTick(s1, 10 * S + 100, wnd, isOver = true)
    assert(s2.state == Update && e2.isEmpty)
    // decayed below limit → ALMOST_GONE, hysteresis starts
    val (s3, _) = onTick(s2, 12 * S, wnd, isOver = true)
    assert(s3.state == AlmostGone && s3.timeBack2NormNs == 12 * S)
    // re-breach while ALMOST_GONE → back to UPDATE via tick after breach
    val s4 = onBreach(Some(s3), 13 * S, 130.0, 100.0, 30 * S)
    assert(s4.state == AlmostGone) // breach doesn't touch ALMOST_GONE...
    val (s5, _) = onTick(s4.copy(value = 130.0, timeLastNs = 13 * S),
      13 * S + 1, wnd, isOver = true)
    assert(s5.state == Update)     // ...the next tick re-promotes it
    // below limit again, wait past back2norm → Ended + GONE
    val (s6, _) = onTick(s5, 20 * S, wnd, isOver = true)
    assert(s6.state == AlmostGone)
    val (s7, e7) = onTick(s6, 20 * S + 31 * S, wnd, isOver = true)
    assert(s7.state == Gone)
    assert(e7.exists(_.isInstanceOf[Ended]))
    // next breach restarts as NEW (check_items:490-501)
    val s8 = onBreach(Some(s7), 60 * S, 150.0, 100.0, 30 * S)
    assert(s8.state == New)
  }

  test("periodic Updated every 3s cadence (act():427-434)") {
    val s0 = onBreach(None, 0L, 500.0, 100.0, 300 * S)
    val (s1, _) = onTick(s0, 1, wnd, isOver = true)
    // value stays over limit (no decay at same instant)
    val (s2, e2) = onTick(s1.copy(timeLastNs = 1), 2 * S, wnd, true)
    assert(e2.isEmpty) // cadence not reached
    val (_, e3) = onTick(s2.copy(timeLastNs = 2 * S), 4 * S, wnd, true)
    assert(e3.exists(_.isInstanceOf[Updated]))
  }

  test("underlimit mirror: silence keeps the alert, recovery ends it") {
    // value 50/s with limit 100: underlimit breach
    val s0 = onBreach(None, 0L, 50.0, 100.0, 10 * S)
    val (s1, e1) = onTick(s0, 1, wnd, isOver = false)
    assert(s1.state == Update && e1 == Seq(Started(50.0, 100.0)))
    // pure silence decays the value to 0 < limit → STILL underlimit
    // (this is why the reference needs its dedicated scanner thread:
    // monit-objects-mavg-under.c catches hosts that went silent)
    val (s1b, _) = onTick(s1, 100 * S, wnd, isOver = false)
    assert(s1b.state == Update)
    // traffic returns at a high rate (recent timeLast, value > limit)
    val t2 = 200 * S
    val s2 = s1b.copy(value = 900.0, timeLastNs = t2 - 1)
    val (s3, _) = onTick(s2, t2, wnd, isOver = false)
    assert(s3.state == AlmostGone && s3.timeBack2NormNs == t2)
    // stays high past back2norm-time → Ended + GONE
    val t3 = t2 + 11 * S
    val s3b = s3.copy(value = 900.0, timeLastNs = t3 - 1)
    val (s4, e4) = onTick(s3b, t3, wnd, isOver = false)
    assert(s4.state == Gone && e4.exists(_.isInstanceOf[Ended]))
  }
}
