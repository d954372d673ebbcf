package graft

import graft.config.Reloadable
import graft.streaming.MavgStream
import graft.streaming.MavgStream.{AlertRow, Conf, Input}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import java.nio.charset.StandardCharsets
import java.nio.file.attribute.FileTime
import java.nio.file.Files

/** Config hot-reload (reference SIGHUP + mavg_limits_update bank swap,
  * xenoeye.c:61-72, monit-objects-mavg.c:756-774): file edits take
  * effect on the next micro-batch without restarting the query. */
class HotReloadSpec extends SparkTest {

  private def write(p: java.nio.file.Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  /** rewrite + force a visible mtime change (fs granularity) */
  private def rewrite(p: java.nio.file.Path, s: String): Unit = {
    val old = Files.getLastModifiedTime(p).toMillis
    write(p, s)
    Files.setLastModifiedTime(p, FileTime.fromMillis(
      math.max(System.currentTimeMillis(), old + 2000)))
  }

  test("Reloadable: parse, default on missing file, reload on mtime") {
    Reloadable.clearCache()
    val dir = Files.createTempDirectory("graft_reload")
    val f = dir.resolve("limits.csv")
    val r = Reloadable.limitsCsv(f.toString, 2, checkIntervalMs = 0)
    assert(r.get() == Map.empty) // missing file → default
    write(f, "# icmp\n1.2.3.4,1,100000\n1.2.3.4,6,300000\n")
    assert(r.get() == Map(
      "1.2.3.4|1" -> Seq(100000.0), "1.2.3.4|6" -> Seq(300000.0)))
    rewrite(f, "1.2.3.4,6,50\n")
    assert(r.get() == Map("1.2.3.4|6" -> Seq(50.0)))
    // a deserialized copy (what executors get) shares the JVM cache
    val bytes = {
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(r); oo.close(); bo.toByteArray
    }
    val copy = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[Reloadable[Map[String, Seq[Double]]]]
    assert(copy.get() == Map("1.2.3.4|6" -> Seq(50.0)))
  }

  test("Reloadable honors checkIntervalMs (no stat storm per row)") {
    Reloadable.clearCache()
    val dir = Files.createTempDirectory("graft_reload_iv")
    val f = dir.resolve("v.csv")
    write(f, "a,1\n")
    val r = Reloadable.limitsCsv(f.toString, 1, checkIntervalMs = 60000L)
    assert(r.get()("a") == Seq(1.0))
    rewrite(f, "a,2\n")
    // within the check interval the old value is served
    assert(r.get()("a") == Seq(1.0))
  }

  test("Reloadable: malformed edit keeps the previous value " +
    "(reference mavg_limits_file_load keeps the standby bank)") {
    Reloadable.clearCache()
    val dir = Files.createTempDirectory("graft_reload_bad")
    val f = dir.resolve("limits.csv")
    write(f, "1.2.3.4,100\n")
    val r = Reloadable.limitsCsv(f.toString, 1, checkIntervalMs = 0)
    assert(r.get() == Map("1.2.3.4" -> Seq(100.0)))
    // torn/bad live edit: non-numeric threshold would throw in parse
    rewrite(f, "1.2.3.4,garbage\n")
    assert(r.get() == Map("1.2.3.4" -> Seq(100.0)))
    // the fix is picked up as usual
    rewrite(f, "1.2.3.4,50\n")
    assert(r.get() == Map("1.2.3.4" -> Seq(50.0)))
  }

  test("Reloadable: same-mtime size change is detected") {
    Reloadable.clearCache()
    val dir = Files.createTempDirectory("graft_reload_sz")
    val f = dir.resolve("v.csv")
    write(f, "a,1\n")
    val r = Reloadable.limitsCsv(f.toString, 1, checkIntervalMs = 0)
    assert(r.get()("a") == Seq(1.0))
    // two writes inside fs timestamp granularity: pin mtime, change size
    val t = Files.getLastModifiedTime(f)
    write(f, "a,2\nb,3\n")
    Files.setLastModifiedTime(f, t)
    assert(r.get() == Map("a" -> Seq(2.0), "b" -> Seq(3.0)))
  }

  test("per-section limits files resolve independently " +
    "(a key row in one section's file never mutes other sections)") {
    Reloadable.clearCache()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val S = 1_000_000_000L
    val dir = Files.createTempDirectory("graft_limits_sec")
    val f0 = dir.resolve("lim0.csv")
    write(f0, "a,1000000\n") // section 0: key 'a' relaxed by its file
    val mem = MemoryStream[Input]
    // defaults: section 0 = 100 (overridden up for 'a'), section 1 = 10
    val alerts = MavgStream(mem.toDS(),
      Conf(windowSec = 5, defaultLimits = Seq(100.0, 10.0),
        limitsProviders = Seq(
          Some(Reloadable.limitsCsv(f0.toString, 1, checkIntervalMs = 0)),
          None),
        tickIntervalMs = 0))
    val q = alerts.writeStream
      .format("memory").queryName("sec_alerts")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Input("a", 10 * S, 600.0)) // 120/s
      q.processAllAvailable()
      val rows = spark.table("sec_alerts").as[AlertRow].collect().toSeq
      // 120/s < 1e6 → section 0 silent; 120/s ≥ 10 → section 1 fires
      assert(rows.exists(r => r.event == "start" && r.limitIdx == 1),
        s"section 1 must fire on its default, got $rows")
      assert(!rows.exists(r => r.limitIdx == 0 && r.event == "start"),
        s"section 0 must use its file override, got $rows")
    } finally q.stop()
  }

  test("limits hot-reload: threshold edit takes effect next batch " +
    "(no query restart)") {
    Reloadable.clearCache()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val S = 1_000_000_000L
    val dir = Files.createTempDirectory("graft_limits")
    val f = dir.resolve("limits.csv")
    write(f, "a,100000\n") // generous threshold: no alert
    val provider = Reloadable.limitsCsv(f.toString, 1, checkIntervalMs = 0)
    val mem = MemoryStream[Input]
    val alerts = MavgStream(mem.toDS(),
      Conf(windowSec = 5, defaultLimits = Seq(1e18),
        limitsProviders = Seq(Some(provider)), tickIntervalMs = 0))
    val q = alerts.writeStream
      .format("memory").queryName("hot_alerts")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Input("a", 10 * S, 600.0)) // 120/s < 100000
      q.processAllAvailable()
      assert(spark.table("hot_alerts").as[AlertRow].collect()
        .forall(_.event != "start"))

      rewrite(f, "a,10\n") // tighten the threshold
      mem.addData(Input("a", 11 * S, 600.0)) // decayed ≈ 216/s ≥ 10
      q.processAllAvailable()
      val rows = spark.table("hot_alerts").as[AlertRow].collect().toSeq
      assert(rows.exists(r => r.key == "a" && r.event == "start"),
        s"threshold edit must fire next batch, got $rows")
    } finally q.stop()
  }
}
