package graft

import graft.config.MoConfig
import graft.filter.FilterEnv
import graft.sinks.AlertSink
import graft.streaming.{ExtStatsGate, MavgStream, Pipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class PipelineSpec extends SparkTest {

  test("alert sink: notification file lifecycle + script invocations " +
    "(monit-objects-mavg-act.c on_limit/on_update/on_back_to_norm)") {
    val dir = Files.createTempDirectory("graft_notif").toString
    val sink = new AlertSink(AlertSink.Conf(dir, "http_flood", "mavg1",
      Seq(AlertSink.Limit("level1",
        actionScript = Some("/scripts/on-start.sh"),
        back2normScript = Some("/scripts/on-stop.sh")))))
    def row(ev: String, v: Double, t: Long) =
      MavgStream.AlertRow("15.22.13.99|6", 0, ev, v, 1000000.0, t)
    val notif = Paths.get(dir,
      "http_flood-mavg1-level1-15.22.13.99-6")

    // start → file written + action script recorded
    sink.handle(Seq(row("start", 1234567.0, 1L)))
    assert(Files.exists(notif))
    assert(new String(Files.readAllBytes(notif), StandardCharsets.UTF_8)
      == "15.22.13.99 6 1234567 1000000")
    val log = Paths.get(dir, "invocations.log")
    val afterStart = Files.readAllLines(log)
    assert(afterStart.size == 1)
    // argv order: script mo mavg limit-name file fields... value limit
    // (STEP-BY-STEP.md:934-973)
    assert(afterStart.get(0).split("\t").toSeq == Seq(
      "/scripts/on-start.sh", "http_flood", "mavg1", "level1",
      notif.toString, "15.22.13.99", "6", "1234567", "1000000"))

    // update → file refreshed, no new invocation
    sink.handle(Seq(row("update", 2222222.0, 2L)))
    assert(new String(Files.readAllBytes(notif), StandardCharsets.UTF_8)
      == "15.22.13.99 6 2222222 1000000")
    assert(Files.readAllLines(log).size == 1)

    // end → file removed + back2norm script recorded
    sink.handle(Seq(row("end", 55.0, 3L)))
    assert(!Files.exists(notif))
    val afterEnd = Files.readAllLines(log)
    assert(afterEnd.size == 2)
    assert(afterEnd.get(1).startsWith("/scripts/on-stop.sh\thttp_flood"))

    // restart: a later start recreates the file (Gone → New)
    sink.handle(Seq(row("start", 9999999.0, 4L)))
    assert(Files.exists(notif))
    assert(Files.readAllLines(log).size == 3)
  }

  test("alert sink execute=true really starts the script (detached, " +
    "reference exec_script double-fork)") {
    val dir = Files.createTempDirectory("graft_notif_exec")
    val out = dir.resolve("fired")
    val script = dir.resolve("on-start.sh")
    Files.write(script,
      s"#!/bin/sh\necho \"$$2 $$5 $$7\" > $out\n"
        .getBytes(StandardCharsets.UTF_8))
    script.toFile.setExecutable(true)
    val sink = new AlertSink(AlertSink.Conf(dir.toString, "mo1", "m",
      Seq(AlertSink.Limit("lim", actionScript = Some(script.toString))),
      execute = true))
    sink.handle(Seq(
      MavgStream.AlertRow("10.0.0.1", 0, "start", 500.0, 100.0, 1L)))
    // fire-and-forget: poll for the script's side effect
    val deadline = System.nanoTime() + 5_000_000_000L
    while (!Files.exists(out) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(Files.exists(out))
    assert(new String(Files.readAllBytes(out), StandardCharsets.UTF_8)
      .trim == "m 10.0.0.1 100") // $2=mavg, $5=field, $7=limit
  }

  test("ext-stats gate: alerts open/close extended windows " +
    "(monit-objects-mavg-act.c:192-227)") {
    val gate = new ExtStatsGate
    assert(!gate.isActive("ext"))
    gate.applyAlerts(
      Seq(MavgStream.AlertRow("k", 0, "start", 1.0, 1.0, 0L)),
      Map(0 -> Seq("ext")))
    assert(gate.isActive("ext"))
    gate.applyAlerts(
      Seq(MavgStream.AlertRow("k", 0, "update", 1.0, 1.0, 0L)),
      Map(0 -> Seq("ext")))
    assert(gate.isActive("ext")) // updates don't close
    gate.applyAlerts(
      Seq(MavgStream.AlertRow("k", 0, "end", 0.0, 1.0, 0L)),
      Map(0 -> Seq("ext")))
    assert(!gate.isActive("ext"))
  }

  test("mo.conf → streaming pipeline end-to-end: fwm windows close, " +
    "mavg alerts fire") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mo = MoConfig.parse("mo1", """{
      "filter": "proto 6",
      "fwm": [
        {"name": "w", "fields": ["octets desc", "proto"], "time": 10},
        {"extended": true, "name": "ext",
         "fields": ["octets", "src host"], "time": 20}
      ],
      "mavg": [
        {"name": "m", "time": 5, "fields": ["src host", "octets"],
         "overlimit": [{"name": "lim", "default": [100],
                        "ext": ["ext"]}]}
      ]
    }""")

    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val flows = mem.toDS()
      .toDF("ts", "protocol", "ip4_src_addr", "in_bytes")
    val env = FilterEnv.flow(spark)
    val (groups, mavgs) = Pipeline.build(mo, flows, env, mavgTickMs = 0L)
    // one streaming query per window length; ext's query holds only
    // that gated section, so its writer must still drain each batch
    assert(groups.map(g => (g.timeSec, g.sections.map(_.conf.name))) ==
      Seq((10L, Seq("w")), (20L, Seq("ext"))))
    assert(mavgs.map(_.section.name) == Seq("m"))

    val gate = new ExtStatsGate
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val q1 = groups.head.combined.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(Pipeline.sharedFwmBatchWriter(groups.head, gate) {
        (_, finished) =>
          finished.select("time", "proto", "octets").collect()
            .foreach(r => collected.synchronized {
              collected += ((r.getLong(0), r.getLong(1), r.getLong(2)))
            })
      }).start()
    val extRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = groups(1).combined.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(Pipeline.sharedFwmBatchWriter(groups(1), gate) {
        (_, finished) => extRows.synchronized {
          extRows += finished.count() }
      }).start()
    val q3 = mavgs.head.alerts.writeStream
      .format("memory").queryName("pipe_alerts")
      .outputMode(OutputMode.Append).start()
    // the full alert path: gate + notification-file sink per batch
    val notifDir = Files.createTempDirectory("graft_pipe_notif").toString
    val gate2 = new ExtStatsGate
    val q4 = mavgs.head.alerts.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(Pipeline.alertBatchWriter(mavgs.head, gate2,
        Pipeline.alertSink(mavgs.head, notifDir)))
      .start()
    try {
      def ts(s: Long) = new Timestamp(s * 1000)
      // tcp flows, src a very loud (rate > 100/s), one udp flow filtered
      mem.addData((ts(1), 6L, 10L, 3000L), (ts(2), 6L, 11L, 5L),
        (ts(3), 17L, 12L, 9999L))
      Seq(q1, q2, q3, q4).foreach(_.processAllAvailable())
      mem.addData((ts(25), 6L, 10L, 1L)) // advance watermark past 10
      Seq(q1, q2, q3, q4).foreach(_.processAllAvailable())
      mem.addData((ts(26), 6L, 10L, 1L)) // flush the closed window
      Seq(q1, q2, q3, q4).foreach(_.processAllAvailable())

      // fwm: window [0,10) has only tcp rows (udp filtered by the MO)
      val w0 = collected.filter(_._1 == 0L)
      assert(w0.map(_._3).sum == 3005L, s"got $collected")
      assert(w0.forall(_._2 == 6L))
      // extended section stayed gated off → its sink never ran
      assert(extRows.isEmpty, s"gated-off ext reached its sink: $extRows")
      // mavg: src 10 pushed 3000 bytes in 5s window → 600/s ≥ 100 alert;
      // addr-typed keys render dotted like the reference's printed form
      val alerts = spark.table("pipe_alerts")
        .as[MavgStream.AlertRow].collect()
      assert(alerts.exists(a => a.event == "start" && a.key == "0.0.0.10"))
      assert(!alerts.exists(a => a.key == "0.0.0.11" && a.event == "start"))
      // feeding the start alert into the gate opens the ext section
      gate.applyAlerts(alerts.toSeq, Map(0 -> Seq("ext")))
      assert(gate.isActive("ext"))
      // q4 (alertBatchWriter) did both automatically: its gate opened
      // from the config's "ext" list and the notification file exists
      assert(gate2.isActive("ext"))
      assert(Files.exists(Paths.get(notifDir, "mo1-m-lim-0.0.0.10")))
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop() }
  }

  test("reference-style dotted-IP limits file matches pipeline keys " +
    "(CONFIG.md:438-469 format, per-section file)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.config.Reloadable.clearCache()
    val dir = Files.createTempDirectory("graft_pipe_lim")
    val lim = dir.resolve("limits.csv")
    // the reference's file shape: dotted address, threshold
    Files.write(lim, "0.0.0.10,100\n".getBytes(StandardCharsets.UTF_8))
    val mo = MoConfig.parse("mo2", s"""{
      "filter": "proto 6",
      "mavg": [{"name": "m", "time": 5, "fields": ["src host", "octets"],
        "overlimit": [{"name": "lim", "default": [1000000000],
                       "limits": "$lim"}]}]
    }""")
    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val flows = mem.toDS()
      .toDF("ts", "protocol", "ip4_src_addr", "in_bytes")
    val (_, mavgs) = Pipeline.build(mo, flows, FilterEnv.flow(spark),
      mavgTickMs = 0L)
    val q = mavgs.head.alerts.writeStream
      .format("memory").queryName("dotted_alerts")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(s: Long) = new Timestamp(s * 1000)
      // both sources push 600/s — far under the 1e9 default, over the
      // file's 100 for 0.0.0.10 only: the dotted key MUST have matched
      mem.addData((ts(1), 6L, 10L, 3000L), (ts(1), 6L, 11L, 3000L))
      q.processAllAvailable()
      val alerts = spark.table("dotted_alerts")
        .as[MavgStream.AlertRow].collect()
      assert(alerts.exists(a => a.event == "start" && a.key == "0.0.0.10"),
        s"file threshold must apply to the dotted key, got " +
          alerts.mkString(", "))
      assert(!alerts.exists(a => a.key == "0.0.0.11" && a.event == "start"))
    } finally q.stop()
  }
}
