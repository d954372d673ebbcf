package graft

import graft.config.MoConfig
import graft.filter.FilterEnv
import graft.operators.{Fwm, SharedFwm}
import graft.sinks.SqlExport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class SinkConfigSpec extends SparkTest {

  test("SQL export: PG DDL + INSERT golden shape " +
    "(monit-objects-fwm.c:269-414)") {
    val df = flowDf(Seq("time", "src_host", "octets"),
      Seq(Seq(1700000000L, 0x0a000001L, 100L),
        Seq(1700000000L, -1L, 900L))) // -1 placeholder → set null below
    val withNull = df.withColumn("src_host",
      when(col("src_host") === -1L, lit(null)).otherwise(col("src_host")))
    val conf = SqlExport.Conf("mo1", "by_src", ipCols = Set("src_host"))
    val sql = SqlExport.exportSql(withNull, conf)
    assert(sql.contains(
      """CREATE TABLE IF NOT EXISTS "mo1_by_src" ("time" TIMESTAMPTZ, """ +
        """"src_host" INET, "octets" BIGINT);"""))
    assert(sql.contains(
      """CREATE INDEX IF NOT EXISTS "mo1_by_src_time_idx" """ +
        """ON "mo1_by_src" (time);"""))
    assert(sql.contains("to_timestamp(1700000000)"))
    assert(sql.contains("'10.0.0.1'"))
    assert(sql.contains("NULL")) // the others row's NULL key
    assert(sql.contains("900"))
  }

  test("SQL export v6: INET literals are RFC 5952 compressed " +
    "(inet_ntop parity with the reference's export tables)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def v6(s: String): Array[Byte] =
      java.net.InetAddress.getByName(s).getAddress
    val schema = StructType(Seq(
      StructField("time", LongType, false),
      StructField("src_host6", BinaryType, true),
      StructField("octets", LongType, false)))
    val rows = Seq(
      Row(1700000000L, v6("2001:db8::1"), 10L),
      Row(1700000000L, v6("::1"), 20L),
      Row(1700000000L, v6("ff02::1:2"), 30L),
      Row(1700000000L, null, 40L))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val conf = SqlExport.Conf("mo1", "by_src6", ipCols = Set("src_host6"))
    val sql = SqlExport.exportSql(df, conf)
    assert(sql.contains(""""src_host6" INET"""))
    assert(sql.contains("'2001:db8::1'"))
    assert(sql.contains("'::1'"))
    assert(sql.contains("'ff02::1:2'"))
    assert(sql.contains("NULL"))
    // ClickHouse variant types the binary ip column IPv6
    val ch = SqlExport.ddl(df.schema,
      SqlExport.Conf("mo1", "w", ipCols = Set("src_host6"),
        clickhouse = true))
    assert(ch.contains("Nullable(IPv6)"))
  }

  test("ClickHouse DDL variant (monit-objects-fwm.c:303-325)") {
    val df = flowDf(Seq("time", "octets"), Seq(Seq(0L, 1L)))
    val sql = SqlExport.ddl(df.schema,
      SqlExport.Conf("mo1", "w", clickhouse = true))
    assert(sql.contains("ENGINE = MergeTree() PRIMARY KEY time"))
    assert(sql.contains("Nullable(Int64)"))
  }

  test("ClickHouse export end-to-end dialect: DateTime time column, " +
    "toDateTime literals, backslash escaping (no Postgres-isms)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("time", LongType, false),
      StructField("label", StringType, true),
      StructField("octets", LongType, false)))
    val rows = Seq(Row(1700000000L, "C:\\tmp\\", 10L))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val ch = SqlExport.exportSql(df,
      SqlExport.Conf("mo1", "w", clickhouse = true))
    assert(ch.contains(""""time" DateTime"""), ch)
    assert(!ch.contains("TIMESTAMPTZ"), "ClickHouse has no TIMESTAMPTZ")
    assert(ch.contains("toDateTime(1700000000)"), ch)
    assert(!ch.contains("to_timestamp"), "to_timestamp is Postgres-only")
    assert(ch.contains("'C:\\\\tmp\\\\'"),
      s"backslashes must double in ClickHouse literals: $ch")
    // ...and the Postgres dialect is untouched by the CH fixes
    val pg = SqlExport.exportSql(df, SqlExport.Conf("mo1", "w"))
    assert(pg.contains("TIMESTAMPTZ") && pg.contains("to_timestamp(") &&
      pg.contains("'C:\\tmp\\'"), pg)
  }

  test("mo.conf parse: FIXTURES.md §2 canonical config") {
    val json = """{
      /* comment */
      "filter": "dst net 192.0.0.0/10 and proto 6",
      "fwm": [
        { "name": "by_src", "fields": ["octets desc", "src host"],
          "time": 10, "limit": 5 },
        { "name": "all", "fields": ["packets", "octets"] },
        { "extended": true, "name": "ext",
          "fields": ["octets desc", "src host", "dst host", "proto"] }
      ],
      "mavg": [
        { "name": "mavg1", "time": 20, "dump": 10,
          "fields": ["src host", "octets"],
          "overlimit": [
            { "name": "level1", "default": [10000000],
              "back2norm-time": 60, "action-script": "on-start.sh",
              "ext": ["ext"] } ] }
      ],
      "classification": [
        { "fields": ["proto"], "top-percents": 90, "time": 30,
          "val": "octets desc" }
      ]
    }"""
    val mo = MoConfig.parse("mo1", json)
    assert(mo.filter.startsWith("dst net"))
    assert(mo.fwm.map(_.name) == Seq("by_src", "all", "ext"))
    assert(mo.fwm.head.limit.contains(5))
    assert(mo.fwm.head.timeSec == 10)
    assert(mo.fwm(1).timeSec == 30) // default
    assert(mo.fwm(2).extended)
    assert(mo.mavg.head.overlimit.head.default == Seq(1e7))
    assert(mo.mavg.head.overlimit.head.back2normSec == 60)
    assert(mo.mavg.head.overlimit.head.extNames == Seq("ext"))
    assert(mo.classification.head.topPct == 90.0)
  }

  test("mo.conf comments parse at the JSON level: trailing // after a " +
    "value, and '/*' INSIDE a string value survives") {
    val mo = MoConfig.parse("mo1", """{
      "filter": "host 1.2.3.4 or proto 6", // the hot path
      "fwm": [ { "name": "w", "fields": ["octets"], "time": 30 } ]
    }""")
    assert(mo.fwm.head.timeSec == 30)
    val tricky = MoConfig.parse("mo2",
      """{ "filter": "dst port 443 /* not a comment */" }""")
    assert(tricky.filter == "dst port 443 /* not a comment */",
      s"string contents must not be comment-stripped: '${tricky.filter}'")
  }

  test("mo.conf: an explicit time 0 falls back to the section default " +
    "(reference warns + substitutes, monit-objects.c:343/399/418)") {
    val mo = MoConfig.parse("mo0", """{
      "fwm":  [ { "name": "w", "fields": ["octets"], "time": 0 } ],
      "mavg": [ { "name": "m", "fields": ["octets"], "time": 0 } ],
      "classification": [ { "fields": ["src host"], "time": 0 } ]
    }""")
    assert(mo.fwm.head.timeSec == 30, "fwm 0 -> FWM_DEFAULT_TIMEOUT")
    assert(mo.mavg.head.timeSec == 5, "mavg 0 -> MAVG_DEFAULT_SIZE")
    assert(mo.classification.head.timeSec == 30,
      "classification 0 -> CLSF_DEFAULT_TIMEOUT")
  }

  test("compileTree gates extended sections: excluded from a batch " +
    "replay unless explicitly requested (CONFIG.md:411 semantics)") {
    val mo = MoConfig.parse("mo1",
      """{"filter": "proto 6",
         "fwm": [{"name": "base", "fields": ["octets"]},
                 {"extended": true, "name": "ext",
                  "fields": ["octets", "src host"]}]}""")
    val flows = flowDf(
      Seq("ts_sec", "protocol", "ip4_src_addr", "in_bytes"),
      Seq(Seq(0L, 6L, 1L, 10L)))
    val env = FilterEnv.flow(spark)
    val defaultPlans = MoConfig.compileTree(mo, flows, env,
      col("ts_sec"), None)
    assert(defaultPlans.map(_.section.name) == Seq("base"),
      "extended sections need an active alert; batch has none")
    val withExt = MoConfig.compileTree(mo, flows, env,
      col("ts_sec"), None, includeExtended = true)
    assert(withExt.map(_.section.name) == Seq("base", "ext"))
  }

  test("MO tree compiles to conjunctive filters over one scan " +
    "(netflow.c:214-244 recursive dispatch)") {
    val child = MoConfig.parse("child",
      """{"filter": "dst port 443",
         "fwm": [{"name": "c", "fields": ["octets"]}]}""")
    val parent = MoConfig.parse("parent",
      """{"filter": "proto 6",
         "fwm": [{"name": "p", "fields": ["octets"]}]}""",
      children = Seq(child))
    val flows = flowDf(
      Seq("ts_sec", "protocol", "l4_dst_port", "in_bytes"),
      Seq(Seq(0L, 6L, 443L, 10L), Seq(1L, 6L, 80L, 20L),
        Seq(2L, 17L, 443L, 40L)))
    val env = FilterEnv.flow(spark)
    val plans = MoConfig.compileTree(parent, flows, env,
      col("ts_sec"), None)
    assert(plans.map(p => s"${p.mo}/${p.section.name}") ==
      Seq("parent/p", "child/c"))
    val pOct = plans(0).plan.agg(sum("octets")).collect()(0).getLong(0)
    val cOct = plans(1).plan.agg(sum("octets")).collect()(0).getLong(0)
    assert(pOct == 30L) // proto 6
    assert(cOct == 10L) // proto 6 AND dst port 443
  }

  test("MoConfig.paths: pre-order nodes with parent-conjoined filters") {
    val grand = MoConfig.parse("grand", """{"filter": "proto 6"}""")
    val child = MoConfig.parse("child", """{"filter": "dst port 443"}""",
      children = Seq(grand))
    val sibling = MoConfig.parse("sibling", """{"filter": "dst port 80"}""")
    val parent = MoConfig.parse("parent", """{"filter": "proto 6"}""",
      children = Seq(child, sibling))
    val flows = flowDf(
      Seq("ts_sec", "protocol", "l4_dst_port", "in_bytes"),
      Seq(Seq(0L, 6L, 443L, 10L), Seq(1L, 6L, 80L, 20L),
        Seq(2L, 17L, 443L, 40L)))
    val env = FilterEnv.flow(spark)
    val paths = MoConfig.paths(parent, env)
    assert(paths.map(_._1.name) == Seq("parent", "child", "grand", "sibling"))
    val sums = paths.map { case (_, pred) =>
      flows.filter(pred).agg(sum("in_bytes")).collect()(0).getLong(0) }
    // proto 6; AND dst port 443 (the compileTree sums above); AND
    // proto 6 again; proto 6 AND dst port 80 — not the 443 branch
    assert(sums == Seq(30L, 10L, 10L, 20L))
    val bad = MoConfig.parse("bad", """{"filter": "proto"}""")
    val e = intercept[RuntimeException](MoConfig.paths(
      parent.copy(children = Seq(bad)), env))
    assert(e.getMessage.startsWith("MO 'bad' filter:"), e.getMessage)
  }

  test("mo.conf: two fwm sections with one name in one MO fail loudly") {
    // an unnamed section is named "fwm", so two unnamed ones collide
    val e = intercept[IllegalArgumentException](MoConfig.parse("dup_mo",
      """{"fwm": [{"fields": ["octets"]}, {"fields": ["packets"]}]}"""))
    assert(e.getMessage.contains("dup_mo") &&
      e.getMessage.contains("'fwm'"), e.getMessage)
  }

  test("alert sink: a packet-sourced key with '/' and '..' writes and " +
    "deletes only inside notifDir; plain keys keep their file names") {
    import graft.sinks.AlertSink
    import graft.streaming.MavgStream.AlertRow
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_notif_esc")
    val notif = base.resolve("notif")
    // the directory a raw join of the hostile key would walk through
    Files.createDirectories(notif.resolve("mo-m-lim-x"))
    val sink = new AlertSink(AlertSink.Conf(notif.toString, "mo", "m",
      Seq(AlertSink.Limit("lim"))))
    // e.g. a TLS ClientHello SNI naming a path
    val hostile = "x/../../outside"
    sink.handle(Seq(AlertRow(hostile, 0, "start", 500.0, 100.0, 1L)))
    assert(!Files.exists(base.resolve("outside")),
      "start must not write outside notifDir")
    val inside = notif.resolve("mo-m-lim-x%2F..%2F..%2Foutside")
    assert(Files.exists(inside))
    sink.handle(Seq(AlertRow(hostile, 0, "end", 1.0, 100.0, 2L)))
    assert(!Files.exists(inside), "end deletes the file start wrote")
    // '\', '%' and control characters are encoded too
    assert(sink.fileName("lim", Seq("a\\b%c\u0001d")).getFileName
      .toString == "mo-m-lim-a%5Cb%25c%01d")
    // ordinary IP, port and hostname keys: today's names, unchanged
    assert(sink.fileName("lim", Seq("10.0.0.1", "443", "www.example.com"))
      == notif.resolve("mo-m-lim-10.0.0.1-443-www.example.com"))
  }

  test("alert sink: a key past the 255-byte file-name limit gets a " +
    "capped, hash-tagged file that still holds the full key") {
    import graft.sinks.AlertSink
    import graft.streaming.MavgStream.AlertRow
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val notif = Files.createTempDirectory("graft_notif_long")
    val sink = new AlertSink(AlertSink.Conf(notif.toString, "mo", "m",
      Seq(AlertSink.Limit("lim"))))
    val key = "a" * 255 + ".ex.com" // e.g. a long SNI, 262 characters
    def files() = Files.list(notif).iterator().asScala.toList
    sink.handle(Seq(AlertRow(key, 0, "start", 500.0, 100.0, 1L)))
    val written = files()
    assert(written.size == 1)
    val name = written.head.getFileName.toString
    assert(name.getBytes("UTF-8").length <= 255, name)
    assert(name.startsWith("mo-m-lim-aaaa"), name)
    assert(new String(Files.readAllBytes(written.head), "UTF-8") ==
      s"$key 500 100")
    // a different long key with the same prefix gets its own file
    assert(sink.fileName("lim", Seq(key + "x")) != written.head)
    sink.handle(Seq(AlertRow(key, 0, "end", 1.0, 100.0, 2L)))
    assert(files().isEmpty, "end deletes the file start wrote")
  }

  test("alert sink: a non-ASCII key (short, and past the name limit " +
    "once encoded) writes an ASCII file holding the raw key, and end " +
    "deletes it") {
    import graft.sinks.AlertSink
    import graft.streaming.MavgStream.AlertRow
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val notif = Files.createTempDirectory("graft_notif_utf8")
    val sink = new AlertSink(AlertSink.Conf(notif.toString, "mo", "m",
      Seq(AlertSink.Limit("lim"), AlertSink.Limit("lim2",
        actionScript = Some("/bin/true")))))
    def files() = Files.list(notif).iterator().asScala.toList
      .filter(_.getFileName.toString != "invocations.log")
    // e.g. an IDN SNI decoded from packet bytes; 200 × é encodes to
    // 1,200 name characters
    for (key <- Seq("café.example", "é" * 200)) {
      sink.handle(Seq(AlertRow(key, 1, "start", 500.0, 100.0, 1L)))
      val written = files()
      assert(written.size == 1, written)
      val name = written.head.getFileName.toString
      assert(name.getBytes("UTF-8").length <= 255, name)
      assert(name.forall(c => c >= ' ' && c <= '~'), name)
      assert(name.startsWith("mo-m-lim2-"), name)
      assert(new String(Files.readAllBytes(written.head), "UTF-8") ==
        s"$key 500 100")
      // the script argv keeps the raw key too
      assert(new String(Files.readAllBytes(
          notif.resolve("invocations.log")), "UTF-8")
        .linesIterator.toSeq.last.split("\t").contains(key))
      sink.handle(Seq(AlertRow(key, 1, "end", 1.0, 100.0, 2L)))
      assert(files().isEmpty, "end deletes the file start wrote")
    }
    assert(sink.fileName("lim", Seq("café.example")).getFileName
      .toString == "mo-m-lim-caf%C3%A9.example")
  }

  test("streaming fwm: window closes when the watermark passes " +
    "(two-bank swap analog)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val flows = mem.toDS()
      .toDF("ts", "protocol", "in_bytes")
      .withColumn("ts_sec", expr("CAST(unix_timestamp(ts) AS BIGINT)"))
    val env = FilterEnv.flow(spark)
    val section = SharedFwm.Section("mo", lit(true),
      Fwm.Conf("w", Seq("octets desc", "proto"), timeSec = 10))
    val windowed = SharedFwm.streamGroup(flows, env, Seq(section))
    val q = windowed.writeStream.format("memory").queryName("fwm_stream")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      mem.addData((ts(1), 6L, 100L), (ts(5), 6L, 50L), (ts(7), 17L, 30L))
      q.processAllAvailable()
      // watermark still at batch-1 max (7) → window [0,10) not closed
      assert(spark.table("fwm_stream").count() == 0)
      mem.addData((ts(25), 6L, 1L)) // advances watermark past 10
      q.processAllAvailable()
      mem.addData((ts(26), 6L, 1L)) // one more batch to flush
      q.processAllAvailable()
      val rows = spark.table("fwm_stream")
        .select("time", "proto", "octets").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((0L, 6L, 150L)))
      assert(rows.contains((0L, 17L, 30L)))
    } finally q.stop()
  }
}

class MavgDumpSpec extends SparkTest {
  test("mavg .d/.a dump text (monit-objects-mavg-dump.c)") {
    import graft.sinks.MavgDump
    val decayed = flowDf(Seq("src_host", "n", "t_last"),
      Seq(Seq(10L, 3000L, 100L), Seq(11L, 600L, 100L)))
    val d = MavgDump.dumpD(decayed, Seq("src_host"), windowSec = 600)
    assert(d == "10,5.000\n11,1.000")
    val a = MavgDump.dumpA(Map(
      Seq("1.2.3.4", "6") -> Seq(100.0), Seq("1.2.3.4", "17") -> Seq(2.5)))
    assert(a == "1.2.3.4,17,2.500\n1.2.3.4,6,100.000")
  }

  test("dumpD accepts a DoubleType n column (streaming-state " +
    "snapshots), not just the fixed-point Long") {
    import graft.sinks.MavgDump
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("src_host", LongType, false),
      StructField("n", DoubleType, false)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(Seq(Row(10L, 3000.0))).asJava), schema)
    assert(MavgDump.dumpD(df, Seq("src_host"), windowSec = 600) ==
      "10,5.000")
  }

  test("dumpDFromCheckpoint renders the live MavgStream store " +
    "(monit-objects-mavg-dump.c)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sinks.MavgDump
    import graft.streaming.MavgStream
    import graft.streaming.MavgStream.{Conf, Input}
    val S = 1_000_000_000L
    val ckpt = java.nio.file.Files.createTempDirectory("mavg_dump")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Input]
    // no alerts in play (huge limit), event-time deterministic ticks
    val q = MavgStream(mem.toDS(),
        Conf(windowSec = 5, defaultLimits = Seq(1e18),
          back2normSec = 30, isOver = true, tickIntervalMs = 0))
      .writeStream.format("memory").queryName("mavg_dump_sink")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      mem.addData(Input("a", 10 * S, 600.0), Input("b", 10 * S, 1200.0))
      q.processAllAvailable()
    } finally q.stop()
    // decay-corrected to t=12s: a = 600·(1−2/5)/5 = 72/s,
    // b = 1200·0.6/5 = 144/s — what the reference's .d file would
    // print at that instant
    assert(MavgDump.dumpDFromCheckpoint(spark, ckpt.toString,
      windowSec = 5, atNs = 12 * S) == "a,72.000\nb,144.000")
    // past the window the rates have fully decayed
    assert(MavgDump.dumpDFromCheckpoint(spark, ckpt.toString,
      windowSec = 5, atNs = 30 * S) == "a,0.000\nb,0.000")
  }
}
