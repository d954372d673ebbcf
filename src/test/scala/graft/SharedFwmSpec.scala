package graft

import graft.config.MoConfig
import graft.filter.FilterEnv
import graft.operators.{Fwm, SharedFwm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared-scan fwm pass must (a) plan exactly ONE file scan for an
  * MO tree with several fwm sections, and (b) slice back per-section
  * frames bit-identical to [[Fwm.batch]] run alone — including the
  * parent-conjoined child filter and a top-N+others section. */
class SharedFwmSpec extends SparkTest {

  private def env = FilterEnv.flow(spark)

  /** Synthetic flow parquet (a FileSourceScan, so scan counting is
    * meaningful — an in-memory frame plans a LocalTableScan). */
  private lazy val flowsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("sharedfwm")
      .resolve("flows.parquet").toString
    val rng = new scala.util.Random(7)
    val rows = (0 until 4000).map { i =>
      Seq(1700000000L + rng.nextInt(600),        // ts_sec
        if (rng.nextInt(3) == 0) 6L else 17L,    // protocol
        (rng.nextInt(40) + 1).toLong,            // ip4_src_addr
        Seq(53L, 80L, 443L, 8080L)(rng.nextInt(4)), // l4_dst_port
        (rng.nextInt(1400) + 60).toLong,         // in_bytes
        (rng.nextInt(9) + 1).toLong,             // in_pkts
        Seq(1L, 10L)(rng.nextInt(2)))            // sampling_rate
    }
    flowDf(Seq("ts_sec", "protocol", "ip4_src_addr", "l4_dst_port",
      "in_bytes", "in_pkts", "sampling_rate"), rows)
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private def flows: DataFrame = spark.read.parquet(flowsPath)

  private val tree = MoConfig.MonitoringObject(
    name = "all", filter = "",
    fwm = Seq(
      MoConfig.FwmSection("by_proto", Seq("octets desc", "proto"),
        timeSec = 60, limit = None, extended = false),
      MoConfig.FwmSection("top_src", Seq("packets desc", "src host"),
        timeSec = 120, limit = Some(2), extended = false)),
    mavg = Nil, classification = Nil,
    children = Seq(MoConfig.MonitoringObject(
      name = "tcp", filter = "proto 6",
      fwm = Seq(MoConfig.FwmSection("tcp_ports",
        Seq("octets desc", "dst port"), timeSec = 60, limit = None,
        extended = false)),
      mavg = Nil, classification = Nil, children = Nil)))

  test("slices == per-section Fwm.batch, incl. child filter and top-N") {
    val secs = SharedFwm.sections(tree, env)
    assert(secs.map(s => (s.mo, s.conf.name)) ==
      Seq(("all", "by_proto"), ("all", "top_src"), ("tcp", "tcp_ports")))
    val combined = SharedFwm.batchAll(flows, env, secs,
      samplingRate = Some(col("sampling_rate")))
    secs.foreach { s =>
      val got = SharedFwm.slice(combined, s).collect().toSeq
      val want = Fwm.batch(flows.filter(s.pred), env, s.conf,
        samplingRate = Some(col("sampling_rate"))).collect().toSeq
      assert(got.nonEmpty && got == want,
        s"section ${s.mo}/${s.conf.name} diverged:\n got=${got.take(5)}" +
          s"\n want=${want.take(5)}")
    }
  }

  /** AQE-aware: AdaptiveSparkPlanExec keeps its inner plan out of
    * `children`, so a plain `.exists` never sees the cache scan. */
  private def hasCacheScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution._
    def walk(p: SparkPlan): Boolean = p match {
      case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: adaptive.QueryStageExec        => walk(q.plan)
      case _: columnar.InMemoryTableScanExec => true
      case other => other.children.exists(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("one FileScan for the whole tree; cached slices add none") {
    val secs = SharedFwm.sections(tree, env)
    val combined = SharedFwm.batchAll(flows, env, secs,
      samplingRate = Some(col("sampling_rate")))
    // the whole tree in one query: exactly one scan in the plan
    assert(SharedFwm.countScans(combined) == 1,
      combined.queryExecution.executedPlan.toString)
    // multi-frame consumption: the combined aggregate is persisted, so
    // the one scan happens at materialization and every slice reads
    // the cache — zero file scans per slice
    val cached = SharedFwm.batchAll(flows, env, secs,
        samplingRate = Some(col("sampling_rate")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count() // materialize (the single scan runs here)
      secs.map(s => s -> SharedFwm.slice(cached, s)).foreach { case (s, df) =>
        assert(SharedFwm.countScans(df) == 0,
          s"slice ${s.conf.name} re-scans:\n" +
            df.queryExecution.executedPlan.toString)
        assert(hasCacheScan(df),
          s"slice ${s.conf.name} does not read the cache:\n" +
            df.queryExecution.executedPlan.toString)
      }
    } finally cached.unpersist()
    // and the baseline this replaces really does plan N scans
    val separate = secs.map(s => Fwm.batch(flows.filter(s.pred), env,
        s.conf, samplingRate = Some(col("sampling_rate")))
        .select(lit(s.conf.name).as("sec"), col("time")))
      .reduce(_ unionByName _)
    separate.write.format("noop").mode("overwrite").save()
    assert(SharedFwm.countScans(separate) == secs.size,
      separate.queryExecution.executedPlan.toString)
  }

  /** Streaming: one query per shared-window group must emit, per
    * section, exactly the rows [[Fwm.batch]] computes for every window
    * the stream's watermark closed. Mixed window lengths split into
    * separate groups. */
  test("streamGroup == Fwm.batch per closed window, grouped by window") {
    import graft.streaming.{ExtStatsGate, Pipeline}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val streamTree = MoConfig.MonitoringObject(
      name = "all", filter = "",
      fwm = Seq(
        MoConfig.FwmSection("by_proto", Seq("octets desc", "proto"),
          timeSec = 10, limit = None, extended = false),
        MoConfig.FwmSection("slow", Seq("octets desc", "proto"),
          timeSec = 20, limit = None, extended = false)),
      mavg = Nil, classification = Nil,
      children = Seq(MoConfig.MonitoringObject(
        name = "tcp", filter = "proto 6",
        fwm = Seq(MoConfig.FwmSection("tcp_src",
          Seq("octets desc", "src host"), timeSec = 10,
          limit = Some(2), extended = false)),
        mavg = Nil, classification = Nil, children = Nil)))

    val data = Seq(
      (new Timestamp(1000), 6L, 10L, 3000L),
      (new Timestamp(2000), 6L, 11L, 500L),
      (new Timestamp(3000), 17L, 12L, 9999L),
      (new Timestamp(4000), 6L, 13L, 70L),
      // later chunks: advance the watermark past both window lengths.
      // The FINAL flow is udp: tcp's [20,30) window closes on the
      // stream clock although no tcp flow arrives past it
      (new Timestamp(25000), 6L, 10L, 1L),
      (new Timestamp(45000), 17L, 12L, 2L))
    // delay 0: the final watermark is the latest event time
    val watermarkSec = 45L

    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toSeq).toSeq

    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val flowsS = mem.toDS().toDF("ts", "protocol", "ip4_src_addr",
      "in_bytes")
    val groups = Pipeline.buildSharedFwm(streamTree, flowsS, env)
    assert(groups.map(g =>
      (g.timeSec, g.sections.map(_.conf.name))) ==
      Seq((10L, Seq("by_proto", "tcp_src")), (20L, Seq("slow"))))
    val got = scala.collection.mutable.Map
      .empty[String, Seq[Seq[Any]]].withDefaultValue(Seq.empty)
    val gate = new ExtStatsGate
    val qs = groups.map(g => g.combined.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(Pipeline.sharedFwmBatchWriter(g, gate) {
        (s, finished) => got.synchronized {
          got(s.conf.name) ++= rowsOf(finished) }
      }).start())
    try {
      data.grouped(2).foreach { chunk =>
        mem.addData(chunk: _*)
        qs.foreach(_.processAllAvailable())
      }
    } finally qs.foreach(_.stop())

    // the reference: the same flows as one batch frame, every window
    // the final watermark closed
    val flowsB = data.toDF("ts", "protocol", "ip4_src_addr", "in_bytes")
      .withColumn("ts_sec", unix_timestamp(col("ts")))
    groups.flatMap(_.sections).foreach { s =>
      val want = rowsOf(Fwm.batch(flowsB.filter(s.pred), env, s.conf)
        .where(col("time") + s.conf.timeSec <= watermarkSec))
      assert(got(s.conf.name).nonEmpty && got(s.conf.name) == want,
        s"${s.conf.name}:\n stream=${got(s.conf.name)}\n batch=$want")
    }
    // tcp's [20,30) window, closed by the udp flow at 45 s on the
    // shared stream clock (the reference flushes every MO's windows on
    // one clock); a query that filtered udp before its own watermark
    // would still hold it open
    assert(got("tcp_src").last == Seq(1L, 10L, 20L), // octets, src_host, time
      s"tcp's [20,30) window must close on the stream clock: $got")
  }

  /** The watermark-semantics claim streamGroup documents (and now
    * asserts in-plan): a flow NO section wants is dropped BELOW the
    * EventTimeWatermark node, so it never advances the watermark. A
    * no-section flow with a far-future event
    * time must close nothing; a matching flow at the same event time
    * then closes everything before it. */
  test("a flow matching no section does not advance the watermark") {
    import graft.streaming.{ExtStatsGate, Pipeline}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rootFiltered = MoConfig.MonitoringObject(
      name = "ip", filter = "proto 6 or proto 17",
      fwm = Seq(MoConfig.FwmSection("by_proto",
        Seq("octets desc", "proto"), timeSec = 10, limit = None,
        extended = false)),
      mavg = Nil, classification = Nil, children = Nil)

    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val flowsS = mem.toDS().toDF("ts", "protocol", "ip4_src_addr",
      "in_bytes")
    val groups = Pipeline.buildSharedFwm(rootFiltered, flowsS, env)
    assert(groups.size == 1)
    val got = scala.collection.mutable.Buffer.empty[Seq[Any]]
    val q = groups.head.combined.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(Pipeline.sharedFwmBatchWriter(groups.head,
        new ExtStatsGate) { (_, finished) =>
        got.synchronized { got ++= finished.collect().map(_.toSeq) }
      }).start()
    try {
      mem.addData((new Timestamp(1000), 6L, 10L, 500L))
      q.processAllAvailable()
      // a proto no section wants, far in the future: were the root
      // disjunction evaluated ABOVE the watermark, this would advance
      // the watermark to t=100s and close the [0,10) window
      mem.addData((new Timestamp(100000), 50L, 10L, 1L))
      q.processAllAvailable()
      assert(got.isEmpty,
        s"no-section flow advanced the watermark: closed $got")
      // the same event time on a MATCHING flow does close it
      mem.addData((new Timestamp(100000), 17L, 10L, 2L))
      q.processAllAvailable()
      assert(got.nonEmpty, "matching flow must close the old window")
    } finally q.stop()
  }

  /** Same declared field in different case must collapse to ONE
    * superset column (field resolution is case-insensitive; two
    * columns differing only in case would make slice's col()
    * ambiguous) — and slices stay bit-compatible with Fwm.batch. */
  test("case-variant field names share one superset column") {
    val caseTree = MoConfig.MonitoringObject(
      name = "all", filter = "",
      fwm = Seq(
        MoConfig.FwmSection("a", Seq("Octets desc", "proto"),
          timeSec = 60, limit = None, extended = false),
        MoConfig.FwmSection("b", Seq("octets desc", "src host"),
          timeSec = 60, limit = None, extended = false)),
      mavg = Nil, classification = Nil, children = Nil)
    val secs = SharedFwm.sections(caseTree, env)
    val combined = SharedFwm.batchAll(flows, env, secs,
      samplingRate = Some(col("sampling_rate")))
    assert(combined.columns.count(_.equalsIgnoreCase("octets")) == 1,
      combined.columns.mkString(","))
    secs.foreach { s =>
      val got = SharedFwm.slice(combined, s).collect().toSeq
      val want = Fwm.batch(flows.filter(s.pred), env, s.conf,
        samplingRate = Some(col("sampling_rate"))).collect().toSeq
      assert(got.nonEmpty && got == want, s"section ${s.conf.name}")
    }
  }

  /** Extended gating travels ON the Section: sharedFwmBatchWriter
    * skips a gated-off extended section's sink and includes it once
    * the gate opens — no caller-built lookup involved. */
  test("sharedFwmBatchWriter gates extended sections from the config") {
    import graft.streaming.{ExtStatsGate, Pipeline}
    val gatedTree = MoConfig.MonitoringObject(
      name = "all", filter = "",
      fwm = Seq(
        MoConfig.FwmSection("base", Seq("octets desc", "proto"),
          timeSec = 60, limit = None, extended = false),
        MoConfig.FwmSection("ext", Seq("octets desc", "src host"),
          timeSec = 60, limit = None, extended = true)),
      mavg = Nil, classification = Nil, children = Nil)
    val secs = SharedFwm.sections(gatedTree, env)
    assert(secs.map(s => (s.conf.name, s.extended)) ==
      Seq(("base", false), ("ext", true)))
    val combined = SharedFwm.batchAll(flows, env, secs,
      samplingRate = Some(col("sampling_rate")))
    val gate = new ExtStatsGate
    def sunkWith(g: ExtStatsGate): Set[String] = {
      val sunk = scala.collection.mutable.Set.empty[String]
      Pipeline.sharedFwmBatchWriter(
        Pipeline.SharedFwmGroup(60L, combined, secs), g) {
        (s, _) => sunk += s.conf.name; ()
      }.apply(combined, 0L)
      sunk.toSet
    }
    assert(sunkWith(gate) == Set("base"),
      "gated-off extended section must not reach its sink")
    gate.activate("ext")
    assert(sunkWith(gate) == Set("base", "ext"))
  }
}
