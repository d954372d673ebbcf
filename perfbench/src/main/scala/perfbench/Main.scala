package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  [--work <dir>]`.
  *
  * Prints, as the last line of stdout, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` — the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {

  val workloads = Seq("netflow_fwm", "flow_archive", "mo_fanout",
    "stream_alerts")

  /** Set-up repetitions whose median is reported in setup_s. */
  val setupReps = 2
  /** Minimum measured passes of a batch run. */
  val minPasses = 2
  /** Unmeasured passes after set-up, so the JIT has compiled the hot
    * paths before measurement starts. */
  val warmPasses = 2
  /** Minimum ladder rounds of a traced batch run. */
  val traceRounds = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(workloads.contains(w), s"unknown workload $w")
    val seed = need("--seed").toLong
    Args(w, seed, need("--seconds").toDouble, need("--trace") == "1",
      new File(m.getOrElse("--work", s".perfbench_run/$w-$seed")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(a.work)
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse")
        .getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val engine = new EngineCounters
    spark.sparkContext.addSparkListener(engine)
    val ctx = Ctx(spark, a.seed, a.seconds, a.work,
      new Spans(s"${a.workload}-${a.seed}", enabled = a.trace), engine)
    val result =
      try {
        if (a.workload == "stream_alerts") streamRun(ctx, a, sessionS)
        else batchRun(ctx, a, sessionS)
      } finally {
        if (a.trace) ctx.spans.write(new File(a.work.getParentFile,
          s"spans/${a.workload}-${a.seed}.jsonl"))
        spark.stop()
        deleteTree(a.work)
      }
    println(result)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def json(tally: Reference.Tally,
           metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${tally.failed == 0 && tally.attempted > 0}, """ +
      s""""attempted": ${math.max(1L, tally.attempted)}, """ +
      s""""failed": ${tally.failed}, "metrics": {$ms}}"""
  }

  private def report(t: Reference.Tally): Unit =
    t.firstMismatch.foreach(m => System.err.println(s"MISMATCH: $m"))

  // ---------------------------------------------------------------- batch

  def batchWorkload(ctx: Ctx, name: String): BatchWorkload = name match {
    case "netflow_fwm"  => new NetflowFwm(ctx)
    case "flow_archive" => new FlowArchive(ctx)
    case "mo_fanout"    => new MoFanout(ctx)
  }

  def batchRun(ctx: Ctx, a: Args, sessionS: Double): String = {
    val w = batchWorkload(ctx, a.workload)
    val gens = Seq.fill(setupReps)(timed(w.generate()))
    var warmTimes = Seq.empty[Double]
    val warm = timed {
      w.prepare()
      warmTimes = Seq.fill(warmPasses)(w.pass().totalS)
    }
    System.err.println("perfbench: warm passes " +
      warmTimes.map(t => f"$t%.2f").mkString(" ") + " s")
    val ref = timed(w.prepareReference())
    System.err.println(f"perfbench: session $sessionS%.2f s, generate " +
      gens.map(g => f"$g%.2f").mkString("/") + f" s, warm-up $warm%.2f s, " +
      f"reference $ref%.2f s")
    if (!a.trace) {
      val passes = Seq.newBuilder[Pass]
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        passes += w.pass()
        n += 1
      }
      val ps = passes.result()
      val tally = ps.map(_.tally).reduce(_ + _)
      report(tally)
      val total = ps.map(_.totalS)
      System.err.println("perfbench: passes " +
        total.map(t => f"$t%.2f").mkString(" ") + " s")
      json(tally, Seq(
        ("setup_s", sessionS + Stats.median(gens) + warm, "s"),
        ("flows_per_s", w.flowsIn / Stats.median(total), "flows/s"),
        ("emit_latency_p50_ms", Stats.median(total) * 1000, "ms"),
        ("emit_latency_p90_ms", Stats.quantile(total, 0.9) * 1000, "ms"),
        ("alert_latency_p50_ms",
          Stats.median(ps.map(_.firstSinkS)) * 1000, "ms")))
    } else {
      val rungs = w.ladder
      val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      var untraced = Vector.empty[Double]
      var tally = Reference.NoTally
      val e = ctx.engine
      var engineWall = 0.0
      var engineSnap = Vector.fill(9)(0L)
      def counters = Vector(e.taskRunMs.get, e.taskCpuNs.get, e.gcMs.get,
        e.schedDelayMs.get, e.shuffleWriteBytes.get, e.shuffleRecords.get,
        e.spillBytes.get, e.stages.get, e.tasks.get)
      var fullPasses = 0
      val t0 = System.nanoTime()
      var round = 0
      while (round < traceRounds || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        rungs.foreach { case (name, run) =>
          var parts = Map.empty[String, Double]
          times(name) :+= timed {
            parts = ctx.spans.span(s"ladder.$name")(run())
          }
          parts.foreach { case (part, t) => times(s"$name/$part") :+= t }
        }
        val before = counters
        var p: Pass = null
        val full = timed { p = ctx.spans.span("ladder.sink")(w.pass()) }
        engineSnap = engineSnap.zip(counters.zip(before)).map {
          case (acc, (x, y)) => acc + x - y }
        engineWall += full
        fullPasses += 1
        times("sink") :+= full
        p.parts.foreach { case (part, t) => times(s"sink/$part") :+= t }
        tally += p.tally
        ctx.spans.enabled = false
        untraced :+= timed(w.pass())
        ctx.spans.enabled = true
        round += 1
      }
      report(tally)
      val med = times.map { case (k, v) => k -> Stats.median(v) }.toMap
      val layer = w.layers(med)
      val perPass = engineSnap.map(_.toDouble / fullPasses)
      val engineMetrics = Map(
        "engine.task_s" -> perPass(0) / 1e3,
        "engine.cpu_busy_frac" -> engineSnap(1) / 1e9 /
          (engineWall * ctx.cores),
        "engine.gc_s" -> perPass(2) / 1e3,
        "engine.sched_delay_s" -> perPass(3) / 1e3,
        "engine.shuffle_write_mb" -> perPass(4) / 1e6,
        "engine.shuffle_records" -> perPass(5),
        "engine.spill_mb" -> perPass(6) / 1e6,
        "engine.stages" -> perPass(7),
        "engine.tasks" -> perPass(8),
        "engine.peak_rss_mb" -> Stats.peakRssMb())
      val traced = med("sink")
      val plain = Stats.median(untraced)
      json(tally, perLayer(layer ++ engineMetrics ++ Map(
        "trace.full_pass_s" -> traced,
        "trace.overhead_frac" -> (traced - plain) / plain,
        "checker.failed_frac" ->
          tally.failed.toDouble / math.max(1L, tally.attempted))))
    }
  }

  // ------------------------------------------------------------ streaming

  def streamRun(ctx: Ctx, a: Args, sessionS: Double): String = {
    val w = new StreamAlerts(ctx)
    val gens = Seq.fill(setupReps)(timed(w.generate()))
    val streams = new StreamCounters
    ctx.spark.streams.addListener(streams)
    ctx.engine.reset()
    val t0 = System.nanoTime()
    val o = w.run()
    val wall = (System.nanoTime() - t0) / 1e9
    val v = w.verdict(o)
    report(v.tally)
    if (!a.trace) {
      // measured flows over the time from the interval's start until its
      // last window reached the sink
      val seconds = (v.lastEmitMs - o.measureFromMs) / 1000.0
      json(v.tally, Seq(
        ("setup_s", sessionS + Stats.median(gens) + o.setupS, "s"),
        ("flows_per_s", v.flowsMeasured / seconds, "flows/s"),
        ("emit_latency_p50_ms", Stats.median(v.emitLatMs), "ms"),
        ("emit_latency_p90_ms", Stats.quantile(v.emitLatMs, 0.9), "ms"),
        ("alert_latency_p50_ms", Stats.median(v.alertLatMs), "ms")))
    } else {
      val e = ctx.engine
      val compile = Seq.fill(5)(timed(w.tree.parsed))
      json(v.tally, perLayer(w.layers(o, v, streams) ++ Map(
        "config.compile_s" -> Stats.median(compile),
        "engine.task_s" -> e.taskRunMs.get / 1e3,
        "engine.cpu_busy_frac" -> e.taskCpuNs.get / 1e9 / (wall * ctx.cores),
        "engine.gc_s" -> e.gcMs.get / 1e3,
        "engine.sched_delay_s" -> e.schedDelayMs.get / 1e3,
        "engine.shuffle_write_mb" -> e.shuffleWriteBytes.get / 1e6,
        "engine.shuffle_records" -> e.shuffleRecords.get.toDouble,
        "engine.spill_mb" -> e.spillBytes.get / 1e6,
        "engine.stages" -> e.stages.get.toDouble,
        "engine.tasks" -> e.tasks.get.toDouble,
        "engine.peak_rss_mb" -> Stats.peakRssMb(),
        "checker.failed_frac" ->
          v.tally.failed.toDouble / math.max(1L, v.tally.attempted))))
    }
  }

  /** Every per-layer metric, in a fixed order, with its unit; a metric
    * that does not apply to the workload reads 0. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.decode_s" -> "s",
    "sources.materialize_s" -> "s", "sources.packets_in" -> "count",
    "sources.flows_out" -> "count", "sources.decode_loss_frac" -> "ratio",
    "sources.udp_drop_frac" -> "ratio", "sources.spool_lag_ms" -> "ms",
    "config.compile_s" -> "s", "sinks.archive_write_s" -> "s",
    "sinks.rows_out" -> "count", "sinks.bytes_out" -> "bytes",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.late_rows" -> "count", "streaming.input_lag_s" -> "s",
    "streaming.window_emissions" -> "count",
    "engine.task_s" -> "s", "engine.gc_s" -> "s",
    "engine.cpu_busy_frac" -> "ratio", "engine.sched_delay_s" -> "s",
    "engine.shuffle_write_mb" -> "MB", "engine.shuffle_records" -> "count",
    "engine.spill_mb" -> "MB", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.peak_rss_mb" -> "MB",
    "gen.late_ms_p99" -> "ms",
    "gen.offered_flows_per_s" -> "flows/s",
    "trace.full_pass_s" -> "s", "trace.overhead_frac" -> "ratio",
    "checker.failed_frac" -> "ratio")

  /** Per-layer metrics that only netflow_fwm and mo_fanout produce;
    * BENCHMARK.json lists neither workload, so these are printed only by
    * the workload that produces them. */
  val unlistedUnits: Seq[(String, String)] = Seq(
    "filter.self_s" -> "s", "filter.pass_frac" -> "ratio",
    "operators.fwm_agg_s" -> "s", "operators.topn_s" -> "s",
    "operators.mavg_s" -> "s", "operators.classify_s" -> "s",
    "operators.groups_out" -> "count", "operators.shared_fwm_s" -> "s",
    "operators.fanout_rows_per_flow" -> "ratio", "sinks.export_s" -> "s")

  def perLayer(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val units = perLayerUnits ++ unlistedUnits.filter(u => m.contains(u._1))
    val unknown = m.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    units.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
