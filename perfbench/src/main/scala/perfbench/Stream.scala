package perfbench

import java.io.{DataInputStream, File, FileInputStream}
import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.filter.FilterEnv
import graft.sources.{NetflowDecoder, UdpCollector}
import graft.streaming.{ExtStatsGate, MavgStream, Pipeline}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import perfbench.Reference.{FwmRow, Tally}

/** stream_alerts: an open-loop sender → UdpCollector spool → strict
  * pktdump tail → decodeStream → one MO: its fwm sections as one
  * `Pipeline.buildSharedFwm` query, its mavg through `Pipeline.build` →
  * the benchmark's own foreachBatch sinks, which stamp emission times. */
final class StreamAlerts(ctx: Ctx) {
  import ctx.spark
  import StreamAlerts._

  private val env = FilterEnv.flow(spark)
  val tree: Mo.Node = Mo.streamMo(limit)
  private var feed: Gen.Feed = _

  /** Timed and repeated for setup_s: the live feed is generated up
    * front so sending costs no encoding work. */
  def generate(): Unit =
    feed = Gen.feed(ctx.seed, Gen.streamDims, packetsPerSec,
      primeSec + warmupSec + ctx.seconds + drainSec, burstEvery, burstBytes)

  final case class Emission(section: String, window: Long,
                            rows: Seq[FwmRow], atMs: Long)
  final case class AlertSeen(key: String, event: String, atMs: Long)

  /** Everything one streaming run observed. */
  final case class Outcome(
      sent: Int, received: Long, createdMs: Array[Long], lateNs: Array[Long],
      measureFromMs: Long, measureToMs: Long,
      emissions: Seq[Emission], alerts: Seq[AlertSeen],
      arrivalSec: Map[Long, Long],  // packet seq → collector second
      segmentSeenMs: Map[String, Long], segmentSeqs: Map[String, Seq[Long]],
      setupS: Double)

  /** Start collector and queries, warm up, send, drain, stop. */
  def run(): Outcome = {
    val tSetup = System.nanoTime()
    val run = ctx.path(s"stream-${System.nanoTime()}")
    val spool = s"$run/spool"
    val collector = new UdpCollector(spool, rotateMillis = rotateMs)
    val emissions = new ConcurrentLinkedQueue[Emission]()
    val alerts = new ConcurrentLinkedQueue[AlertSeen]()
    val ns = s"bench-${ctx.seed}-${System.nanoTime()}"
    val queries = try {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      val packets = spark.readStream.format("pktdump")
        .option("strict", "true").load(spool)
        // one stable decode partition per exporter address, so each
        // exporter's templates stay in the cache its data is read with
        .repartition(partitions, col("src_ip"))
      val flows = ctx.spans.span("sources.decode_stream")(
        NetflowDecoder.decodeStream(packets, ns)
          .withColumn("ts", timestamp_seconds(col("ts_sec"))))
      val mo = ctx.spans.span("config.compile")(tree.parsed)
      val rate = Some(col("sampling_rate"))
      val groups = ctx.spans.span("streaming.build")(
        Pipeline.buildSharedFwm(mo, flows, env, samplingRate = rate))
      val (_, mavgs) = ctx.spans.span("streaming.build")(
        Pipeline.build(mo, flows, env, samplingRate = rate, mavgTickMs = 0L))
      val gate = new ExtStatsGate
      val fq = groups.map { g =>
        g.combined.writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", s"$run/ckpt-fwm-${g.timeSec}")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            emit(batch).foreach(emissions.add)
          }.start()
      }
      val mq = mavgs.map { b =>
        b.alerts.writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", s"$run/ckpt-${b.section.name}")
          .foreachBatch { (ds: Dataset[MavgStream.AlertRow], _: Long) =>
            val rows = ds.collect()
            val at = System.currentTimeMillis()
            rows.foreach(a => alerts.add(AlertSeen(a.key, a.event, at)))
            gate.applyAlerts(rows.toSeq, Pipeline.extNames(b))
          }.start()
      }
      fq ++ mq
    } catch { case e: Throwable => collector.close(); throw e }

    val watcher = new SpoolWatcher(new File(spool))
    val n = feed.packets.size
    val createdMs = new Array[Long](n)
    val lateNs = new Array[Long](n)
    val sender = new Sender(collector.localPort, createdMs, lateNs)
    var setupS = 0.0
    var startMs = 0L
    try {
      watcher.start()
      // priming: the first packets go out at once and the clock starts
      // only when every query has finished a batch with input, so the
      // cold first micro-batch (planning, codegen) counts as set-up
      sender.run(0, primePackets, System.nanoTime())
      val primeDeadline = System.currentTimeMillis() + primeWaitMs
      while (!queries.forall(_.recentProgress.exists(_.numInputRows > 0)) &&
             System.currentTimeMillis() < primeDeadline) {
        queries.flatMap(_.exception).headOption.foreach(e => throw e)
        Thread.sleep(20)
      }
      setupS = (System.nanoTime() - tSetup) / 1e9
      startMs = System.currentTimeMillis() + 100
      sender.run(primePackets, n, System.nanoTime() + 100000000L)
      // every measured window closes once later traffic arrived; wait
      // for the queries to drain what the spool holds
      val deadline = System.currentTimeMillis() + drainWaitMs
      val lastWindow = (startMs + ((warmupSec + ctx.seconds) * 1000).toLong) /
        1000 - 1
      def closed = tree.fwm.forall(s => emissions.asScala.exists(e =>
        e.section == s.name && e.window >= lastWindow))
      // and every burst sent has started its alert
      def alerted = alerts.asScala.count(_.event == "start") >=
        feed.bursts.size
      while ((!closed || !alerted) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      queries.foreach(_.processAllAvailable())
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Exception => () })
      sender.close()
      watcher.stop()
      collector.close()
      NetflowDecoder.clearStreamCache(ns)
    }
    queries.flatMap(_.exception).headOption.foreach(e => throw e)
    val (arrival, segSeqs) = readSpool(new File(spool))
    Outcome(n, collector.packetsReceived.get(), createdMs, lateNs,
      startMs + (warmupSec * 1000).toLong,
      startMs + ((warmupSec + ctx.seconds) * 1000).toLong,
      emissions.asScala.toSeq, alerts.asScala.toSeq, arrival,
      watcher.seen, segSeqs, setupS)
  }

  /** The fwm sink: the closed windows of every section arrive in one
    * aggregate-sized batch; collect it once and stamp the emission. */
  private def emit(batch: DataFrame): Seq[Emission] = {
    val rows = batch.collect()
    val at = System.currentTimeMillis()
    rows.groupBy(r => (r.getAs[String]("section"), r.getAs[Long]("time")))
      .toSeq.map { case ((sec, w), rs) =>
        val d = tree.fwm.find(_.name == sec).get
        Emission(sec, w, sortRows(rs.toSeq.map { r =>
          FwmRow(d.keys.map(k => r.getAs[Long](k.sql)),
            r.getAs[Long](d.measure.text))
        }), at)
      }
  }

  /** The open-loop sender: packet i is due at `t0 + (i - from) × step`
    * whatever happened to earlier packets; its lateness is measured from
    * that due time and its creation time is stamped at send. Each
    * exporter sends from its own loopback address when the host allows. */
  private final class Sender(port: Int, createdMs: Array[Long],
                             lateNs: Array[Long]) {
    private val lo = InetAddress.getByName("127.0.0.1")
    private val sockets = feed.exporters.map { e =>
      val bindTo = InetAddress.getByAddress(
        java.nio.ByteBuffer.allocate(4).putInt(e.ip.toInt).array())
      try new DatagramSocket(new InetSocketAddress(bindTo, 0))
      catch { case _: java.net.SocketException => new DatagramSocket() }
    }

    def run(from: Int, until: Int, t0: Long): Unit =
      (from until until).foreach { i =>
        val due = t0 + feed.stepNanos * (i - from)
        var now = System.nanoTime()
        // park until just before the due time and spin the rest, so the
        // sender does not hold a core the engine needs
        while (now < due) {
          if (due - now > 200000L) LockSupport.parkNanos(due - now - 100000L)
          else Thread.onSpinWait()
          now = System.nanoTime()
        }
        val p = feed.packets(i)
        createdMs(i) = System.currentTimeMillis()
        lateNs(i) = now - due
        sockets(p.exp).send(new DatagramPacket(p.payload, p.payload.length,
          lo, port))
      }

    def close(): Unit = sockets.foreach(_.close())
  }

  // ------------------------------------------------------------ checking

  /** Windows and alerts checked against the reference; latency samples
    * come from the measured interval only. */
  final case class Verdict(tally: Tally, emitLatMs: Seq[Double],
                           alertLatMs: Seq[Double], flowsMeasured: Long,
                           valueLossFrac: Double,
                           lastEmitMs: Long)

  def verdict(o: Outcome): Verdict = {
    val packets = feed.packets
    val rate = (e: Int) => feed.exporters(e).sampling
    // event time is the collector's arrival second; a packet lost on
    // the way keeps its send second, so its window cannot match
    val sentAt = packets.filter(p => o.createdMs(p.seq.toInt) > 0)
    val second = (p: Gen.Packet) => o.arrivalSec.getOrElse(p.seq,
      o.createdMs(p.seq.toInt) / 1000)
    val flows = sentAt.flatMap(p => p.flows.map(f => f.copy(ts = second(p))))
    val firstW = math.ceil(o.measureFromMs / 1000.0).toLong
    val lastW = o.measureToMs / 1000 - 1
    val measured = (firstW to lastW).toSet
    val pred = tree.flatten().head._2
    val matching = flows.filter(pred)
    val lastCreated: Map[Long, Long] = sentAt.filter(_.flows.exists(pred))
      .groupMapReduce(second)(p => o.createdMs(p.seq.toInt))(math.max)
    val emitted = o.emissions.groupBy(e => (e.section, e.window))

    var tally = Reference.NoTally
    val emitLat = Seq.newBuilder[Double]
    tree.fwm.foreach { s =>
      val expected = Reference.fwm(matching, rate, s, _.ts)
        .map { case (w, rs) => w -> sortRows(rs) }
      measured.toSeq.sorted.foreach { w =>
        val got = emitted.get((s.name, w))
        val ok = got.exists(es => es.size == 1 &&
          expected.get(w).contains(es.head.rows))
        tally += Tally(1, if (ok) 0 else 1, if (ok) None
          else Some(s"${s.name} window $w: expected " +
            s"${expected.get(w).map(_.take(3))} got " +
            s"${got.map(_.map(_.rows.take(3)))}"))
        for (es <- got; c <- lastCreated.get(w))
          emitLat += (es.head.atMs - c).toDouble
      }
    }
    // alerts: every expected start seen once, nothing else started
    val m = tree.mavg.head
    val arrivals = matching.map(f => (f.dst, f.ts,
      (m.measure.of(f) * m.measure.scale * rate(f.exp)).toDouble))
    val expectedKeys = Reference.alertKeys(arrivals, m.timeSec, m.limit)
      .map(Reference.dotted)
    val starts = o.alerts.filter(_.event == "start").groupBy(_.key)
    val alertBad = (expectedKeys ++ starts.keySet).toSeq.filter(k =>
      !expectedKeys.contains(k) || starts.get(k).forall(_.size != 1))
    tally += Tally(expectedKeys.size.max(starts.size), alertBad.size,
      alertBad.headOption.map(k => s"alert $k: expected " +
        s"${expectedKeys.contains(k)} got ${starts.get(k)}"))
    val alertLat = packets.filter(p => feed.bursts(p.seq) &&
        o.createdMs(p.seq.toInt) >= o.measureFromMs &&
        o.createdMs(p.seq.toInt) < o.measureToMs)
      .flatMap(p => starts.get(Reference.dotted(p.flows.head.dst))
        .map(_.head.atMs - o.createdMs(p.seq.toInt)).map(_.toDouble))
    // traffic lost between the wire and the sink: octets of the
    // measured windows in the unlimited per-protocol section
    val byProto = tree.fwm.find(s => s.keys == Seq(Mo.proto) &&
      s.measure == Mo.octets).get
    val want = matching.filter(f => measured.contains(f.ts))
      .map(f => byProto.measure.of(f) * rate(f.exp)).sum
    val seen = o.emissions.filter(e => e.section == byProto.name &&
      measured.contains(e.window)).flatMap(_.rows).map(_.value).sum
    Verdict(tally, emitLat.result(), alertLat,
      flows.count(f => measured.contains(f.ts)).toLong,
      1.0 - seen.toDouble / math.max(1L, want),
      o.emissions.filter(e => measured.contains(e.window))
        .map(_.atMs).maxOption.getOrElse(o.measureToMs))
  }

  /** Per-layer metrics of a traced run. */
  def layers(o: Outcome, v: Verdict, sc: StreamCounters): Map[String, Double] = {
    val ps = sc.all
    val active = ps.filter(_.inputRows > 0)
    val spoolLag = o.segmentSeqs.toSeq.flatMap { case (seg, seqs) =>
      o.segmentSeenMs.get(seg).toSeq.flatMap(seen =>
        seqs.map(s => (seen - o.createdMs(s.toInt)).toDouble))
    }
    Map(
      "sources.udp_drop_frac" -> (o.sent - o.received).toDouble / o.sent,
      "sources.decode_loss_frac" -> v.valueLossFrac,
      "sources.packets_in" -> o.received.toDouble,
      "sources.spool_lag_ms" -> Stats.median(spoolLag),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_ms_p50" -> Stats.median(active.map(_.batchMs.toDouble)),
      "streaming.add_batch_ms_p50" ->
        Stats.median(active.map(_.addBatchMs.toDouble)),
      "streaming.commit_ms_p50" ->
        Stats.median(active.map(_.commitMs.toDouble)),
      "streaming.state_commit_ms_p50" ->
        Stats.median(active.map(_.stateCommitMs.toDouble)),
      "streaming.state_rows" -> Stats.quantile(
        ps.map(_.stateRows.toDouble), 1.0),
      "streaming.state_mb" -> Stats.quantile(
        ps.map(_.stateBytes.toDouble), 1.0) / 1e6,
      "streaming.late_rows" -> ps.map(_.dropped.toDouble).sum,
      "streaming.input_lag_s" -> Stats.median(ps.flatMap(_.lagS)),
      "gen.late_ms_p99" -> Stats.quantile(o.lateNs.map(_ / 1e6).toSeq, 0.99),
      "gen.offered_flows_per_s" ->
        packetsPerSec.toDouble * Gen.streamDims.recordsPerPacket,
      "streaming.window_emissions" -> v.emitLatMs.size.toDouble)
  }
}

object StreamAlerts {
  /** Sections have no limit and a batch is unordered: compare each
    * window's rows as a set. */
  def sortRows(rs: Seq[FwmRow]): Seq[FwmRow] =
    rs.sortBy(r => (r.keys.mkString(","), r.value))

  /** Offered load: packets per second, 25 flows each. */
  val packetsPerSec = 200
  /** Priming traffic sent before the clock starts, and how long to wait
    * for the first micro-batches to finish with it. */
  val primeSec = 0.5
  val primePackets: Int = (packetsPerSec * primeSec).toInt
  val primeWaitMs = 60000L
  /** Traffic after priming that is not measured: the queries settle. */
  val warmupSec = 4.0
  /** Traffic after the measured interval, so its last windows close. */
  val drainSec = 1.5
  val drainWaitMs = 20000L
  val rotateMs = 250L
  /** Shuffle and state-store partitions of the streaming queries. */
  val partitions = 1
  /** One burst every this many packets (multiple of the 6 exporters, so
    * bursts come from exporter 0: v9, sampling 1, 8-byte counters). */
  val burstEvery = 60
  /** Over-limit threshold in bytes/s, ≥100× the busiest normal host. */
  val limit = 1e12
  val burstBytes: Long = (limit * 5 * 10).toLong

  /** A spool segment's packets: (arrival second of every packet seq,
    * seqs per segment file). Parsed directly from the pktdump layout. */
  def readSpool(dir: File): (Map[Long, Long], Map[String, Seq[Long]]) = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("seg-")).sortBy(_.getName)
    val arrival = Map.newBuilder[Long, Long]
    val perSeg = files.map { f =>
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new FileInputStream(f)))
      val seqs = Seq.newBuilder[Long]
      try {
        in.readInt(); in.readInt() // magic, version
        while (in.available() > 0) {
          val len = in.readInt()
          val ts = in.readLong()
          in.readInt() // src
          val payload = new Array[Byte](len)
          in.readFully(payload)
          val seq = Gen.seqOf(payload)
          arrival += seq -> ts
          seqs += seq
        }
      } finally in.close()
      f.getName -> seqs.result()
    }.toMap
    (arrival.result(), perSeg)
  }

  /** Records when each spool segment became visible to the tail. */
  final class SpoolWatcher(dir: File) {
    @volatile private var running = true
    private val seenMs = new java.util.concurrent.ConcurrentHashMap[String, Long]
    private val t = new Thread(() => {
      while (running) {
        Option(dir.list()).foreach(_.foreach { n =>
          if (n.startsWith("seg-"))
            seenMs.putIfAbsent(n, System.currentTimeMillis())
        })
        Thread.sleep(5)
      }
    }, "spool-watcher")
    t.setDaemon(true)
    def start(): Unit = t.start()
    def stop(): Unit = { running = false; t.join() }
    def seen: Map[String, Long] = seenMs.asScala.toMap
  }
}
