package perfbench

import java.io.ByteArrayOutputStream
import java.io.DataOutputStream

import scala.util.Random

/** The load generator ("gen" layer): a seeded model of a small exporter
  * fleet and the wire bytes it sends. Every byte is a pure function of
  * the seed, so the same seed replays the same capture and a different
  * seed gives different traffic.
  *
  * The flow list is kept beside the bytes: it is the ground truth the
  * [[Reference]] checker computes expected results from. The engine only
  * ever sees the encoded packets (pktdump files or UDP datagrams).
  */
object Gen {

  sealed trait Wire
  case object V5 extends Wire
  case object V9 extends Wire
  case object Ipfix extends Wire
  case object Sflow extends Wire

  /** One exporter: wire format, the address it sends from, its v9
    * source id / IPFIX observation domain, and its sampling rate (v5
    * header interval, v9/IPFIX options data, sFlow sample field). */
  final case class Exporter(idx: Int, wire: Wire, ip: Long, sourceId: Long,
                            sampling: Long)

  /** One flow as the exporter meant it. `ts` is the capture timestamp
    * of its packet (the engine's event time). */
  final case class Flow(exp: Int, ts: Long, src: Long, dst: Long,
                        sport: Int, dport: Int, proto: Int, bytes: Long,
                        pkts: Long, inIf: Int, outIf: Int)

  /** One packet: `seq` is unique over the whole capture and is written
    * into the header's sequence field, so a packet can be identified
    * again after it went through a socket and a spool. */
  final case class Packet(exp: Int, seq: Long, ts: Long,
                          payload: Array[Byte], flows: IndexedSeq[Flow])

  /** The traffic dimensions a workload is generated with. */
  final case class Dims(
      exporters: Seq[Wire],
      recordsPerPacket: Int,
      reannounceEvery: Int, // packets between template announcements
      hosts: Int,           // customer hosts, Zipf-ranked
      zipfS: Double,        // key skew
      customerShare: Double // share of flows towards customer prefixes
  )

  /** 8 exporters: mostly v9/IPFIX, one v5 and one sFlow agent. */
  val fleet: Seq[Wire] = Seq(V9, V9, V9, Ipfix, Ipfix, Ipfix, V5, Sflow)

  val batchDims: Dims = Dims(fleet, recordsPerPacket = 25,
    reannounceEvery = 20, hosts = 4096, zipfS = 1.1, customerShare = 0.8)

  /** The live sender has no sFlow agent: sFlow is decoded by a separate
    * decoder that the streaming path does not run. */
  val streamDims: Dims = batchDims.copy(
    exporters = Seq(V9, V9, V9, Ipfix, Ipfix, V5))

  /** Sampling rate by exporter index (v5's header field has 14 bits). */
  private val samplingRates = Seq(1L, 10L, 100L, 512L, 1000L, 2000L,
    4096L, 64L)

  /** Customer prefixes are 10.p.0.0/16, p < [[customerPrefixes]]. */
  val customerPrefixes = 16

  /** Popular destination ports, in popularity order. */
  val ports: IndexedSeq[Int] = IndexedSeq(443, 80, 53, 22, 8080, 25, 123,
    3389, 993, 5060, 1194, 8443)

  def exporters(dims: Dims): Seq[Exporter] =
    dims.exporters.zipWithIndex.map { case (w, i) =>
      Exporter(i, w, ip = 0x7f000000L + 10 + i, sourceId = 100L + i,
        sampling = samplingRates(i % samplingRates.size))
    }

  /** Inverse-CDF sampler over ranks 0 until n with weight 1/(k+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def hostAddr(rank: Int): Long = {
    val p = rank % customerPrefixes
    val h = rank / customerPrefixes
    (10L << 24) | (p.toLong << 16) | (((h >> 8) & 0xff).toLong << 8) |
      ((h & 0xff) + 1).toLong
  }

  /** Seeded flow model shared by every workload. */
  final class FlowModel(seed: Long, dims: Dims) {
    private val r = new Random(seed)
    private val hostZipf = new Zipf(dims.hosts, dims.zipfS)
    private val portZipf = new Zipf(ports.size, 1.0)

    def next(exp: Int, ts: Long, wire: Wire): Flow = {
      val dst =
        if (r.nextDouble() < dims.customerShare) hostAddr(hostZipf.sample(r))
        else (172L << 24) | (16L << 16) | r.nextInt(1 << 16).toLong
      val src = (100L << 24) | (64L << 16) | r.nextInt(1 << 16).toLong
      val proto = if (r.nextDouble() < 0.75) 6 else 17
      val pkts = if (wire == Sflow) 1L else 1L + r.nextInt(40)
      val perPkt = 40L + r.nextInt(1461)
      Flow(exp, ts, src, dst, sport = 1024 + r.nextInt(64512),
        dport = ports(portZipf.sample(r)), proto = proto,
        bytes = if (wire == Sflow) perPkt else pkts * perPkt,
        pkts = pkts, inIf = 1 + r.nextInt(8), outIf = 1 + r.nextInt(8))
    }
  }

  // ------------------------------------------------------------ encoders

  private final class Buf {
    val bytes = new ByteArrayOutputStream(2048)
    val out = new DataOutputStream(bytes)
    def u8(v: Long): Buf = { out.writeByte(v.toInt); this }
    def u16(v: Long): Buf = { out.writeShort(v.toInt); this }
    def u32(v: Long): Buf = { out.writeInt(v.toInt); this }
    def u64(v: Long): Buf = { out.writeLong(v); this }
    def raw(b: Array[Byte]): Buf = { out.write(b); this }
    def pad4(): Buf = { while (bytes.size() % 4 != 0) u8(0); this }
    def result(): Array[Byte] = bytes.toByteArray
  }

  /** A set/flowset: u16 id, u16 length, body. */
  private def set(id: Int, body: Array[Byte]): Array[Byte] = {
    val b = new Buf
    b.u16(id).u16(4 + body.length).raw(body)
    b.result()
  }

  private val DataTid = 256
  private val OptionsTid = 257

  // v9 template: (field id, length)
  private val v9Fields: Seq[(Int, Int)] = Seq(8 -> 4, 12 -> 4, 7 -> 2,
    11 -> 2, 4 -> 1, 6 -> 1, 1 -> 8, 2 -> 4, 10 -> 4, 14 -> 4, 21 -> 4,
    22 -> 4, 16 -> 4, 17 -> 4)
  // IPFIX template: (information element, length)
  private val ipfixFields: Seq[(Int, Int)] = Seq(8 -> 4, 12 -> 4, 7 -> 2,
    11 -> 2, 4 -> 1, 6 -> 1, 1 -> 8, 2 -> 8, 10 -> 4, 14 -> 4, 152 -> 8,
    153 -> 8)

  private def flowRecord(f: Flow, fields: Seq[(Int, Int)]): Array[Byte] = {
    val b = new Buf
    fields.foreach {
      case (8, _)   => b.u32(f.src)
      case (12, _)  => b.u32(f.dst)
      case (7, _)   => b.u16(f.sport)
      case (11, _)  => b.u16(f.dport)
      case (4, _)   => b.u8(f.proto)
      case (6, _)   => b.u8(if (f.proto == 6) 0x18 else 0)
      case (1, 8)   => b.u64(f.bytes)
      case (2, 8)   => b.u64(f.pkts)
      case (2, _)   => b.u32(f.pkts)
      case (10, _)  => b.u32(f.inIf)
      case (14, _)  => b.u32(f.outIf)
      case (21, _)  => b.u32(f.ts * 1000L)
      case (22, _)  => b.u32(f.ts * 1000L - 1000L)
      case (16, _)  => b.u32(64512L + f.exp)
      case (17, _)  => b.u32(65000L + (f.dst & 0xff))
      case (152, _) => b.u64(f.ts * 1000L - 1000L)
      case (153, _) => b.u64(f.ts * 1000L)
      case (id, l)  => sys.error(s"no encoder for field $id/$l")
    }
    b.result()
  }

  private def templateBody(tid: Int, fields: Seq[(Int, Int)]): Array[Byte] = {
    val b = new Buf
    b.u16(tid).u16(fields.size)
    fields.foreach { case (id, l) => b.u16(id).u16(l) }
    b.result()
  }

  private def v9(e: Exporter, seq: Long, ts: Long, flows: Seq[Flow],
                 announce: Boolean): Array[Byte] = {
    val sets = Seq.newBuilder[Array[Byte]]
    if (announce) {
      sets += set(0, templateBody(DataTid, v9Fields))
      // options template: scope System(1)/4, option SAMPLING_INTERVAL(34)/4
      val ot = new Buf
      ot.u16(OptionsTid).u16(4).u16(4).u16(1).u16(4).u16(34).u16(4).pad4()
      sets += set(1, ot.result())
      sets += set(OptionsTid, new Buf().u32(e.sourceId).u32(e.sampling)
        .result())
    }
    val data = new Buf
    flows.foreach(f => data.raw(flowRecord(f, v9Fields)))
    sets += set(DataTid, data.pad4().result())
    val all = sets.result()
    val b = new Buf
    b.u16(9).u16(flows.size + (if (announce) 3 else 0)).u32(ts * 1000L)
      .u32(ts).u32(seq).u32(e.sourceId)
    all.foreach(b.raw)
    b.result()
  }

  private def ipfix(e: Exporter, seq: Long, ts: Long, flows: Seq[Flow],
                    announce: Boolean): Array[Byte] = {
    val sets = Seq.newBuilder[Array[Byte]]
    if (announce) {
      sets += set(2, templateBody(DataTid, ipfixFields))
      // options template: 2 fields, 1 scope (observationDomainId 149),
      // option samplingInterval (34)
      val ot = new Buf
      ot.u16(OptionsTid).u16(2).u16(1).u16(149).u16(4).u16(34).u16(4).pad4()
      sets += set(3, ot.result())
      sets += set(OptionsTid, new Buf().u32(e.sourceId).u32(e.sampling)
        .result())
    }
    val data = new Buf
    flows.foreach(f => data.raw(flowRecord(f, ipfixFields)))
    sets += set(DataTid, data.result())
    val all = sets.result()
    val b = new Buf
    b.u16(10).u16(16 + all.map(_.length).sum).u32(ts).u32(seq)
      .u32(e.sourceId)
    all.foreach(b.raw)
    b.result()
  }

  private def v5(e: Exporter, seq: Long, ts: Long,
                 flows: Seq[Flow]): Array[Byte] = {
    val b = new Buf
    b.u16(5).u16(flows.size).u32(ts * 1000L).u32(ts).u32(0).u32(seq)
      .u8(0).u8(e.idx).u16(e.sampling & 0x3fff)
    flows.foreach { f =>
      b.u32(f.src).u32(f.dst).u32(0).u16(f.inIf).u16(f.outIf).u32(f.pkts)
        .u32(f.bytes).u32(ts * 1000L - 1000L).u32(ts * 1000L)
        .u16(f.sport).u16(f.dport).u8(0)
        .u8(if (f.proto == 6) 0x18 else 0).u8(f.proto).u8(0)
        .u16(64512 + f.exp).u16(65000 + (f.dst & 0xff)).u8(24).u8(24)
        .u16(0)
    }
    b.result()
  }

  /** sFlow v5 datagram: one flow sample with one raw-header record per
    * flow; the sampled frame's length is the flow's byte count. */
  private def sflow(e: Exporter, seq: Long, flows: Seq[Flow]): Array[Byte] = {
    val b = new Buf
    b.u32(5).u32(1).u32(e.ip).u32(0).u32(seq).u32(seq * 1000L)
      .u32(flows.size)
    flows.zipWithIndex.foreach { case (f, i) =>
      val frame = new Buf
      frame.u16(0x0200).u32(0x00000001L) // dst mac
        .u16(0x0200).u32(0x00000002L)    // src mac
        .u16(0x0800)
      val l4Len = if (f.proto == 6) 20 else 8
      frame.u8(0x45).u8(0).u16(f.bytes).u16(i).u16(0).u8(64).u8(f.proto)
        .u16(0).u32(f.src).u32(f.dst)
      if (f.proto == 6)
        frame.u16(f.sport).u16(f.dport).u32(0).u32(0).u8(0x50).u8(0x18)
          .u16(65535).u16(0).u16(0)
      else frame.u16(f.sport).u16(f.dport).u16(l4Len).u16(0)
      val header = frame.result()
      val rec = new Buf
      rec.u32(1).u32(f.bytes).u32(4).u32(header.length).raw(header).pad4()
      val recBytes = rec.result()
      val sample = new Buf
      sample.u32(seq * 32 + i).u32(e.idx).u32(e.sampling)
        .u32((seq * 32 + i) * e.sampling).u32(0).u32(f.inIf).u32(f.outIf)
        .u32(1).u32(1).u32(recBytes.length).raw(recBytes)
      val s = sample.result()
      b.u32(1).u32(s.length).raw(s)
    }
    b.result()
  }

  def encode(e: Exporter, seq: Long, ts: Long, flows: Seq[Flow],
             announce: Boolean): Array[Byte] = e.wire match {
    case V5    => v5(e, seq, ts, flows)
    case V9    => v9(e, seq, ts, flows, announce)
    case Ipfix => ipfix(e, seq, ts, flows, announce)
    case Sflow => sflow(e, seq, flows)
  }

  // ------------------------------------------------------------ captures

  /** A batch capture: per exporter, `packetsPerExporter` packets spread
    * over `spanSec` seconds starting at `t0`. Every exporter's first
    * packet, and every `reannounceEvery`-th after it, carries the
    * templates and the sampling options. */
  final case class Capture(exporters: Seq[Exporter],
                           packets: IndexedSeq[Packet]) {
    lazy val flows: IndexedSeq[Flow] = packets.flatMap(_.flows)
    def sampling(exp: Int): Long = exporters(exp).sampling
  }

  def capture(seed: Long, dims: Dims, packetsPerExporter: Int,
              spanSec: Long): Capture = {
    val exps = exporters(dims)
    val model = new FlowModel(seed, dims)
    val t0 = 1_700_000_000L + new Random(seed ^ 0x5eedL).nextInt(86400)
    var seq = 0L
    val pkts = IndexedSeq.newBuilder[Packet]
    for (e <- exps; k <- 0 until packetsPerExporter) {
      val ts = t0 + k.toLong * spanSec / packetsPerExporter
      val flows = IndexedSeq.fill(dims.recordsPerPacket)(
        model.next(e.idx, ts, e.wire))
      val announce = k % dims.reannounceEvery == 0
      pkts += Packet(e.idx, seq, ts, encode(e, seq, ts, flows, announce),
        flows)
      seq += 1
    }
    Capture(exps, pkts.result())
  }

  /** Files of one capture: per exporter, chunks of `chunkPackets`
    * packets (a multiple of the re-announce interval, so every file
    * opens with templates). Returns (relative file name, packets). */
  def files(c: Capture, chunkPackets: Int): Seq[(String, Seq[Packet])] =
    c.packets.groupBy(_.exp).toSeq.sortBy(_._1).flatMap { case (e, ps) =>
      val dir = if (c.exporters(e).wire == Sflow) "sflow" else "netflow"
      ps.sortBy(_.seq).grouped(chunkPackets).zipWithIndex.map {
        case (chunk, i) => (f"$dir/exp$e%02d-$i%04d.gpkd", chunk)
      }
    }

  /** Write a capture through the engine's own pktdump writer. */
  def writeCapture(c: Capture, dir: String, chunkPackets: Int): Unit =
    files(c, chunkPackets).foreach { case (name, ps) =>
      graft.sources.PktDump.write(s"$dir/$name",
        ps.map(p => (p.payload, p.ts, c.exporters(p.exp).ip)))
    }

  // ------------------------------------------------------------ live feed

  /** A live feed for the UDP sender: packets in send order, one every
    * `stepNanos`. Every `burstEvery`-th packet is
    * a single-packet over-limit burst towards its own victim host.
    * Header timestamps are placeholders: the collector stamps arrival. */
  final case class Feed(exporters: Seq[Exporter],
                        packets: IndexedSeq[Packet],
                        stepNanos: Long,
                        bursts: Set[Long]) // packet seqs

  /** Victim host of the i-th burst: outside every customer prefix used
    * by normal traffic, inside the root filter. */
  def victim(i: Int): Long = (10L << 24) | (200L << 16) | (i + 1).toLong

  def feed(seed: Long, dims: Dims, packetsPerSec: Int, seconds: Double,
           burstEvery: Int, burstBytes: Long): Feed = {
    val exps = exporters(dims)
    val model = new FlowModel(seed, dims)
    val n = (packetsPerSec * seconds).toInt
    val counts = Array.fill(exps.size)(0)
    val pkts = IndexedSeq.newBuilder[Packet]
    val bursts = Set.newBuilder[Long]
    var nBurst = 0
    for (i <- 0 until n) {
      val e = exps(i % exps.size)
      val announce = counts(e.idx) % dims.reannounceEvery == 0
      counts(e.idx) += 1
      val base = IndexedSeq.fill(dims.recordsPerPacket)(
        model.next(e.idx, 0L, e.wire))
      val isBurst = burstEvery > 0 && i > 0 && i % burstEvery == 0
      val flows =
        if (!isBurst) base
        else {
          val v = victim(nBurst)
          nBurst += 1
          bursts += i.toLong
          // spread the burst's bytes over the packet's records
          base.map(f => f.copy(dst = v, bytes = burstBytes /
            dims.recordsPerPacket / e.sampling + 1))
        }
      pkts += Packet(e.idx, i.toLong, 0L, encode(e, i.toLong, 0L, flows,
        announce), flows)
    }
    Feed(exps, pkts.result(), 1_000_000_000L / packetsPerSec,
      bursts.result())
  }

  /** Sequence number of an encoded netflow packet (the field [[encode]]
    * writes `seq` into), or -1 for anything else. */
  def seqOf(payload: Array[Byte]): Long = {
    def u32(o: Int): Long =
      ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
        ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
    if (payload.length < 20) -1L
    else ((payload(0) & 0xff) << 8 | (payload(1) & 0xff)) match {
      case 5  => u32(16)
      case 9  => u32(12)
      case 10 => u32(8)
      case _  => -1L
    }
  }
}
