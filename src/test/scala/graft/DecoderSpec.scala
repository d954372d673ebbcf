package graft

import graft.sources.{NetflowDecoder, PayloadParsers, SflowDecoder}
import java.nio.ByteBuffer

/** Decoder specs over hand-built wire packets (the reference has no
  * golden captures; packets are constructed from the public format
  * specs — SURVEY.md §5). */
class DecoderSpec extends SparkTest {

  // -------- helpers to build packets (shared convention: Wire) --------
  private def bytes(parts: Any*): Array[Byte] = Wire.bytes(parts: _*)

  private def fieldIndexOf(name: String): Int =
    NetflowDecoder.outSchema.fieldIndex(name)

  /** The full-width decoded frame holds exactly the `decodePacket` rows
    * (as multisets, every column: String, Binary and null alike). */
  private def assertSameRows(decoded: org.apache.spark.sql.DataFrame,
                             rows: Seq[Array[Any]]): Unit = {
    import scala.jdk.CollectionConverters._
    val expected = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq)).asJava,
      NetflowDecoder.outSchema)
    assert(decoded.schema == NetflowDecoder.outSchema)
    assert(decoded.exceptAll(expected).count() == 0, "rows not decoded")
    assert(expected.exceptAll(decoded).count() == 0, "rows missing")
  }

  test("NetFlow v9: template + data in one packet") {
    // header: version=9 count=2 uptime unix seq sourceId
    val header = bytes(9, 2, 1000L, 1700000000L, 1L, 42L)
    // template 256: in_bytes(1,4), in_pkts(2,4), proto(4,1), src(8,4),
    // dst(12,4), srcport(7,2), dstport(11,2)
    val tmpl = bytes(0, 4 + 4 + 7 * 4, 256, 7,
      1, 4, 2, 4, 4, 1, 8, 4, 12, 4, 7, 2, 11, 2)
    val rec = bytes(1000L, 2L, 6.toByte, 0x0a000001L, 0xc0000202L,
      443, 51234)
    val data = bytes(256, 4 + rec.length, rec)
    val pkt = header ++ tmpl ++ data
    val cache = new NetflowDecoder.TemplateCache
    val rows = NetflowDecoder.decodePacket(pkt, 1700000000L, 1L, cache)
    assert(rows.length == 1)
    val r = rows.head
    assert(r(fieldIndexOf("in_bytes")) == 1000L)
    assert(r(fieldIndexOf("in_pkts")) == 2L)
    assert(r(fieldIndexOf("protocol")) == 6L)
    assert(r(fieldIndexOf("ip4_src_addr")) == 0x0a000001L)
    assert(r(fieldIndexOf("ip4_dst_addr")) == 0xc0000202L)
    assert(r(fieldIndexOf("l4_src_port")) == 443L)
    assert(r(fieldIndexOf("l4_dst_port")) == 51234L)
    assert(r(fieldIndexOf("src_as")) == null) // absent field stays null
    // exporter identity stamped on every flow (flow-info.h:19-33,
    // netflow.c:113-144): dev_ip = the decode call's src_ip
    assert(r(fieldIndexOf("dev_ip")) == 1L)
  }

  test("NetFlow v9: template cached across packets (per exporter)") {
    val cache = new NetflowDecoder.TemplateCache
    val tmplPkt = bytes(9, 1, 0L, 0L, 1L, 7L) ++
      bytes(0, 12, 300, 1, 1, 4)
    assert(NetflowDecoder.decodePacket(tmplPkt, 0L, 9L, cache).isEmpty)
    val dataPkt = bytes(9, 1, 0L, 0L, 2L, 7L) ++
      bytes(300, 8, 5555L)
    // same exporter+source-id: decodes
    val rows = NetflowDecoder.decodePacket(dataPkt, 0L, 9L, cache)
    assert(rows.length == 1 && rows.head(fieldIndexOf("in_bytes")) == 5555L)
    // different exporter ip: no template → no rows
    assert(NetflowDecoder.decodePacket(dataPkt, 0L, 10L, cache).isEmpty)
  }

  test("NetFlow v5 fixed records") {
    val h = ByteBuffer.allocate(24)
    h.putShort(5).putShort(1).putInt(0).putInt(1700000000).putInt(0)
      .putInt(0).put(0.toByte).put(0.toByte).putShort(0)
    val r = ByteBuffer.allocate(48)
    r.putInt(0x0a000002).putInt(0x0a000003).putInt(0) // src dst nh
      .putShort(1).putShort(2)                        // in out
      .putInt(7).putInt(4242)                         // pkts octets
      .putInt(0).putInt(0)                            // first last
      .putShort(1234).putShort(80)                    // ports
      .put(0.toByte).put(0x12.toByte)                 // pad tcpflags
      .put(17.toByte).put(0.toByte)                   // proto tos
      .putShort(100).putShort(200)                    // src/dst as
      .put(24.toByte).put(16.toByte).putShort(0)      // masks pad
    val pkt = h.array() ++ r.array()
    val cache = new NetflowDecoder.TemplateCache
    val rows = NetflowDecoder.decodePacket(pkt, 1L, 0L, cache)
    assert(rows.length == 1)
    val row = rows.head
    assert(row(fieldIndexOf("in_bytes")) == 4242L)
    assert(row(fieldIndexOf("in_pkts")) == 7L)
    assert(row(fieldIndexOf("protocol")) == 17L)
    assert(row(fieldIndexOf("tcp_flags")) == 0x12L)
    assert(row(fieldIndexOf("src_as")) == 100L)
    assert(row(fieldIndexOf("l4_dst_port")) == 80L)
  }

  test("IPFIX: enterprise + variable-length fields (RFC 7011)") {
    // template 256: in_bytes(1,4), dns_name(65510? no - use if_name 82
    // varlen), enterprise field skipped
    val tmpl = bytes(2, 4 + 4 + 4 + 4 + (4 + 4), 256, 3,
      1, 4,                   // in_bytes fixed 4
      82, 65535,              // if_name variable length
      (0x8000 | 99), 2, 123L) // enterprise field (skipped on decode)
    val recBody = bytes(7777L) ++ Array[Byte](3) ++
      "eth".getBytes("US-ASCII") ++ bytes(1)
    val data = bytes(256, 4 + recBody.length, recBody)
    val body = tmpl ++ data
    val pkt = bytes(10, 16 + body.length, 1700000000L, 1L, 5L) ++ body
    val cache = new NetflowDecoder.TemplateCache
    val rows = NetflowDecoder.decodePacket(pkt, 0L, 1L, cache)
    assert(rows.length == 1)
    assert(rows.head(fieldIndexOf("in_bytes")) == 7777L)
    assert(rows.head(fieldIndexOf("if_name")) == "eth")
  }

  test("sFlow v5: raw ethernet/IPv4/TCP sample") {
    val eth = bytes(
      Array[Byte](1, 2, 3, 4, 5, 6), Array[Byte](9, 8, 7, 6, 5, 4),
      0x8100, (0x0fff & 7), 0x0800) ++ ipv4Tcp()
    val rec = bytes(1L, (16 + eth.length).toLong, 1L, 64L, 0L,
      eth.length.toLong) ++ eth
    val sample = bytes(1L, (32 + rec.length).toLong,
      1L, 2L, 1024L, 10L, 0L, 3L, 4L, 1L) ++ rec
    val pkt = bytes(5L, 1L, 0x7f000001L, 0L, 1L, 100L, 1L) ++ sample
    val rows = SflowDecoder.decodePacket(pkt, 123L)
    assert(rows.length == 1)
    val r = rows.head
    assert(r(fieldIndexOf("in_bytes")) == 64L)
    assert(r(fieldIndexOf("sampling_rate")) == 1024L)
    assert(r(fieldIndexOf("dev_ip")) == 0x7f000001L) // in-band agent addr
    assert(r(fieldIndexOf("src_vlan")) == 7L)
    assert(r(fieldIndexOf("protocol")) == 6L)
    assert(r(fieldIndexOf("ip4_src_addr")) == 0x0a000001L)
    assert(r(fieldIndexOf("l4_dst_port")) == 443L)
    assert(r(fieldIndexOf("tcp_flags")) == 0x12L)
  }

  private def ipv4Tcp(): Array[Byte] = {
    val ip = ByteBuffer.allocate(20)
    ip.put(0x45.toByte).put(0.toByte).putShort(40)
      .putShort(99).putShort(0)
      .put(64.toByte).put(6.toByte).putShort(0)
      .putInt(0x0a000001).putInt(0xc0a80101)
    val tcp = ByteBuffer.allocate(20)
    tcp.putShort(55555.toShort).putShort(443)
      .putInt(1).putInt(2)
      .put(0x50.toByte).put(0x12.toByte).putShort(1024)
      .putShort(0).putShort(0)
    ip.array() ++ tcp.array()
  }

  test("DNS response parse (RFC 1035)") {
    val q = bytes(0x1234, 0x8180.toShort.toInt, 1, 2, 0, 0) // hdr qd=1 an=2
    val qname = Array[Byte](3) ++ "www".getBytes ++
      Array[Byte](7) ++ "example".getBytes ++
      Array[Byte](3) ++ "com".getBytes ++ Array[Byte](0)
    val question = qname ++ bytes(1, 1)
    val ans1 = bytes(0xc00c, 1, 1, 60L, 4) ++
      Array[Byte](93.toByte, 184.toByte, 216.toByte, 34.toByte)
    val ans2 = bytes(0xc00c, 28, 1, 60L, 16) ++
      Array.fill[Byte](15)(0) ++ Array[Byte](1)
    val payload = q ++ question ++ ans1 ++ ans2
    val Some((name, ips)) = PayloadParsers.parseDns(payload)
    assert(name == "www.example.com")
    assert(ips == "{93.184.216.34, 0:0:0:0:0:0:0:1}")
  }

  test("sFlow payload parse fills dns_name/dns_ips/sni slots, opt-in " +
    "(reference sflow.c:96-112)") {
    val pkts = Queries.sflowPayloadPackets(2)
    val r0 = SflowDecoder.decodePacket(pkts(0), 1L,
      parseDns = true, parseSni = true).head
    assert(r0(fieldIndexOf("dns_name")) == "d0.example.com")
    assert(r0(fieldIndexOf("dns_ips")) == "{10.9.0.0, 10.9.1.0}")
    assert(r0(fieldIndexOf("sni")) == null)
    val r1 = SflowDecoder.decodePacket(pkts(1), 1L,
      parseDns = true, parseSni = true).head
    assert(r1(fieldIndexOf("sni")) == "s1.example.org")
    assert(r1(fieldIndexOf("dns_name")) == null)
    // flags off (the default): no extraction even with payload present
    val r2 = SflowDecoder.decodePacket(pkts(0), 1L).head
    assert(r2(fieldIndexOf("dns_name")) == null)
    assert(r2(fieldIndexOf("sni")) == null)
    // a DNS QUERY (qr=0) must not extract (xe-dns.h:31-37 parity)
    val query = Array[Byte](0, 1, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0,
      3, 'w', 'w', 'w', 0, 0, 1, 0, 1)
    assert(PayloadParsers.parseDns(query).isEmpty)
  }

  test("TLS SNI extraction (RFC 8446 ClientHello)") {
    val host = "api.example.org"
    val sniExt = bytes(0, host.length + 5,
      host.length + 3, 0.toByte.asInstanceOf[Any], host.length, host)
    val exts = bytes(sniExt.length) ++ sniExt
    val chBody = bytes(0x0303) ++ Array.fill[Byte](32)(7) ++
      Array[Byte](0) ++ bytes(2, 0x1301) ++
      Array[Byte](1, 0) ++ exts
    val hs = Array[Byte](1, 0, 0, chBody.length.toByte) ++ chBody
    val rec = Array[Byte](22, 3, 1) ++ bytes(hs.length) ++ hs
    assert(PayloadParsers.parseSni(rec).contains(host))
  }

  test("NetFlow v9 options template: sampling applied to later flows " +
    "(RFC 3954 §6.1, reference netflow.c:147-365)") {
    val cache = new NetflowDecoder.TemplateCache
    // options template 512: scope System(1,4) + option
    // SAMPLING_INTERVAL(34,4); flowset = tid, scopeLen=4, optLen=4, specs
    val optTmpl = bytes(9, 1, 0L, 0L, 1L, 7L) ++
      bytes(1, 4 + 6 + 8, 512, 4, 4, 1, 4, 34, 4)
    assert(NetflowDecoder.decodePacket(optTmpl, 0L, 1L, cache).isEmpty)
    // options DATA for 512: scope value + sampling interval 100
    // → no flow rows, but the exporter rate is learned
    val optData = bytes(9, 1, 0L, 0L, 2L, 7L) ++
      bytes(512, 4 + 8, 99L, 100L)
    assert(NetflowDecoder.decodePacket(optData, 0L, 1L, cache).isEmpty)
    // regular template + data: rows inherit sampling_rate 100
    val tmpl = bytes(9, 1, 0L, 0L, 3L, 7L) ++ bytes(0, 12, 256, 1, 1, 4)
    NetflowDecoder.decodePacket(tmpl, 0L, 1L, cache)
    val data = bytes(9, 1, 0L, 0L, 4L, 7L) ++ bytes(256, 8, 4242L)
    val rows = NetflowDecoder.decodePacket(data, 0L, 1L, cache)
    assert(rows.length == 1)
    assert(rows.head(fieldIndexOf("in_bytes")) == 4242L)
    assert(rows.head(fieldIndexOf("sampling_rate")) == 100L)
    // a different exporter has no learned rate
    NetflowDecoder.decodePacket(tmpl, 0L, 2L, cache)
    val other = NetflowDecoder.decodePacket(data, 0L, 2L, cache)
    assert(other.head(fieldIndexOf("sampling_rate")) == null)
  }

  test("NetFlow v5 header sampling interval (14-bit field)") {
    val h = ByteBuffer.allocate(24)
    h.putShort(5).putShort(1).putInt(0).putInt(1700000000).putInt(0)
      .putInt(0).put(0.toByte).put(0.toByte)
      .putShort((0x4000 | 250).toShort) // mode=1, interval=250
    val r = ByteBuffer.allocate(48) // zeroed record body is fine here
    val pkt = h.array() ++ r.array()
    val rows = NetflowDecoder.decodePacket(pkt, 1L, 0L,
      new NetflowDecoder.TemplateCache)
    assert(rows.length == 1)
    assert(rows.head(fieldIndexOf("sampling_rate")) == 250L)
  }

  test("IPFIX enterprise values decode via a configured (ent,field) map") {
    // same packet shape as the skip test, but (ent=123, field=99) is now
    // mapped onto vas_session_id (the reference's vendor-field pattern)
    val tmpl = bytes(2, 4 + 4 + 4 + 4 + (4 + 4), 256, 3,
      1, 4, 82, 65535, (0x8000 | 99), 2, 123L)
    val recBody = bytes(7777L) ++ Array[Byte](3) ++
      "eth".getBytes("US-ASCII") ++ bytes(777)
    val data = bytes(256, 4 + recBody.length, recBody)
    val body = tmpl ++ data
    val pkt = bytes(10, 16 + body.length, 1700000000L, 1L, 5L) ++ body
    val rows = NetflowDecoder.decodePacket(pkt, 0L, 1L,
      new NetflowDecoder.TemplateCache,
      entMap = Map((123L, 99) -> 2000))
    assert(rows.length == 1)
    assert(rows.head(fieldIndexOf("in_bytes")) == 7777L)
    assert(rows.head(fieldIndexOf("vas_session_id")) == 777L)
  }

  test("IPFIX options template (set 3, RFC 7011 §3.4.2.2): scope-count " +
    "header parsed, sampling learned from options data, applied to " +
    "flow rows") {
    val cache = new NetflowDecoder.TemplateCache
    def pkt(body: Array[Byte], seq: Long): Array[Byte] =
      bytes(10, 16 + body.length, 1700000000L, seq, 5L) ++ body
    // options template 300: 2 fields total, 1 scope —
    // scope = observationDomainId(149,4), option = SAMPLING_INTERVAL(34,4)
    val optTmpl = bytes(3, 4 + 6 + 2 * 4, 300, 2, 1,
      149, 4, 34, 4)
    // flow template 256: in_bytes(1,4)
    val tmpl = bytes(2, 4 + 4 + 4, 256, 1, 1, 4)
    // options data: scope value 7, sampling interval 100
    val optData = bytes(300, 4 + 8, 7L, 100L)
    // flow data record: in_bytes 5000
    val data = bytes(256, 8, 5000L)
    assert(NetflowDecoder.decodePacket(pkt(optTmpl, 1), 10L, 1L, cache)
      .isEmpty)
    assert(NetflowDecoder.decodePacket(pkt(tmpl, 2), 10L, 1L, cache)
      .isEmpty)
    // options DATA emits no flow rows, but learns the rate
    assert(NetflowDecoder.decodePacket(pkt(optData, 3), 20L, 1L, cache)
      .isEmpty)
    val rows = NetflowDecoder.decodePacket(pkt(data, 4), 30L, 1L, cache)
    assert(rows.length == 1)
    assert(rows.head(fieldIndexOf("in_bytes")) == 5000L)
    assert(rows.head(fieldIndexOf("sampling_rate")) == 100L)
    // a flow record from BEFORE the options data has no rate (epoch floor)
    val early = NetflowDecoder.decodePacket(pkt(data, 5), 15L, 1L, cache)
    assert(early.length == 1)
    assert(early.head(fieldIndexOf("sampling_rate")) == null)
  }

  test("template epoch store: a mid-stream template revision decodes " +
    "each record with the template live at the record's time " +
    "(netflow-templates.c:140-178 seek(LE))") {
    val cache = new NetflowDecoder.TemplateCache
    def hdr(seq: Long) = bytes(9, 1, 0L, 0L, seq, 7L)
    // revision A (epoch 100): tid 256 = in_bytes(1,4)
    val tmplA = hdr(1L) ++ bytes(0, 12, 256, 1, 1, 4)
    // revision B (epoch 200): tid 256 = in_pkts(2,4)
    val tmplB = hdr(2L) ++ bytes(0, 12, 256, 1, 2, 4)
    val data = hdr(3L) ++ bytes(256, 8, 5555L)
    // both revisions are known BEFORE any data decodes — the epoch
    // store must still pick per-record, not latest-wins
    assert(NetflowDecoder.decodePacket(tmplA, 100L, 9L, cache).isEmpty)
    assert(NetflowDecoder.decodePacket(tmplB, 200L, 9L, cache).isEmpty)
    // record at t=150: revision A was live → decodes as in_bytes
    val at150 = NetflowDecoder.decodePacket(data, 150L, 9L, cache)
    assert(at150.length == 1)
    assert(at150.head(fieldIndexOf("in_bytes")) == 5555L)
    assert(at150.head(fieldIndexOf("in_pkts")) == null)
    // record at t=250: revision B was live → decodes as in_pkts
    val at250 = NetflowDecoder.decodePacket(data, 250L, 9L, cache)
    assert(at250.length == 1)
    assert(at250.head(fieldIndexOf("in_pkts")) == 5555L)
    assert(at250.head(fieldIndexOf("in_bytes")) == null)
    // record predating every known revision: skipped (seek(LE) miss)
    assert(NetflowDecoder.decodePacket(data, 50L, 9L, cache).isEmpty)
  }

  test("batch decode is packet-order independent: shuffled replay with " +
    "a template revision and data-before-template still decodes") {
    val spark2 = spark
    import spark2.implicits._
    def hdr(seq: Long) = bytes(9, 1, 0L, 0L, seq, 7L)
    val tmplA = hdr(1L) ++ bytes(0, 12, 256, 1, 1, 4) // epoch 100
    val tmplB = hdr(2L) ++ bytes(0, 12, 256, 1, 2, 4) // epoch 200
    val data = hdr(3L) ++ bytes(256, 8, 5555L)
    // adversarial iteration order: both data packets precede BOTH
    // templates, and the t=150 record must resolve to revision A even
    // though revision B is also in the store
    val pkts = Seq((data, 150L, 9L), (data, 250L, 9L),
      (tmplB, 200L, 9L), (tmplA, 100L, 9L))
    val df = pkts.toDF("payload", "ts_sec", "src_ip").coalesce(1)
    val out = NetflowDecoder.decode(df)
      .select("ts_sec", "in_bytes", "in_pkts")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    assert(out == Set((150L, 5555L, null), (250L, null, 5555L)))
  }

  test("epoch store: same-second conflicting revisions resolve by " +
    "content not arrival order; redundant re-announces evict first") {
    val A = NetflowDecoder.Template(Seq((1, 4, 0L)))
    val B = NetflowDecoder.Template(Seq((2, 4, 0L)))
    // both arrival orders of {re-announce A, revision B} at epoch 100
    // must resolve identically
    val c1 = new NetflowDecoder.TemplateCache
    c1.put(1L, 1L, 9, 256, 50L, A)
    c1.put(1L, 1L, 9, 256, 100L, A)
    c1.put(1L, 1L, 9, 256, 100L, B)
    val c2 = new NetflowDecoder.TemplateCache
    c2.put(1L, 1L, 9, 256, 50L, A)
    c2.put(1L, 1L, 9, 256, 100L, B)
    c2.put(1L, 1L, 9, 256, 100L, A)
    assert(c1.get(1L, 1L, 9, 256, 150L) == c2.get(1L, 1L, 9, 256, 150L))
    assert(c1.get(1L, 1L, 9, 256, 75L).contains(A)) // pre-conflict era
    // eviction removes the redundant re-announce, not the old revision
    val c3 = new NetflowDecoder.TemplateCache(maxEpochs = 2)
    c3.put(1L, 1L, 9, 300, 10L, A)
    c3.put(1L, 1L, 9, 300, 20L, A) // redundant re-announce
    c3.put(1L, 1L, 9, 300, 30L, B) // over cap
    assert(c3.get(1L, 1L, 9, 300, 15L).contains(A)) // old era survives
    assert(c3.get(1L, 1L, 9, 300, 35L).contains(B))
  }

  test("same-epoch sampling-rate conflicts resolve numerically, not " +
    "as digit strings") {
    // "99" > "100" lexicographically — a string-keyed resolution would
    // pick 99; canonical (numeric) content comparison picks 100 under
    // both arrival orders
    val c1 = new NetflowDecoder.TemplateCache
    c1.putSampling(1L, 1L, 100L, 99L)
    c1.putSampling(1L, 1L, 100L, 100L)
    val c2 = new NetflowDecoder.TemplateCache
    c2.putSampling(1L, 1L, 100L, 100L)
    c2.putSampling(1L, 1L, 100L, 99L)
    assert(c1.getSampling(1L, 1L, 150L) == c2.getSampling(1L, 1L, 150L))
    assert(c1.getSampling(1L, 1L, 150L).contains(100L))
  }

  test("decode past the buffer byte budget falls back to single-pass " +
    "with identical output for an in-order capture") {
    import spark.implicits._
    // self-contained packets (template precedes data in each), so the
    // in-order single-pass decode is semantically equivalent
    val pkts = Queries.v9Packets(64).zipWithIndex.map { case (p, i) =>
      (p, 1700000000L + i, 1L)
    }
    val df = pkts.toDF("payload", "ts_sec", "src_ip").coalesce(1)
    val full = NetflowDecoder.decode(df).collect().map(_.toSeq).toSet
    // 64 packets of ~50+ bytes each blow a 64-byte budget immediately
    val capped = NetflowDecoder.decode(df, bufferByteBudget = 64L)
      .collect().map(_.toSeq).toSet
    assert(full.size == 64)
    assert(capped == full)
  }

  test("decodeStream persists templates across micro-batches: a " +
    "revision in batch N decodes batch N+1 epoch-correctly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def hdr(seq: Long) = bytes(9, 2, 1000L, 1700000000L, seq, 7L)
    // revision A (epoch 100): field 1 (in_bytes); revision B (epoch
    // 200): field 2 (in_pkts) — same template id
    val tmplA = hdr(1L) ++ bytes(0, 12, 256, 1, 1, 4)
    val tmplB = hdr(2L) ++ bytes(0, 12, 256, 1, 2, 4)
    val data = hdr(3L) ++ bytes(256, 8, 4242L)
    val mem = MemoryStream[(Array[Byte], Long, Long)]
    val src = mem.toDF().toDF("payload", "ts_sec", "src_ip")
      .repartition(1)
    val out = graft.sources.NetflowDecoder
      .decodeStream(src, s"spec-${System.nanoTime()}")
      .select("ts_sec", "in_bytes", "in_pkts")
    val q = out.writeStream.format("memory").queryName("ndstream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      // batch 1: ONLY templates (both revisions)
      mem.addData((tmplA, 100L, 9L), (tmplB, 200L, 9L))
      q.processAllAvailable()
      // batch 2: ONLY data — t=150 must decode with revision A,
      // t=250 with revision B, from the batch-1 store
      mem.addData((data, 150L, 9L), (data, 250L, 9L))
      q.processAllAvailable()
      val rows = spark.table("ndstream")
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
      assert(rows == Set((150L, 4242L, null), (250L, null, 4242L)))
    } finally q.stop()
  }

  test("clearStreamCache drops a namespace's persistent stream state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ns = s"clear-${System.nanoTime()}"
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(9, 2, 1000L, 1700000000L, 2L, 7L) ++
      bytes(256, 8, 777L)
    def drive(payloads: Seq[Array[Byte]]): Long = {
      val mem = MemoryStream[(Array[Byte], Long, Long)]
      val out = graft.sources.NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1), ns)
      val q = out.writeStream.format("memory")
        .queryName(s"clr${System.nanoTime()}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        mem.addData(payloads.map(p => (p, 100L, 9L)): _*)
        q.processAllAvailable()
        spark.table(q.name).count()
      } finally q.stop()
    }
    assert(drive(Seq(tmpl)) == 0) // learn the template
    assert(drive(Seq(data)) == 1) // decodes via the persisted store
    graft.sources.NetflowDecoder.clearStreamCache(ns)
    assert(drive(Seq(data)) == 0) // store gone → record skipped
  }

  test("templatesDir: templates survive a simulated JVM restart " +
    "(the reference's on-disk template db, netflow-templates.c:33-139)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-persist-${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("tmpl_persist").toString
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(9, 2, 1000L, 1700000000L, 2L, 7L) ++
      bytes(256, 8, 777L)
    def drive(payloads: Seq[Array[Byte]]): Long = {
      val mem = MemoryStream[(Array[Byte], Long, Long)]
      val out = NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
        ns, templatesDir = Some(dir))
      val q = out.writeStream.format("memory")
        .queryName(s"tp${System.nanoTime()}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        mem.addData(payloads.map(p => (p, 100L, 9L)): _*)
        q.processAllAvailable()
        spark.table(q.name).count()
      } finally q.stop()
    }
    assert(drive(Seq(tmpl)) == 0) // learn + persist to disk
    // simulated JVM restart: in-memory store AND restore bookkeeping
    // dropped; only the snapshot file remains
    NetflowDecoder.clearStreamCache(ns)
    assert(drive(Seq(data)) == 1,
      "a record with no template announcement after 'restart' must " +
        "decode from the restored on-disk store")

    // the snapshot round-trips the FULL epoch history + sampling rates
    val c = new NetflowDecoder.TemplateCache()
    c.put(9, 7, 9, 256, 100L,
      NetflowDecoder.Template(Seq((1, 4, 0L))))
    c.put(9, 7, 9, 256, 200L,
      NetflowDecoder.Template(Seq((2, 4, 0L))))
    c.putSampling(9, 7, 150L, 64L)
    val f = new java.io.File(dir, "roundtrip.tmpl")
    NetflowDecoder.saveTemplates(c, f)
    val c2 = new NetflowDecoder.TemplateCache()
    c2.restore(NetflowDecoder.loadTemplates(f).get)
    assert(c2.get(9, 7, 9, 256, 150L).map(_.fields)
      == Some(Seq((1, 4, 0L))), "epoch-100 revision must floor-match")
    assert(c2.get(9, 7, 9, 256, 250L).map(_.fields)
      == Some(Seq((2, 4, 0L))), "epoch-200 revision must floor-match")
    assert(c2.getSampling(9, 7, 160L) == Some(64L))
    // corrupt file = cold start, not an error
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    assert(NetflowDecoder.loadTemplates(f).isEmpty)
  }

  test("template snapshot format is explicit binary: hostile or " +
    "stale files are a cold start, never a deserialization (ADVICE r14)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("tmpl_fmt")
    val c = new NetflowDecoder.TemplateCache()
    c.put(1, 2, 9, 256, 100L, NetflowDecoder.Template(Seq((1, 4, 0L))))
    val f = new java.io.File(dir.toFile, "fmt.tmpl")
    NetflowDecoder.saveTemplates(c, f)
    val good = Files.readAllBytes(f.toPath)
    // the writer must emit the documented magic+version header —
    // proof no ObjectOutputStream header (0xACED) is ever on disk
    assert(good.take(8).toSeq ==
      Seq[Byte](0x47, 0x46, 0x54, 0x53, 0, 0, 0, 1), "GFTS v1 header")
    assert(NetflowDecoder.loadTemplates(f).isDefined)
    // a Java-serialization payload (the pre-r15 format, and the gadget
    // vector) must be REJECTED as a cold start, not fed to readObject
    val oos = new java.io.ByteArrayOutputStream()
    val o = new java.io.ObjectOutputStream(oos)
    o.writeObject("not a snapshot"); o.close()
    Files.write(f.toPath, oos.toByteArray)
    assert(NetflowDecoder.loadTemplates(f).isEmpty, "0xACED stream")
    // unknown version = cold start (format evolution is explicit)
    val badVer = good.clone(); badVer(7) = 99
    Files.write(f.toPath, badVer)
    assert(NetflowDecoder.loadTemplates(f).isEmpty, "version 99")
    // truncated mid-record = cold start
    Files.write(f.toPath, good.dropRight(3))
    assert(NetflowDecoder.loadTemplates(f).isEmpty, "truncated")
    // a hostile count field must not drive allocation: flip the
    // template count to Int.MaxValue — bounded parse, cold start
    val badCount = good.clone()
    badCount(8) = 0x7f.toByte; badCount(9) = 0xff.toByte
    badCount(10) = 0xff.toByte; badCount(11) = 0xff.toByte
    Files.write(f.toPath, badCount)
    assert(NetflowDecoder.loadTemplates(f).isEmpty, "hostile count")
  }

  test("templatesDir restore merges ALL partition files: a routing " +
    "change across restarts must not drop flows (ADVICE r14)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-remap-${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("tmpl_remap").toString
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(9, 2, 1000L, 1700000000L, 2L, 7L) ++
      bytes(256, 8, 777L)
    def drive(payloads: Seq[Array[Byte]]): Long = {
      val mem = MemoryStream[(Array[Byte], Long, Long)]
      val out = NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
        ns, templatesDir = Some(dir))
      val q = out.writeStream.format("memory")
        .queryName(s"tr${System.nanoTime()}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        mem.addData(payloads.map(p => (p, 100L, 9L)): _*)
        q.processAllAvailable()
        spark.table(q.name).count()
      } finally q.stop()
    }
    assert(drive(Seq(tmpl)) == 0) // learn + persist (partition 0)
    // simulated restart WITH a routing change: the snapshot now sits
    // under a partition id this run will never be assigned
    NetflowDecoder.clearStreamCache(ns)
    val d = new java.io.File(dir)
    val written = d.listFiles().filter(_.getName.endsWith(".tmpl"))
    assert(written.nonEmpty)
    written.foreach { old =>
      val moved = new java.io.File(d,
        old.getName.replaceAll("-p\\d+\\.tmpl$", "-p00099.tmpl"))
      assert(old.renameTo(moved))
    }
    assert(drive(Seq(data)) == 1,
      "restore must merge the namespace's OTHER partition files — " +
        "pid-equality-only restore drops flows after a routing change")
  }

  test("templatesDir with a URI scheme persists through the Hadoop " +
    "FileSystem API (cluster shared-storage path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-hfs-${System.nanoTime()}"
    val local = java.nio.file.Files
      .createTempDirectory("tmpl_hfs").toString
    val dir = "file://" + local // routes through org.apache.hadoop.fs
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(9, 2, 1000L, 1700000000L, 2L, 7L) ++
      bytes(256, 8, 777L)
    def drive(payloads: Seq[Array[Byte]]): Long = {
      val mem = MemoryStream[(Array[Byte], Long, Long)]
      val out = NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
        ns, templatesDir = Some(dir))
      val q = out.writeStream.format("memory")
        .queryName(s"th${System.nanoTime()}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        mem.addData(payloads.map(p => (p, 100L, 9L)): _*)
        q.processAllAvailable()
        spark.table(q.name).count()
      } finally q.stop()
    }
    assert(drive(Seq(tmpl)) == 0) // learn + persist via Hadoop FS
    val files = new java.io.File(local).listFiles()
      .filter(_.getName.endsWith(".tmpl"))
    assert(files.nonEmpty, "snapshot file must exist on the FS store")
    // the FS store speaks the same GFTS v1 records as the local path
    assert(java.nio.file.Files.readAllBytes(files.head.toPath)
      .take(8).toSeq == Seq[Byte](0x47, 0x46, 0x54, 0x53, 0, 0, 0, 1))
    // no stranded tmp or checksum side files after the atomic rename
    assert(new java.io.File(local).listFiles()
      .forall(f => f.getName.endsWith(".tmpl")),
      "rename must not strand .tmp/.crc files")
    NetflowDecoder.clearStreamCache(ns) // simulated JVM restart
    assert(drive(Seq(data)) == 1,
      "restart restore must work through the Hadoop FS path")

    // direct FS round-trip: overwrite rename + load
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, "direct.tmpl")
    val c = new NetflowDecoder.TemplateCache()
    c.put(3, 4, 9, 300, 50L, NetflowDecoder.Template(Seq((1, 4, 0L))))
    NetflowDecoder.saveTemplatesFs(c, conf, p) // create
    c.put(3, 4, 9, 301, 60L, NetflowDecoder.Template(Seq((2, 4, 0L))))
    NetflowDecoder.saveTemplatesFs(c, conf, p) // overwrite-rename
    val back = NetflowDecoder.loadTemplatesFs(conf, p)
    assert(back.map(_.templates.size) == Some(2))
    assert(NetflowDecoder.loadTemplatesFs(conf,
      new org.apache.hadoop.fs.Path(dir, "absent.tmpl")).isEmpty)
  }

  test("idle-sweep eviction forgets the restore mark: a resumed " +
    "namespace re-merges from disk instead of clobbering the " +
    "snapshot with an empty cache") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-sweep-${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("tmpl_sweep").toString
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(9, 2, 1000L, 1700000000L, 2L, 7L) ++
      bytes(256, 8, 777L)
    def drive(payloads: Seq[Array[Byte]]): Long = {
      val mem = MemoryStream[(Array[Byte], Long, Long)]
      val out = NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
        ns, templatesDir = Some(dir))
      val q = out.writeStream.format("memory")
        .queryName(s"ts${System.nanoTime()}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        mem.addData(payloads.map(p => (p, 100L, 9L)): _*)
        q.processAllAvailable()
        spark.table(q.name).count()
      } finally q.stop()
    }
    assert(drive(Seq(tmpl)) == 0) // learn + persist
    // age the cache past the idle window and run the REAL sweep — the
    // pre-fix behavior kept the restore mark, so the next task built
    // an empty cache, skipped the disk merge, decoded nothing, and
    // its completion listener overwrote the snapshot with emptiness
    NetflowDecoder.backdateStreamCacheForTest(ns, 0)
    NetflowDecoder.runIdleSweepForTest()
    assert(drive(Seq(data)) == 1,
      "an evicted-then-resumed namespace must restore from disk")
    // and the durable file still holds the template (never clobbered)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tmpl"))
    assert(files.exists(f =>
      NetflowDecoder.loadTemplates(f).exists(_.templates.nonEmpty)),
      "the snapshot file must keep its templates across the sweep")
    NetflowDecoder.clearStreamCache(ns)
  }

  test("single-slash URIs (Path.toString form) route through Hadoop " +
    "FS, not java.io relative-path misparse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-slash-${System.nanoTime()}"
    val local = java.nio.file.Files
      .createTempDirectory("tmpl_slash").toString
    // "file:/x" — what new Path("file:///x").toString renders; a
    // substring "://" test misroutes it to java.io, which treats it
    // as a RELATIVE path and silently writes under the task cwd
    val dir = "file:" + local
    assert(!dir.contains("://"))
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val mem = MemoryStream[(Array[Byte], Long, Long)]
    val out = NetflowDecoder.decodeStream(
      mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
      ns, templatesDir = Some(dir))
    val q = out.writeStream.format("memory")
      .queryName(s"tsl${System.nanoTime()}")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      mem.addData((tmpl, 100L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(local).listFiles()
      .exists(_.getName.endsWith(".tmpl")),
      "snapshot must land in the URI's directory, not under cwd")
    assert(!new java.io.File(new java.io.File("."), "file:").exists(),
      "no 'file:' relative directory may appear under the cwd")
    NetflowDecoder.clearStreamCache(ns)
  }

  test("stale tmp files from crashed writers are swept at restore; " +
    "fresh in-flight tmps are preserved") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.NetflowDecoder
    val ns = s"tmpl-tsweep-${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("tmpl_tsweep").toString
    // a crashed writer's leftover: matches <ns>-pNNNNN.tmpl.tmp<pid>,
    // older than the 1 h age guard
    val stale = new java.io.File(dir, s"$ns-p00000.tmpl.tmp12345")
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    stale.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000)
    // a live writer's in-flight tmp: same shape, fresh mtime
    val fresh = new java.io.File(dir, s"$ns-p00001.tmpl.tmp99999")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](4, 5, 6))
    val tmpl = bytes(9, 2, 1000L, 1700000000L, 1L, 7L) ++
      bytes(0, 12, 256, 1, 1, 4)
    val mem = MemoryStream[(Array[Byte], Long, Long)]
    val out = NetflowDecoder.decodeStream(
      mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1),
      ns, templatesDir = Some(dir))
    val q = out.writeStream.format("memory")
      .queryName(s"tt${System.nanoTime()}")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      mem.addData((tmpl, 100L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    assert(!stale.exists(), "2h-old tmp must be swept at restore")
    assert(fresh.exists(), "fresh tmp (possible live writer) stays")
    NetflowDecoder.clearStreamCache(ns)
  }

  test("TemplateCache evicts least-recently-used beyond its cap") {
    val cache = new NetflowDecoder.TemplateCache(maxEntries = 4)
    val t = NetflowDecoder.Template(Seq((1, 4, 0L)))
    (0 until 4).foreach(i => cache.put(1L, 1L, 9, 256 + i, 0L, t))
    cache.get(1L, 1L, 9, 256, 0L) // touch the oldest → 257 becomes LRU
    cache.put(1L, 1L, 9, 300, 0L, t)
    assert(cache.size == 4)
    assert(cache.get(1L, 1L, 9, 256, 0L).isDefined) // recently used survived
    assert(cache.get(1L, 1L, 9, 257, 0L).isEmpty)   // LRU evicted
    assert(cache.get(1L, 1L, 9, 300, 0L).isDefined)
  }

  test("contract golden: v9Packets(64) decodes to exactly 64 rows") {
    // the q40/q41 driver pair feeds these exact bytes; each packet is
    // self-contained (template + one data record), so every record decodes
    val cache = new NetflowDecoder.TemplateCache
    val pkts = Queries.v9Packets(64).zipWithIndex.map { case (p, i) =>
      (p, 1700000000L + i, 1L)
    }
    val rows = pkts.flatMap { case (p, ts, src) =>
      NetflowDecoder.decodePacket(p, ts, src, cache)
    }
    assert(rows.length == 64)
    val protos = rows.map(_(fieldIndexOf("protocol"))).groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(protos == Map(6L -> 32, 17L -> 32))
    assert(rows.map(r => r(fieldIndexOf("in_bytes"))
      .asInstanceOf[Long]).sum == (0 until 64).map(100L + _).sum)
    import spark.implicits._
    assertSameRows(NetflowDecoder.decode(
      pkts.toDF("payload", "ts_sec", "src_ip")), rows)
    // the same capture through the streaming decoder into a memory sink
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ns = s"golden-${System.nanoTime()}"
    val mem = MemoryStream[(Array[Byte], Long, Long)]
    val q = NetflowDecoder.decodeStream(
        mem.toDF().toDF("payload", "ts_sec", "src_ip").repartition(1), ns)
      .writeStream.format("memory").queryName(s"golden${System.nanoTime()}")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      mem.addData(pkts: _*)
      q.processAllAvailable()
      assertSameRows(spark.table(q.name), rows)
    } finally {
      q.stop()
      NetflowDecoder.clearStreamCache(ns)
    }
  }

  test("contract golden: sflowPackets(64) decodes 64 rows with the " +
    "analytic fields (plain+expanded, VLAN, TCP/UDP)") {
    val rows = Queries.sflowPackets(64).zipWithIndex.flatMap {
      case (p, i) => graft.sources.SflowDecoder.decodePacket(p,
        1700000000L + i)
    }
    assert(rows.length == 64)
    def f(r: Array[Any], n: String) = r(fieldIndexOf(n))
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(f(r, "in_bytes") == 500L + 10 * i, s"bytes $i")
      assert(f(r, "sampling_rate") == 100L * (1 + i % 4), s"rate $i")
      assert(f(r, "protocol") ==
        (if ((i / 2) % 2 == 0) 6L else 17L), s"proto $i")
      assert(f(r, "ip4_src_addr") == 0x0a000100L + i % 8, s"src $i")
      assert(f(r, "l4_src_port") == 1024L + i, s"sport $i")
      val vlan = if (i % 3 == 0) 100L + i % 10 else null
      assert(f(r, "src_vlan") == vlan, s"vlan $i")
      if ((i / 2) % 2 == 0)
        assert(f(r, "tcp_flags") == 0x18L, s"flags $i")
      assert(f(r, "src_mac").isInstanceOf[Array[Byte]], s"mac $i")
    }
    import spark.implicits._
    val df = Queries.sflowPackets(64).zipWithIndex.map { case (p, i) =>
      (p, 1700000000L + i)
    }.toDF("payload", "ts_sec")
    assertSameRows(SflowDecoder.decode(df), rows)
    // payload extraction: the dns_name/dns_ips/sni string columns
    val pay = Queries.sflowPayloadPackets(16).zipWithIndex.map {
      case (p, i) => (p, 1700000000L + i)
    }
    val payRows = pay.flatMap { case (p, ts) =>
      SflowDecoder.decodePacket(p, ts, parseDns = true, parseSni = true)
    }
    assert(payRows.count(r => f(r, "dns_name") != null) == 8)
    assert(payRows.count(r => f(r, "sni") != null) == 8)
    assertSameRows(SflowDecoder.decode(pay.toDF("payload", "ts_sec"),
      parseDns = true, parseSni = true), payRows)
  }

  test("contract golden: ipfixPackets(64) decodes 61 data rows — " +
    "varlen both forms, enterprise map, mid-stream sampling update") {
    val cache = new NetflowDecoder.TemplateCache
    val rows = Queries.ipfixPackets(64).flatMap { case (p, ts) =>
      NetflowDecoder.decodePacket(p, ts, 1L, cache,
        entMap = Map((9999L, 77) -> 2001))
    }
    assert(rows.length == 61) // 64 - template pkt - 2 options pkts
    def f(r: Array[Any], n: String) = r(fieldIndexOf(n))
    val byBytes = rows.map(r => f(r, "in_bytes").asInstanceOf[Long] -> r)
      .toMap
    (2 until 64).filter(_ != 34).foreach { i =>
      val r = byBytes(1000L + 7 * i)
      assert(f(r, "if_name") == s"eth${i % 4}", s"if_name $i")
      assert(f(r, "vas_http_host") == s"h${i % 3}", s"host $i")
      // epoch-floor sampling: rate live at the row's own ts
      assert(f(r, "sampling_rate") == (if (i < 34) 10L else 100L),
        s"rate $i")
    }
    import spark.implicits._
    // one partition: the template and options packets must reach the
    // data packets' decoder
    val df = Queries.ipfixPackets(64).map { case (p, ts) => (p, ts, 1L) }
      .toDF("payload", "ts_sec", "src_ip").coalesce(1)
    assertSameRows(NetflowDecoder.decode(df,
      entMap = Map((9999L, 77) -> 2001)), rows)
  }

  test("DataFrame-level decode distributes with partition-local caches") {
    import spark.implicits._
    val header = bytes(9, 2, 1000L, 1700000000L, 1L, 42L)
    val tmpl = bytes(0, 12, 256, 1, 1, 4)
    val data = bytes(256, 8, 31337L)
    val pkt = header ++ tmpl ++ data
    val df = Seq((pkt, 100L, 1L), (pkt, 200L, 2L))
      .toDF("payload", "ts_sec", "src_ip")
    val out = NetflowDecoder.decode(df)
    assert(out.count() == 2)
    assert(out.select("in_bytes").collect().forall(_.getLong(0) == 31337L))
    // a decoded frame joins with itself (fresh output ids per side)
    assert(out.join(out, Seq("ts_sec")).count() == 2)
  }

  test("full-width decode plans keep every whole-stage method within " +
    "HotSpot's 8,000-byte HugeMethodLimit") {
    // HotSpot never JIT-compiles a method past the limit, so a plan
    // holding one (a 66-column RowEncoder serializer compiles to 17,337
    // bytes) runs every decoded flow through the bytecode interpreter
    import spark.implicits._
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // an RDD input keeps the input projection in a whole-stage subtree
    // (a local relation would fold it away and leave nothing to check)
    val sc = spark.sparkContext
    val nf = NetflowDecoder.decode(sc.parallelize(Queries.v9Packets(8)
      .map(p => (p, 1700000000L, 1L)), 1).toDF("payload", "ts_sec",
      "src_ip"))
    val sf = SflowDecoder.decode(sc.parallelize(Queries.sflowPackets(8)
      .map(p => (p, 1700000000L)), 1).toDF("payload", "ts_sec"))
    Seq("netflow" -> nf, "sflow" -> sf).foreach { case (name, df) =>
      val sizes = codegenStringSeq(df.queryExecution.executedPlan)
        .map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty, s"$name: no whole-stage subtree")
      assert(sizes.forall(_ <= 8000), s"$name: method sizes $sizes")
      assert(df.count() == 8, name)
    }
  }
}

class SflowExpandedSpec extends SparkTest {
  test("sFlow v5 expanded flow sample (type 3)") {
    import graft.sources.SflowDecoder
    import java.nio.ByteBuffer
    def u32s(vs: Long*): Array[Byte] = {
      val buf = ByteBuffer.allocate(vs.length * 4)
      vs.foreach(v => buf.putInt(v.toInt))
      buf.array()
    }
    val eth = {
      val b = ByteBuffer.allocate(14)
      b.put(Array[Byte](1, 2, 3, 4, 5, 6)).put(Array[Byte](6, 5, 4, 3, 2, 1))
        .putShort(0x0800)
      b.array()
    } ++ {
      val ip = ByteBuffer.allocate(20)
      ip.put(0x45.toByte).put(0.toByte).putShort(28)
        .putShort(0).putShort(0).put(64.toByte).put(17.toByte).putShort(0)
        .putInt(0x0a000009).putInt(0x0a00000a)
      ip.array()
    } ++ {
      val udp = ByteBuffer.allocate(8)
      udp.putShort(5353.toShort).putShort(53).putShort(8).putShort(0)
      udp.array()
    }
    val rec = u32s(1L, 16L + eth.length) ++
      u32s(1L, 70L, 0L, eth.length.toLong) ++ eth
    // expanded: seq, src(type,idx), rate, pool, drops,
    // input(fmt,val), output(fmt,val), nrec
    val sample = u32s(3L, 44L + rec.length,
      1L, 0L, 5L, 2048L, 100L, 0L, 0L, 7L, 0L, 9L, 1L) ++ rec
    val pkt = u32s(5L, 1L, 0x7f000001L, 0L, 1L, 100L, 1L) ++ sample
    val rows = SflowDecoder.decodePacket(pkt, 55L)
    assert(rows.length == 1)
    val idx = (n: String) => graft.sources.NetflowDecoder.outSchema.fieldIndex(n)
    val r = rows.head
    assert(r(idx("sampling_rate")) == 2048L)
    assert(r(idx("input_snmp")) == 7L)
    assert(r(idx("output_snmp")) == 9L)
    assert(r(idx("protocol")) == 17L)
    assert(r(idx("l4_dst_port")) == 53L)
  }
}
