package graft.sources

import graft.flow.FlowSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** sFlow v5 decoder: XDR datagram → flow samples → raw packet header
  * parse (Ethernet / 802.1Q / IPv4 / IPv6 / TCP / UDP / ICMP) into the
  * canonical flow columns (reference sflow.c:26-181, rawparse.h —
  * re-derived here from the public sFlow v5 and IEEE/IETF header layouts,
  * not translated).
  *
  * Each sample yields one flow row: in_pkts = 1, in_bytes = sampled frame
  * length, sampling_rate from the sample header — so SUM(bytes × rate)
  * estimates true volume exactly like the reference
  * (monit-objects.c:988-997).
  */
object SflowDecoder {

  import NetflowDecoder.outSchema

  private val slot: Map[String, Int] =
    FlowSchema.physFields.zipWithIndex.map { case (f, i) =>
      f.name -> (i + 1)
    }.toMap

  // output slots, resolved once rather than by name for every flow
  private val dstMacSlot = slot("dst_mac")
  private val srcMacSlot = slot("src_mac")
  private val srcVlanSlot = slot("src_vlan")
  private val dstVlanSlot = slot("dst_vlan")
  private val ipProtocolVersionSlot = slot("ip_protocol_version")
  private val srcTosSlot = slot("src_tos")
  private val ipTtlSlot = slot("ip_ttl")
  private val protocolSlot = slot("protocol")
  private val fragIdSlot = slot("frag_id")
  private val ip4SrcAddrSlot = slot("ip4_src_addr")
  private val ip4DstAddrSlot = slot("ip4_dst_addr")
  private val ip6SrcAddrSlot = slot("ip6_src_addr")
  private val ip6DstAddrSlot = slot("ip6_dst_addr")
  private val l4SrcPortSlot = slot("l4_src_port")
  private val l4DstPortSlot = slot("l4_dst_port")
  private val tcpFlagsSlot = slot("tcp_flags")
  private val icmpTypeSlot = slot("icmp_type")
  private val dnsNameSlot = slot("dns_name")
  private val dnsIpsSlot = slot("dns_ips")
  private val sniSlot = slot("sni")
  private val inBytesSlot = slot("in_bytes")
  private val inPktsSlot = slot("in_pkts")
  private val samplingRateSlot = slot("sampling_rate")
  private val inputSnmpSlot = slot("input_snmp")
  private val outputSnmpSlot = slot("output_snmp")
  private val devIpSlot = slot("dev_ip")
  private val devIp6Slot = slot("dev_ip6")

  private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def u32(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 4) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
    v
  }

  /** Parse a raw Ethernet frame into flow fields. */
  private def parseEthernet(b: Array[Byte], row: Array[Any],
                            dns: Boolean, sni: Boolean): Unit = {
    if (b.length < 14) return
    row(dstMacSlot) = java.util.Arrays.copyOfRange(b, 0, 6)
    row(srcMacSlot) = java.util.Arrays.copyOfRange(b, 6, 12)
    var off = 12
    var ethType = u16(b, off)
    off += 2
    // 802.1Q / QinQ vlan tags
    var vlanSeen = false
    while ((ethType == 0x8100 || ethType == 0x88a8) && off + 4 <= b.length) {
      val vid = u16(b, off) & 0x0fff
      if (!vlanSeen) { row(srcVlanSlot) = vid.toLong; vlanSeen = true }
      else row(dstVlanSlot) = vid.toLong
      ethType = u16(b, off + 2)
      off += 4
    }
    ethType match {
      case 0x0800 => parseIpv4(b, off, row, dns, sni)
      case 0x86dd => parseIpv6(b, off, row, dns, sni)
      case _      => ()
    }
  }

  private def parseIpv4(b: Array[Byte], off: Int, row: Array[Any],
                        dns: Boolean, sni: Boolean): Unit = {
    if (off + 20 > b.length) return
    val ihl = (b(off) & 0x0f) * 4
    row(ipProtocolVersionSlot) = 4L
    row(srcTosSlot) = (b(off + 1) & 0xff).toLong
    row(ipTtlSlot) = (b(off + 8) & 0xff).toLong
    val proto = (b(off + 9) & 0xff).toLong
    row(protocolSlot) = proto
    row(fragIdSlot) = u16(b, off + 4).toLong
    row(ip4SrcAddrSlot) = u32(b, off + 12)
    row(ip4DstAddrSlot) = u32(b, off + 16)
    parseL4(b, off + ihl, proto, row, dns, sni)
  }

  private def parseIpv6(b: Array[Byte], off: Int, row: Array[Any],
                        dns: Boolean, sni: Boolean): Unit = {
    if (off + 40 > b.length) return
    row(ipProtocolVersionSlot) = 6L
    val proto = (b(off + 6) & 0xff).toLong
    row(protocolSlot) = proto
    row(ipTtlSlot) = (b(off + 7) & 0xff).toLong
    row(ip6SrcAddrSlot) = java.util.Arrays.copyOfRange(b, off + 8,
      off + 24)
    row(ip6DstAddrSlot) = java.util.Arrays.copyOfRange(b, off + 24,
      off + 40)
    parseL4(b, off + 40, proto, row, dns, sni)
  }

  private def parseL4(b: Array[Byte], off: Int, proto: Long,
                      row: Array[Any], dns: Boolean, sni: Boolean): Unit =
    proto match {
      case 6 => // TCP
        if (off + 14 <= b.length) {
          row(l4SrcPortSlot) = u16(b, off).toLong
          row(l4DstPortSlot) = u16(b, off + 2).toLong
          row(tcpFlagsSlot) = (b(off + 13) & 0xff).toLong
          val dataOff = off + ((b(off + 12) >> 4) & 0x0f) * 4
          if ((dns || sni) && dataOff < b.length)
            parsePayload(b, dataOff, row, dns, sni)
        }
      case 17 => // UDP
        if (off + 4 <= b.length) {
          row(l4SrcPortSlot) = u16(b, off).toLong
          row(l4DstPortSlot) = u16(b, off + 2).toLong
          if ((dns || sni) && off + 8 < b.length)
            parsePayload(b, off + 8, row, dns, sni)
        }
      case 1 | 58 => // ICMP / ICMPv6: type+code packed like the reference
        if (off + 2 <= b.length)
          row(icmpTypeSlot) =
            (((b(off) & 0xffL) << 8) | (b(off + 1) & 0xffL))
      case _ => ()
    }

  /** Application-payload extraction over the sampled bytes past the L4
    * header (reference sflow.c:96-112 hands `payload_ptr..end` to
    * xe_dns/xe_sni per monitoring object). Both parsers are attempted;
    * each validates its own framing (DNS response flags, TLS handshake
    * record type) and returns None on a non-matching payload, so
    * enabling both on mixed traffic is safe — the reference gets the
    * same effect from per-object filters. */
  private def parsePayload(b: Array[Byte], off: Int, row: Array[Any],
                           dns: Boolean, sni: Boolean): Unit = {
    val p = java.util.Arrays.copyOfRange(b, off, b.length)
    if (dns) PayloadParsers.parseDns(p).foreach { case (name, ips) =>
      row(dnsNameSlot) = UTF8String.fromString(name)
      row(dnsIpsSlot) = UTF8String.fromString(ips)
    }
    if (sni) PayloadParsers.parseSni(p).foreach { host =>
      row(sniSlot) = UTF8String.fromString(host)
    }
  }

  /** Decode one sFlow v5 datagram into flow rows. `parseDns`/`parseSni`
    * opt into application-payload extraction (dns_name/dns_ips/sni
    * columns) from the sampled bytes, like the reference's per-object
    * `payload-parse-dns`/`payload-parse-sni` config (sflow.c:96-112). */
  def decodePacket(b: Array[Byte], tsSec: Long,
                   parseDns: Boolean = false,
                   parseSni: Boolean = false): Seq[Array[Any]] =
    decodeRows(b, tsSec, parseDns, parseSni).map(NetflowDecoder.toExternal)

  /** [[decodePacket]] with string columns left as Catalyst UTF8Strings:
    * the rows [[decode]] hands to the plan. */
  private def decodeRows(b: Array[Byte], tsSec: Long, parseDns: Boolean,
                         parseSni: Boolean): Seq[Array[Any]] = {
    if (b.length < 28 || u32(b, 0) != 5L) return Nil
    var off = 4
    val addrType = u32(b, off); off += 4
    // exporter identity: the datagram's own agent address (reference
    // stamps every flow with its exporter, flow-info.h:19-33; sFlow
    // carries the agent in-band rather than relying on the UDP source)
    val agentV4: Any = if (addrType == 1L) u32(b, off) else null
    val agentV6: Any =
      if (addrType == 2L && off + 16 <= b.length)
        java.util.Arrays.copyOfRange(b, off, off + 16)
      else null
    off += (if (addrType == 1L) 4 else 16) // agent address
    off += 4 // sub-agent id
    off += 4 // sequence
    off += 4 // uptime
    // the 28-byte minimum assumed a v4 agent address; a v6 agent makes
    // the header 12 bytes longer than the up-front check covered
    if (off + 4 > b.length) return Nil
    val nSamples = u32(b, off); off += 4
    val out = Vector.newBuilder[Array[Any]]
    var s = 0L
    while (s < nSamples && off + 8 <= b.length) {
      val sampleType = u32(b, off)
      // lengths are UNTRUSTED u32s: a value >= 2^31 turns .toInt
      // negative, which would move the cursor BACKWARDS past every
      // forward bound check (negative-offset read / unbounded loop)
      val sampleLen = u32(b, off + 4).toInt
      val sampleEnd = off + 8 + sampleLen
      if (sampleLen < 0 || sampleEnd > b.length) return out.result()
      // type 1 = flow sample, type 3 = expanded flow sample (sFlow v5
      // spec: expanded uses u32-pair source ids and u32 interface
      // format+value pairs)
      val expanded = sampleType == 3L
      if ((sampleType == 1L && sampleLen >= 32) ||
          (expanded && sampleLen >= 44)) {
        var p = off + 8
        p += 4 // seq
        p += (if (expanded) 8 else 4) // source id (type+index | packed)
        val samplingRate = u32(b, p); p += 4
        p += 4 // sample pool
        p += 4 // drops
        val input = { val v = u32(b, p + (if (expanded) 4 else 0))
          p += (if (expanded) 8 else 4); v }
        val output = { val v = u32(b, p + (if (expanded) 4 else 0))
          p += (if (expanded) 8 else 4); v }
        val nRecords = u32(b, p); p += 4
        var r = 0L
        while (r < nRecords && p + 8 <= sampleEnd) {
          val recType = u32(b, p)
          val recLen = u32(b, p + 4).toInt
          val recEnd = p + 8 + recLen
          if (recLen < 0 || recEnd > sampleEnd) { r = nRecords }
          else {
            if (recType == 1L && recLen >= 16) {
              // raw packet header record
              var q = p + 8
              val headerProto = u32(b, q); q += 4
              val frameLen = u32(b, q); q += 4
              q += 4 // stripped
              val headerLen = u32(b, q).toInt; q += 4
              val row = new Array[Any](outSchema.length)
              row(0) = tsSec
              row(inBytesSlot) = frameLen
              row(inPktsSlot) = 1L
              row(samplingRateSlot) = samplingRate
              row(inputSnmpSlot) = input
              row(outputSnmpSlot) = output
              row(devIpSlot) = agentV4
              row(devIp6Slot) = agentV6
              if (headerProto == 1L && headerLen >= 0 &&
                  q + headerLen <= recEnd)
                parseEthernet(
                  java.util.Arrays.copyOfRange(b, q, q + headerLen), row,
                  parseDns, parseSni)
              out += row
            }
            p = recEnd
            r += 1
          }
        }
      }
      off = sampleEnd
      s += 1
    }
    out.result()
  }

  /** DataFrame-level decode, mirroring NetflowDecoder.decode.
    * `parseDns`/`parseSni` enable payload extraction (see
    * [[decodePacket]]). */
  def decode(df: DataFrame, payloadCol: String = "payload",
             tsCol: String = "ts_sec",
             parseDns: Boolean = false,
             parseSni: Boolean = false): DataFrame = {
    val proj = df.select(col(payloadCol), col(tsCol).cast(LongType))
    DecodeFlows.frame(proj, outSchema) { it =>
      it.flatMap(r =>
        decodeRows(r.getBinary(0), r.getLong(1), parseDns, parseSni))
    }
  }
}
