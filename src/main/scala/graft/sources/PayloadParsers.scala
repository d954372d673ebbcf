package graft.sources

/** Application-payload extractors: DNS answers and TLS SNI, used by the
  * reference to enrich sampled packets with `dns_name`/`dns_ips`/`sni`
  * columns (reference xe-dns.h, xe-sni.h, invoked from sflow.c:96-112).
  * Re-derived from the public DNS (RFC 1035) and TLS (RFC 8446) layouts.
  */
object PayloadParsers {

  /** Parse a DNS response payload: (qname, answer IPs). Answer IPs are
    * serialized "{a, b}" for parity with the reference's text format
    * (EXTRA.md:595-597); the array form is a one-liner split.
    *
    * Header validation mirrors the reference (xe-dns.h:31-37): only a
    * well-formed RESPONSE (QR=1, opcode=0, rcode=0, qdcount>0,
    * ancount>0) is extracted. Besides fidelity, this makes the parser
    * safe to attempt on arbitrary sampled payloads — a TLS record or
    * random bytes deterministically fail the flag check instead of
    * yielding a garbage name. */
  def parseDns(b: Array[Byte]): Option[(String, String)] = {
    try {
      if (b.length < 12) return None
      val qr = (b(2) & 0x80) != 0
      val opcode = (b(2) >> 3) & 0x0f
      val rcode = b(3) & 0x0f
      if (!qr || opcode != 0 || rcode != 0) return None
      val qd = ((b(4) & 0xff) << 8) | (b(5) & 0xff)
      val an = ((b(6) & 0xff) << 8) | (b(7) & 0xff)
      if (qd < 1 || an < 1) return None
      var off = 12
      // qname labels
      val name = new StringBuilder
      var len = b(off) & 0xff
      while (len != 0) {
        if (name.nonEmpty) name.append('.')
        name.append(new String(b, off + 1, len, "US-ASCII"))
        off += len + 1
        if (off >= b.length) return None
        len = b(off) & 0xff
      }
      off += 1 // final 0
      off += 4 // qtype + qclass
      val ips = Vector.newBuilder[String]
      var i = 0
      while (i < an && off + 12 <= b.length) {
        // answer name: pointer (0xc0..) or labels
        if ((b(off) & 0xc0) == 0xc0) off += 2
        else {
          var l = b(off) & 0xff
          while (l != 0 && off < b.length) { off += l + 1; l = b(off) & 0xff }
          off += 1
        }
        if (off + 10 > b.length) return Some((name.toString, fmt(ips)))
        val rtype = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
        val rdlen = ((b(off + 8) & 0xff) << 8) | (b(off + 9) & 0xff)
        off += 10
        if (off + rdlen > b.length) return Some((name.toString, fmt(ips)))
        if (rtype == 1 && rdlen == 4) { // A
          ips += (0 until 4).map(j => (b(off + j) & 0xff).toString)
            .mkString(".")
        } else if (rtype == 28 && rdlen == 16) { // AAAA
          val bytes = java.util.Arrays.copyOfRange(b, off, off + 16)
          ips += java.net.InetAddress.getByAddress(bytes).getHostAddress
        }
        off += rdlen
        i += 1
      }
      Some((name.toString, fmt(ips)))
    } catch { case _: Exception => None }
  }

  private def fmt(ips: scala.collection.mutable.Builder[String,
      Vector[String]]): String = {
    val v = ips.result()
    if (v.isEmpty) "" else v.mkString("{", ", ", "}")
  }

  /** Extract SNI host from a TLS ClientHello record. */
  def parseSni(b: Array[Byte]): Option[String] = {
    try {
      // TLS record: type 22 (handshake), version u16, length u16
      if (b.length < 5 || (b(0) & 0xff) != 22) return None
      var off = 5
      // handshake: type 1 (ClientHello), length u24
      if ((b(off) & 0xff) != 1) return None
      off += 4
      off += 2 + 32 // client version + random
      val sidLen = b(off) & 0xff
      off += 1 + sidLen
      val csLen = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      off += 2 + csLen
      val compLen = b(off) & 0xff
      off += 1 + compLen
      if (off + 2 > b.length) return None
      val extTotal = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      off += 2
      val end = math.min(off + extTotal, b.length)
      while (off + 4 <= end) {
        val extType = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
        val extLen = ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
        off += 4
        if (extType == 0 && off + extLen <= end && extLen >= 5) {
          // server_name list: u16 list len, type u8 (0=host), u16 len
          val nameLen = ((b(off + 3) & 0xff) << 8) | (b(off + 4) & 0xff)
          if (off + 5 + nameLen <= end)
            return Some(new String(b, off + 5, nameLen, "US-ASCII"))
        }
        off += extLen
      }
      None
    } catch { case _: Exception => None }
  }
}
