package graft

import java.nio.ByteBuffer

/** Shared wire-packet byte builder for decoder-facing specs — ONE
  * encoding convention (Int → u16 big-endian, Long → u32, Byte/bytes/
  * ASCII literal) so specs can't silently drift onto different test
  * wire formats. */
object Wire {
  def bytes(parts: Any*): Array[Byte] = {
    val buf = ByteBuffer.allocate(4096)
    parts.foreach {
      case b: Byte        => buf.put(b)
      case i: Int         => buf.putShort(i.toShort) // u16
      case l: Long        => buf.putInt(l.toInt)     // u32
      case a: Array[Byte] => buf.put(a)
      case s: String      => buf.put(s.getBytes("US-ASCII"))
    }
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  /** Self-contained packet i: header + template + one data record.
    * Alternates NetFlow v9 and IPFIX (both hot paths exercised), and
    * every 32nd IPFIX packet (i % 64 == 1 over odd i) additionally
    * carries an options template + options data record announcing a
    * sampling rate — driving the epoch-keyed sampling store under load.
    * Template id rotates through 16384 values — past the decoder
    * cache's LRU cap, proving bounded template state under churn. */
  def mkPacket(i: Long): Array[Byte] = {
    def u16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u32(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val tid = 256 + (i % 16384).toInt
    val rec = u32(64L + i % 1400) ++
      Array[Byte]((if (i % 3 == 0) 17 else 6).toByte) ++
      u32(0x0a000000L + i % 256) ++ u32(0xc0000000L + i % 65536) ++
      u16((i % 50000).toInt)
    if (i % 2 == 0) {
      // NetFlow v9: template flowset + data flowset
      val header = u16(9) ++ u16(2) ++ u32(0) ++ u32(1700000000L + i) ++
        u32(i) ++ u32(1)
      val tmpl = u16(0) ++ u16(28) ++ u16(tid) ++ u16(5) ++
        u16(1) ++ u16(4) ++ u16(4) ++ u16(1) ++ u16(8) ++ u16(4) ++
        u16(12) ++ u16(4) ++ u16(11) ++ u16(2)
      val data = u16(tid) ++ u16(4 + rec.length) ++ rec
      header ++ tmpl ++ data
    } else {
      // IPFIX: template set (id 2) + data set; every 32nd IPFIX packet
      // adds an options template (id 3, 1 scope) + options data with
      // field 34. The options tid is a fixed id just past the rotating
      // data-template range 256..16639.
      val tmpl = u16(2) ++ u16(28) ++ u16(tid) ++ u16(5) ++
        u16(1) ++ u16(4) ++ u16(4) ++ u16(1) ++ u16(8) ++ u16(4) ++
        u16(12) ++ u16(4) ++ u16(11) ++ u16(2)
      val data = u16(tid) ++ u16(4 + rec.length) ++ rec
      val opts =
        if (i % 64 == 1) {
          val otid = 16640
          val otmpl = u16(3) ++ u16(18) ++ u16(otid) ++ u16(2) ++ u16(1) ++
            u16(149) ++ u16(4) ++ u16(34) ++ u16(4)
          val odata = u16(otid) ++ u16(12) ++ u32(1L) ++ u32(1L + i % 16)
          otmpl ++ odata
        } else Array.emptyByteArray
      val body = tmpl ++ data ++ opts
      u16(10) ++ u16(16 + body.length) ++ u32(1700000000L + i) ++
        u32(i) ++ u32(1) ++ body
    }
  }
}
