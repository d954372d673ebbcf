package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}

/** Longest-prefix-match lookup structures.
  *
  * The reference keeps IP lists and GeoIP/AS databases in bitwise tries
  * keyed by one 128-bit `xe_ip` for both families (reference
  * ip-btrie.h:4-115, geoip.h:43-55, geoip.c:91-183) consulted per record.
  * The Spark-native equivalent: flatten the prefix set into DISJOINT
  * sorted intervals at build time (boundary sweep, longest prefix wins
  * inside overlaps), pack the bounds as unsigned-128 (hi, lo) long pairs
  * (a v4 address is zero-extended: hi = 0), ship the arrays with the
  * expression, and binary-search per row. Read-only, O(log n),
  * executor-local — the same access pattern the reference gets from its
  * mmap'd tries.
  */
object Lpm {

  /** One source prefix: [start,end] inclusive as unsigned values (v4
    * zero-extended), maskLen for LPM priority, `bits` the family width
    * (32 | 128). */
  final case class Prefix(start: BigInt, end: BigInt, maskLen: Int,
                          value: String, bits: Int)

  /** Sorted disjoint intervals: interval i covers the unsigned-128 keys
    * [(startHi, startLo), (endHi, endLo)]. */
  class Bounds(val startHi: Array[Long], val startLo: Array[Long],
               val endHi: Array[Long], val endLo: Array[Long])
    extends Serializable {
    def size: Int = startHi.length
    def start(i: Int): BigInt = toBig(startHi(i), startLo(i))
    def end(i: Int): BigInt = toBig(endHi(i), endLo(i))

    /** Index of the interval covering the unsigned-128 key (hi, lo), or
      * -1 — the one search behind every lookup (interpreted eval,
      * generated code, the query CLI). `Long.compareUnsigned` keeps
      * keys with the high bit set in order. */
    def search(hi: Long, lo: Long): Int = {
      var l = 0
      var h = startHi.length - 1
      var found = -1
      while (l <= h) {
        val mid = (l + h) >>> 1
        if (cmp(startHi(mid), startLo(mid), hi, lo) <= 0) {
          found = mid; l = mid + 1
        } else h = mid - 1
      }
      if (found >= 0 && cmp(endHi(found), endLo(found), hi, lo) >= 0) found
      else -1
    }

    /** [[search]] over a 16-byte big-endian address; null or any other
      * length misses. */
    def searchBytes(ip: Array[Byte]): Int = {
      if (ip == null || ip.length != 16) return -1
      var hi = 0L
      var lo = 0L
      var b = 0
      while (b < 8)  { hi = (hi << 8) | (ip(b) & 0xffL); b += 1 }
      while (b < 16) { lo = (lo << 8) | (ip(b) & 0xffL); b += 1 }
      search(hi, lo)
    }
  }

  /** Disjoint-interval LPM table: interval i maps to values(i). */
  final class Table(sHi: Array[Long], sLo: Array[Long],
                    eHi: Array[Long], eLo: Array[Long],
                    val values: Array[String]) extends Bounds(sHi, sLo, eHi, eLo) {
    /** The intervals alone, for an expression that ships its own
      * (sliced) values to executors. */
    def bounds: Bounds = new Bounds(startHi, startLo, endHi, endLo)
  }

  object Table {
    /** Pack sorted disjoint (start, end, value) intervals. */
    def apply(rows: Seq[(BigInt, BigInt, String)]): Table =
      new Table(rows.map(r => hiOf(r._1)).toArray,
        rows.map(r => loOf(r._1)).toArray,
        rows.map(r => hiOf(r._2)).toArray,
        rows.map(r => loOf(r._2)).toArray, rows.map(_._3).toArray)
  }

  /** Unsigned 128-bit compare of (aHi,aLo) vs (bHi,bLo). */
  @inline private def cmp(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Int = {
    val h = java.lang.Long.compareUnsigned(aHi, bHi)
    if (h != 0) h else java.lang.Long.compareUnsigned(aLo, bLo)
  }

  private val two64 = BigInt(1) << 64
  private def hiOf(x: BigInt): Long = (x >> 64).longValue
  private def loOf(x: BigInt): Long = x.longValue // low 64 bits
  private def toBig(hi: Long, lo: Long): BigInt = {
    def u(x: Long) = if (x < 0) BigInt(x) + two64 else BigInt(x)
    (u(hi) << 64) + u(lo)
  }

  /** 16-byte big-endian form of an unsigned 128-bit value. */
  def bytes16(x: BigInt): Array[Byte] = {
    val raw = x.toByteArray.dropWhile(_ == 0) // strip sign/leading zeros
    require(x >= 0 && raw.length <= 16, s"not an unsigned 128-bit value: $x")
    val out = new Array[Byte](16)
    System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    out
  }

  /** Sweep overlapping prefixes into disjoint intervals; inside an overlap
    * the longest mask wins (LPM semantics of the reference tries).
    * O(n log n) boundary sweep — production geo/AS databases have
    * hundreds of thousands of prefixes (reference xemkgeodb builds
    * them offline; we build at broadcast time). */
  def build(prefixes: Seq[Prefix]): Table = {
    // events: open at start, close at end+1; CIDR prefixes nest, so at
    // any point the active prefix with the longest mask wins
    val events = prefixes.zipWithIndex.flatMap { case (p, id) =>
      Seq((p.start, true, id), (p.end + 1, false, id))
    }.sortBy(_._1)
    val byId = prefixes.toArray
    // active prefixes ordered by (maskLen, id)
    val active = new java.util.TreeMap[(Int, Int), Int](
      Ordering.Tuple2[Int, Int])
    val swept = Vector.newBuilder[(BigInt, BigInt, String)]
    var i = 0
    var prev: BigInt = null
    while (i < events.length) {
      val point = events(i)._1
      if (prev != null && prev < point && !active.isEmpty)
        swept += ((prev, point - 1, byId(active.lastEntry().getValue).value))
      while (i < events.length && events(i)._1 == point) {
        val (_, open, id) = events(i)
        val key = (byId(id).maskLen, id)
        if (open) active.put(key, id) else active.remove(key)
        i += 1
      }
      prev = point
    }
    // merge adjacent intervals with equal values
    val merged = swept.result().foldLeft(Vector.empty[(BigInt, BigInt, String)]) {
      case (acc :+ ((s, e, v)), (s2, e2, v2)) if s2 == e + 1 && v2 == v =>
        acc :+ ((s, e2, v))
      case (acc, r) => acc :+ r
    }
    Table(merged)
  }

  /** Parse an address literal as (unsigned value, family width): an
    * ASCII dotted quad is v4 (32); text with a ':' is a v6 literal (128),
    * the RFC 4291 embedded dotted-quad forms (`::ffff:a.b.c.d`,
    * `64:ff9b::a.b.c.d`) included — always as the 128-bit value, never
    * folded to v4. The one parser behind the filter DSL, IP lists and
    * the geo/AS dump loader. */
  def parseAddress(s: String): Either[String, (BigInt, Int)] = {
    def bad = Left(s"not an IP address literal: '$s'")
    def ascii(c: Char, hex: Boolean): Boolean =
      (c >= '0' && c <= '9') ||
        (hex && ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
    if (!s.contains(':')) {
      // ASCII digits only: Char.isDigit also accepts Unicode numerals,
      // and a sign would slip through Long parsing
      val parts = s.split("\\.", -1)
      if (parts.length != 4 || !parts.forall(p => p.nonEmpty &&
          p.length <= 3 && p.forall(ascii(_, hex = false)) && p.toInt <= 255))
        bad
      else Right((BigInt(parts.foldLeft(0L)((a, p) => a * 256 + p.toLong)), 32))
    } else if (!ascii(s.head, hex = true) && s.head != ':' ||
        !s.forall(c => ascii(c, hex = true) || c == ':' || c == '.')) {
      // InetAddress resolves anything that does not start like a
      // literal through DNS; this charset keeps it a pure parse
      bad
    } else {
      try {
        val raw = java.net.InetAddress.getByName(s).getAddress
        // Java folds v4-mapped text to a 4-byte Inet4Address — rebuild
        // the 128-bit ::ffff:a.b.c.d value (RFC 4291 §2.5.5.2)
        if (raw.length == 4) Right(((BigInt(0xffff) << 32) + BigInt(1, raw), 128))
        else Right((BigInt(1, raw), 128))
      } catch { case _: java.net.UnknownHostException => bad }
    }
  }

  /** Parse `address[/mask]` into its canonical prefix (the network
    * address of the masked block); the mask must be ASCII digits in
    * [0, bits] — a negative or oversized mask would silently over-match
    * or break the span arithmetic. */
  def parseCidr(cidr: String, value: String = ""): Either[String, Prefix] = {
    val (a, m) = cidr.span(_ != '/')
    parseAddress(a).flatMap { case (addr, bits) =>
      val mask =
        if (m.isEmpty) bits
        else if (m.length > 1 && m.length <= 4 &&
          m.tail.forall(c => c >= '0' && c <= '9')) m.tail.toInt
        else -1
      if (mask < 0 || mask > bits)
        Left(s"mask '$m' out of range [0, $bits] in CIDR '$cidr'")
      else {
        val span = BigInt(1) << (bits - mask)
        val start = addr - addr.mod(span)
        Right(Prefix(start, start + span - 1, mask, value, bits))
      }
    }
  }

  /** [[parseCidr]] for configured lists and tables: a malformed CIDR is
    * an IllegalArgumentException, never a silently wrong interval. */
  def prefix(cidr: String, value: String = ""): Prefix =
    parseCidr(cidr, value).fold(e => throw new IllegalArgumentException(e),
      identity)
}

/** A named IP list (v4 + v6 prefixes), the engine's analog of the
  * reference's IP-list files (reference iplist.c, CONFIG.md:471-481). */
final case class IpList(name: String, v4: Lpm.Table, v6: Lpm.Table)
  extends Serializable {
  @transient private lazy val packed = LpmPacked(v4, v6, -1)

  /** Membership (`net <listname>` semantics): the lookup hit something.
    * NULL input → false. */
  def contains(ip: Column): Column = LpmExpr.lookup(packed)(ip).isNotNull
}

object IpList {
  def apply(name: String, cidrs: Seq[String]): IpList = {
    val (v4s, v6s) = cidrs.map(Lpm.prefix(_, "1")).partition(_.bits == 32)
    IpList(name, Lpm.build(v4s), Lpm.build(v6s))
  }
}

/** GeoIP + AS providers over LPM tables (reference geoip.h:13-41).
  * Values are pipe-joined records; accessors slice out one attribute.
  * Missing lookups yield "?" exactly like the reference
  * (filter.c:753-787: unknown IP → '?'). Both families are first-class
  * like the reference's `xe_ip` tries (geoip.h:43-55): an integral
  * address column searches the v4 tables, a binary(16) column the v6
  * ones ([[LpmLookup]]).
  */
final case class GeoDb(geo4: Lpm.Table, as4: Lpm.Table,
                       geo6: Lpm.Table, as6: Lpm.Table)
  extends Serializable {

  // pack memo: a production geo DB is hundreds of thousands of
  // prefixes, and repacking (attr slice + UTF8String per entry) on
  // every country()/asn()/... Column would redo that work per call
  @transient private lazy val packs =
    new java.util.concurrent.ConcurrentHashMap[Integer, LpmPacked]

  // attrs 0..7 slice the geo pair, 8 + i the AS pair
  private def attr(i: Int)(ip: Column): Column = {
    val p = packs.computeIfAbsent(i, _ =>
      if (i < GeoDb.attrs.length) LpmPacked(geo4, geo6, i)
      else LpmPacked(as4, as6, i - GeoDb.attrs.length))
    coalesce(LpmExpr.lookup(p)(ip), lit("?"))
  }

  /** Geo attribute (continent, country_code, ...); NULL or unknown → "?". */
  def geo(kind: String)(ip: Column): Column = attr(GeoDb.attrIndex(kind))(ip)
  /** asn(ip): AS number as string, "?" when unknown. */
  def asn(ip: Column): Column = attr(GeoDb.attrs.length)(ip)
  /** asd(ip): AS description, "?" when unknown. */
  def asd(ip: Column): Column = attr(GeoDb.attrs.length + 1)(ip)
}

object GeoDb {
  /** Attribute order inside a geo record value
    * (continent|country_code|country|state|city|zip|lat|long). */
  val attrs: Seq[String] = Seq("continent", "country_code", "country",
    "state", "city", "zip", "lat", "long")
  def attrIndex(kind: String): Int = {
    val i = attrs.indexOf(kind)
    require(i >= 0, s"unknown geo attribute '$kind'")
    i
  }

  def record(continent: String, cc: String, country: String, state: String,
             city: String, zip: String, lat: String, long: String): String =
    Seq(continent, cc, country, state, city, zip, lat, long).mkString("|")
}
