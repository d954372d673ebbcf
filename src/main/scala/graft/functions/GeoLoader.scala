package graft.functions

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** GeoIP / AS database loader (reference xemkgeodb.c — the offline tool
  * that turns public geo dumps into the collector's mmap'd tries,
  * geo rows process_line_ipapi:292-360, AS rows process_line_as:686-731,
  * range→subnet split add_range4:104-183/add_range6:186-289).
  *
  * Formats (CSV, '#' comments, quoted fields allowed):
  *  - geo:  `ip_ver,first,last,continent,country_code,country,state,
  *           city,zip,timezone,lat,long` — address RANGES, not CIDR;
  *           continent and country code are lowercased like the
  *           reference (xemkgeodb.c:321-327);
  *  - AS:   `first,last,asn,description` — v4/v6 auto-detected per row
  *           (the reference tries inet_pton(AF_INET6) first).
  *
  * Ranges are split into maximal aligned CIDR prefixes (the reference's
  * subnet walk), then flow into [[Lpm.build]]'s disjoint-interval sweep
  * — so nested dump rows get true longest-prefix precedence. The result
  * is the same broadcastable [[Lpm.Table]] the synthetic tables use; at
  * 100 TB scale the tables are built once on the driver and shipped
  * read-only to every executor.
  */
object GeoLoader {

  final case class Tables(v4: Lpm.Table, v6: Lpm.Table)

  /** Split one CSV line, honoring double-quoted fields (AS descriptions
    * and city names contain commas in the public dumps). */
  def csvFields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') {
            cur += '"'; i += 1 // escaped quote
          } else inQ = false
        } else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result().trim; cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result().trim
    out.result()
  }

  /** One dump address field through the shared literal parser
    * ([[Lpm.parseAddress]]: ASCII only, never a DNS lookup). */
  private def address(s: String): (BigInt, Int) =
    Lpm.parseAddress(s.trim)
      .fold(e => throw new IllegalArgumentException(e), identity)

  /** A `first,last` range row → its prefixes, family from the text. */
  private def range(first: String, last: String,
                    value: String): Seq[Lpm.Prefix] = {
    val (s, bits) = address(first)
    val (e, lastBits) = address(last)
    require(bits == lastBits, s"range '$first'..'$last' mixes families")
    rangeToPrefixes(s, e, bits, value)
  }

  /** Split an inclusive address range into maximal aligned CIDR
    * prefixes (reference add_range4/add_range6 walk): at each step take
    * the largest power-of-two block that starts aligned at `start` and
    * fits inside the range. ≤ 2·bits prefixes per range. */
  def rangeToPrefixes(start: BigInt, end: BigInt, bits: Int,
                      value: String): Seq[Lpm.Prefix] = {
    require(start <= end && start >= 0, s"bad range $start..$end")
    val out = Seq.newBuilder[Lpm.Prefix]
    var s = start
    while (s <= end) {
      val alignBit = if (s == 0) bits else math.min(s.lowestSetBit, bits)
      var size = BigInt(1) << alignBit
      while (s + size - 1 > end) size >>= 1
      val maskLen = bits - (size.bitLength - 1)
      out += Lpm.Prefix(s, s + size - 1, maskLen, value, bits)
      s += size
    }
    out.result()
  }

  /** Non-comment lines as (1-based line number, fields); parse errors
    * rethrow with the offending line's number and text — the dumps are
    * user-supplied files fed through a CLI. */
  private def dataLines(text: String): Iterator[(Int, Seq[String])] =
    text.linesIterator.zipWithIndex
      .map { case (l, i) => (i + 1, l.trim) }
      .filter { case (_, l) => l.nonEmpty && !l.startsWith("#") }
      .map { case (n, l) => (n, csvFields(l)) }

  private def withLine[A](n: Int)(body: => A): A =
    try body
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"line $n: ${e.getMessage}") }

  /** Parse a geo dump (ipapi format) into v4 + v6 prefix sets. */
  def parseGeoPrefixes(text: String): (Seq[Lpm.Prefix], Seq[Lpm.Prefix]) =
    byFamily(dataLines(text).flatMap { case (n, f) => withLine(n) {
      require(f.length >= 12, s"geo row needs 12 fields, got ${f.length}")
      // field 9 is the timezone — unused, like the reference
      val rec = GeoDb.record(f(3).toLowerCase, f(4).toLowerCase, f(5),
        f(6), f(7), f(8), f(10), f(11))
      val ps = range(f(1), f(2), rec)
      require(ps.forall(_.bits == (if (f(0) == "6") 128 else 32)),
        s"ip_ver ${f(0)} does not match '${f(1)}'")
      ps
    }})

  /** Parse an AS dump into v4 + v6 prefix sets (value `asn|descr`). */
  def parseAsPrefixes(text: String): (Seq[Lpm.Prefix], Seq[Lpm.Prefix]) =
    byFamily(dataLines(text).flatMap { case (n, f) => withLine(n) {
      require(f.length >= 4, s"AS row needs 4 fields, got ${f.length}")
      val asn = f(2).toIntOption.getOrElse(0) // reference atoi
      range(f(0), f(1), s"$asn|${f(3)}")
    }})

  private def byFamily(ps: Iterator[Lpm.Prefix])
      : (Seq[Lpm.Prefix], Seq[Lpm.Prefix]) =
    ps.toVector.partition(_.bits == 32)

  def geoTables(text: String): Tables = {
    val (v4, v6) = parseGeoPrefixes(text)
    Tables(Lpm.build(v4), Lpm.build(v6))
  }

  def asTables(text: String): Tables = {
    val (v4, v6) = parseAsPrefixes(text)
    Tables(Lpm.build(v4), Lpm.build(v6))
  }

  /** A [[GeoDb]] from geo + AS dump texts. */
  def geoDb(geoText: String, asText: String): GeoDb = {
    val g = geoTables(geoText)
    val a = asTables(asText)
    GeoDb(g.v4, a.v4, g.v6, a.v6)
  }

  /** Load a [[GeoDb]] from dump files (the reference's geodb dir holds
    * geo + AS databases side by side, CONFIG.md:104-106). */
  def fromFiles(geoPath: String, asPath: String): GeoDb = {
    def read(p: String) =
      new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    geoDb(read(geoPath), read(asPath))
  }
}
