package graft

import graft.filter.FieldSpec
import graft.functions.{GeoDb, IpList, Lpm, LpmExpr, LpmPacked}
import org.apache.spark.sql.functions.{coalesce, col, lit}

object LpmSpec {
  /** The value covering an address literal (either family) in `t`,
    * through the one search. */
  def look(t: Lpm.Table, addr: String): Option[String] = {
    val (x, _) = Lpm.parseAddress(addr).fold(sys.error, identity)
    Some(t.searchBytes(Lpm.bytes16(x))).filter(_ >= 0).map(t.values(_))
  }
}

class LpmSpec extends SparkTest {
  import LpmSpec.look

  private val empty = Lpm.build(Nil)

  private def addr6(s: String): Array[Byte] =
    Lpm.bytes16(Lpm.parseAddress(s).fold(sys.error, _._1))

  test("longest prefix wins inside overlaps (ip-btrie.h semantics)") {
    val t = Lpm.build(Seq(
      Lpm.prefix("10.0.0.0/8", "coarse"),
      Lpm.prefix("10.1.0.0/16", "fine"),
      Lpm.prefix("10.1.2.0/24", "finest")))
    assert(look(t, "10.0.0.1").contains("coarse"))
    assert(look(t, "10.1.0.1").contains("fine"))
    assert(look(t, "10.1.2.3").contains("finest"))
    assert(look(t, "10.1.3.1").contains("fine"))
    assert(look(t, "11.0.0.1").isEmpty)
    assert(look(t, "9.255.255.255").isEmpty)
  }

  test("non-aligned CIDR is canonicalized to its network address") {
    val t = Lpm.build(Seq(Lpm.prefix("10.1.2.3/24", "x")))
    assert(look(t, "10.1.2.0").contains("x"))
    assert(look(t, "10.1.2.255").contains("x"))
    assert(look(t, "10.1.3.0").isEmpty)
  }

  test("IPv6 list membership") {
    val l = IpList("v6", Seq("2001:db8::/32", "fc00::/7"))
    assert(look(l.v6, "2001:db8::1").isDefined)
    assert(look(l.v6, "fd12:3456::1").isDefined)
    assert(look(l.v6, "2001:db9::1").isEmpty)
    assert(l.v4.size == 0)
  }

  test("two-long unsigned search: v4 and v6 boundary addresses") {
    // NAT64 well-known window 64:ff9b::/96 — exercises lo-only bounds
    val m = Lpm.build(Seq(Lpm.prefix("64:ff9b::/96", "nat64")))
    assert(look(m, "64:ff9b::10.0.0.1").contains("nat64"))
    assert(look(m, "64:ff9b::").contains("nat64"))          // exact start
    assert(look(m, "64:ff9b::ffff:ffff").contains("nat64")) // exact end
    assert(look(m, "64:ff9a:ffff:ffff:ffff:ffff:ffff:ffff").isEmpty)
    assert(look(m, "64:ff9b::1:0:0").isEmpty)               // end + 1

    // range straddling the 2^64 digit boundary: 0:0:0:2::/63 covers
    // hi ∈ {2,3} with every lo value — the search must carry across
    // the hi/lo split
    val s = Lpm.build(Seq(Lpm.prefix("0:0:0:2::/63", "straddle")))
    assert(look(s, "0:0:0:2::").contains("straddle"))
    assert(look(s, "0:0:0:2:ffff:ffff:ffff:ffff").contains("straddle"))
    assert(look(s, "0:0:0:3::").contains("straddle"))
    assert(look(s, "0:0:0:3:ffff:ffff:ffff:ffff").contains("straddle"))
    assert(look(s, "0:0:0:1:ffff:ffff:ffff:ffff").isEmpty)
    assert(look(s, "0:0:0:4::").isEmpty)

    // high bit set in hi (negative as a signed long) — signed compare
    // would order ff00:: before 2001:: and corrupt the search
    val h = Lpm.build(Seq(
      Lpm.prefix("2001:db8::/32", "doc"),
      Lpm.prefix("ff00::/8", "mcast")))
    assert(look(h, "ffff::1").contains("mcast"))
    assert(look(h, "ff00::").contains("mcast"))
    assert(look(h, "fe00::").isEmpty)
    assert(look(h, "2001:db8:8000::1").contains("doc")) // lo high bit
    assert(look(h, "2001:db9::").isEmpty)

    // a zero-extended v4 table: hi = 0, the full 32-bit range in lo
    val v4 = Lpm.build(Seq(Lpm.prefix("0.0.0.0/1", "low"),
      Lpm.prefix("255.255.255.255", "top")))
    assert(look(v4, "0.0.0.0").contains("low"))
    assert(look(v4, "127.255.255.255").contains("low"))
    assert(look(v4, "128.0.0.0").isEmpty)
    assert(look(v4, "255.255.255.255").contains("top"))
    assert(v4.search(0L, 1L << 32) == -1) // above the v4 space
    assert(v4.search(0L, -1L) == -1)      // a negative bigint key misses

    // non-16-byte / null input → miss, not a crash
    assert(h.searchBytes(Array[Byte](1, 2, 3)) == -1)
    assert(h.searchBytes(null) == -1)
    // empty table
    assert(look(empty, "2001:db8::1").isEmpty)
  }

  test("Lpm6 contains/lookup expressions through codegen (no UDF)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val addrs = Seq("2001:db8::1", "2001:db9::1", "ffff::1",
      "64:ff9b::10.0.0.1")
    val df = spark.createDataFrame(
      addrs.map(a => Row(a, addr6(a))).asJava,
      StructType(Seq(StructField("s", StringType),
        StructField("ip", BinaryType))))
    val list = IpList("x", Seq("2001:db8::/32", "ff00::/8", "10.0.0.0/8"))

    val got = df.select(col("s"), list.contains(col("ip")).as("m"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("2001:db8::1" -> true, "2001:db9::1" -> false,
      "ffff::1" -> true, "64:ff9b::10.0.0.1" -> false))

    // lookup with attribute slice; a miss is NULL
    val t = Lpm.build(Seq(
      Lpm.prefix("2001:db8::/32", "64600|SIX-A"),
      Lpm.prefix("ff00::/8", "64601|SIX-B")))
    val vals = df.select(col("s"), coalesce(
        LpmExpr.lookup(LpmPacked(empty, t, 1))(col("ip")), lit("?")).as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vals == Map("2001:db8::1" -> "SIX-A", "2001:db9::1" -> "?",
      "ffff::1" -> "SIX-B", "64:ff9b::10.0.0.1" -> "?"))

    // the compiled plan must carry the native expression, not a ScalaUDF
    // (analyzed plan: the optimizer folds a LocalRelation filter away) —
    // for a binary (v6) and a bigint (v4) column alike
    val plan = df.filter(list.contains(col("ip")))
      .queryExecution.analyzed.toString
    assert(plan.contains("lpm_lookup"), plan)
    assert(!plan.contains("UDF"), plan)
    val plan4 = spark.range(4).filter(list.contains(col("id")))
      .queryExecution.analyzed.toString
    assert(plan4.contains("lpm_lookup"), plan4)
    assert(!plan4.contains("UDF"), plan4)
  }

  test("malformed CIDRs are rejected, not silently mis-built") {
    // before r11: "10.0.0/8" folded to a wrong interval (matched 0/8),
    // "/33" crashed later with "BigInteger divide by zero", and a
    // negative mask over-matched everything; a sign or a non-ASCII
    // digit is not an octet
    for (bad <- Seq("10.0.0/8", "999.0.0.0/8", "10.0.0.0.1/8",
        "10.0.0.0/33", "10.0.0.0/-1", "10.0.x.0/8", "+10.0.0.1/8",
        "10.0.0.+1", "10.0.0.\u0661", "10.0.0.0/", "10.0.0.0/+8"))
      intercept[IllegalArgumentException] { Lpm.prefix(bad) }
    for (bad <- Seq("2001:db8::/129", "2001:db8::/-1", "example.com/64",
        ".1::2", "[::1]", "fe80::1%eth0", "2001:db8::g", "::1/"))
      intercept[IllegalArgumentException] { Lpm.prefix(bad) }
    // v4-mapped v6 CIDR is legitimate (RFC 4291) — Java parses the
    // literal to 4 bytes; the parser keeps the 128-bit v6 value
    val p = Lpm.prefix("::ffff:10.0.0.1/128")
    assert(p.bits == 128 && p.start == (BigInt(0xffff) << 32) + 0x0a000001L)
    assert(Lpm.prefix("::ffff:10.0.0.0/104").end ==
      (BigInt(0xffff) << 32) + 0x0affffffL)
  }

  test("packed attribute slice survives trailing empty fields and " +
    "out-of-range attrs (r11: bare split dropped them then crashed)") {
    val t = Lpm.build(Seq(Lpm.prefix("10.0.0.0/8", "as1|"))) // empty desc
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(0x0a000001L).toDF("ip")
    // attr 1 is the empty trailing field; attr 5 does not exist
    assert(df.select(LpmExpr.lookup(LpmPacked(t, empty, 1))(col("ip")))
      .collect()(0).getString(0) == "")
    assert(df.select(LpmExpr.lookup(LpmPacked(t, empty, 5))(col("ip")))
      .collect()(0).getString(0) == "")
  }

  test("v6 expressions reject non-binary input at analysis time") {
    val t = Lpm.build(Seq(Lpm.prefix("2001:db8::/32", "1")))
    val spark2 = spark
    import spark2.implicits._
    val df = Seq("not-bytes").toDF("s")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(IpList("x", empty, t).contains(col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("binary"), e.getMessage)
  }

  test("geo record attribute slicing") {
    val rec = GeoDb.record("EU", "de", "Germany", "BY", "Munich",
      "80331", "48.1", "11.5")
    assert(rec.split('|')(GeoDb.attrIndex("country_code")) == "de")
    assert(rec.split('|')(GeoDb.attrIndex("lat")) == "48.1")
  }

  test("FieldSpec parses '[src|dst] name [asc|desc]' " +
    "(filter-parser.c:393-485)") {
    val Right(f1) = FieldSpec.parse("octets desc")
    assert(f1.isAggr && f1.descending && f1.scale == 1 &&
      f1.sqlName == "octets")
    val Right(f2) = FieldSpec.parse("bits")
    assert(f2.isAggr && f2.scale == 8)
    val Right(f3) = FieldSpec.parse("src host")
    assert(!f3.isAggr && f3.sqlName == "src_host")
    val Right(f4) = FieldSpec.parse("div(octets, packets) asc")
    assert(f4.func.isDefined && f4.sqlName == "div_octets__packets_")
    assert(FieldSpec.parse("nonsense here").isLeft)
  }
}
