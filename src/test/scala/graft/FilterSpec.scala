package graft

import graft.filter.{Ast, Compiler, FilterEnv, Lexer, Parser}
import graft.functions.IpList
import org.apache.spark.sql.functions.col

/** Filter DSL truth table (FIXTURES.md §3; semantics anchors into the
  * reference are on each case). */
class FilterSpec extends SparkTest {

  private val cols = Seq("ip4_src_addr", "ip4_dst_addr", "l4_src_port",
    "l4_dst_port", "protocol", "tcp_flags", "in_bytes", "in_pkts",
    "src_as", "dst_as")

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((a, p) => a * 256 + p.toLong)

  // one row per tuple; fields in `cols` order
  private val rows = Seq(
    //       src            dst             sp     dp   proto fl  bytes pkts sas das
    Seq(ip("10.11.12.13"), ip("1.2.3.4"),   443L, 8080L, 6L, 18L, 1000L, 10L, 1L, 2L),
    Seq(ip("10.11.12.13"), ip("10.11.12.200"), 12345L, 22L, 6L, 2L, 99999L, 1L, 3L, 4L),
    Seq(ip("192.168.1.1"), ip("4.3.2.1"),   53L,  53L, 17L, 0L, 300L, 3L, 5L, 12345L),
    Seq(ip("1.2.3.4"),     ip("2.3.4.5"),   80L,  443L, 6L, 16L, 5000L, 100L, 7L, 12345L)
  )

  private def env = FilterEnv.flow(spark,
    ipLists = Map("bogon" -> IpList("bogon",
      Seq("10.0.0.0/8", "192.168.0.0/16", "fc00::/7"))))

  /** Which of `rows` (by index) match the expression. */
  private def matching(exprStr: String): Seq[Int] = {
    val pred = Compiler.filterColumn(exprStr, env)
      .fold(e => fail(s"parse/compile failed for '$exprStr': $e"), identity)
    val df = flowDf(cols :+ "idx",
      rows.zipWithIndex.map { case (r, i) => r :+ i.toLong })
    df.filter(pred).select(col("idx")).collect().map(_.getLong(0).toInt)
      .toSeq.sorted
  }

  test("empty filter matches everything (reference filter.c:968-971)") {
    assert(Parser.parse("", Set("host")) == Right(Ast.MatchAll))
    assert(matching("") == Seq(0, 1, 2, 3))
  }

  test("dst net CIDR (reference filter.c:255-357)") {
    assert(matching("dst net 10.11.12.0/24") == Seq(1))
  }

  test("bare host matches src OR dst (reference CONFIG.md:298)") {
    assert(matching("host 1.2.3.4") == Seq(0, 3))
  }

  test("net <listname> LPM membership (reference filter.c:186-218)") {
    // src 10/8 or 192.168/16 members: rows 0,1 (src), 1 (dst), 2 (src)
    assert(matching("net bogon") == Seq(0, 1, 2))
    assert(matching("dst net bogon") == Seq(1))
  }

  test("mac equality (src OR dst) and bare-word / quoted string " +
    "equality with NULL 3VL (reference filter.c:753-787)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def mac(s: String): Array[Byte] =
      s.split(':').map(h => Integer.parseInt(h, 16).toByte)
    val df = spark.createDataFrame(Seq(
      Row(0L, mac("02:00:00:00:00:2a"), mac("02:00:00:00:00:01"), "a.example"),
      Row(1L, mac("02:00:00:00:00:01"), mac("02:00:00:00:00:2a"), null),
      Row(2L, mac("02:00:00:00:00:03"), mac("02:00:00:00:00:04"), "b.example"),
      Row(3L, mac("02:00:00:00:00:05"), mac("02:00:00:00:00:06"), null)
    ).asJava, StructType(Seq(
      StructField("idx", LongType, false),
      StructField("src_mac", BinaryType, true),
      StructField("dst_mac", BinaryType, true),
      StructField("sni", StringType, true))))
    def m(e: String): Seq[Int] = {
      val pred = Compiler.filterColumn(e, FilterEnv.flow(spark))
        .fold(err => fail(s"compile failed for '$e': $err"), identity)
      df.filter(pred).collect().map(_.getLong(0).toInt).toSeq.sorted
    }
    assert(m("mac 02:00:00:00:00:2a") == Seq(0, 1))        // src OR dst
    assert(m("src mac 02:00:00:00:00:2a") == Seq(0))
    assert(m("sni a.example") == Seq(0))                   // bare word
    assert(m("sni 'b.example'") == Seq(2))  // quoted (filter-lexer.c:224)
    assert(m("not sni a.example") == Seq(2))               // NULL ≠ match
  }

  test("port value list = implicit OR (reference CONFIG.md:285)") {
    assert(matching("port 80 or 443") == Seq(0, 3))
  }

  test("proto + port range (reference filter-lexer.c:270-291)") {
    assert(matching("proto 6 and dst port 8000-8999") == Seq(0))
  }

  test("NOT + parens, AND binds tighter than OR (reference CONFIG.md:294)") {
    assert(matching("dst as 12345 and not (dst host 1.2.3.4 or 2.3.4.5)")
      == Seq(2))
    // quirk faithfully mirrored from the reference: an `or` directly after
    // a value list is consumed INSIDE the rule's factor (filter-parser.c
    // id():47-85), so this parses as proto17 ∧ (port53 ∨ (proto6 ∧ dst22)),
    // NOT as (proto17 ∧ port53) ∨ (proto6 ∧ dst22)
    assert(matching("proto 17 and port 53 or proto 6 and dst port 22")
      == Seq(2))
    // with parens the plain A∧B ∨ C∧D precedence applies
    assert(matching("proto 17 and (port 53) or proto 6 and dst port 22")
      == Seq(1, 2))
  }

  test("div function predicate (reference tests/test_filters.c:14-15)") {
    // bytes/pkts: 100, 99999, 100, 50
    assert(matching("div(octets, packets) 0-100") == Seq(0, 2, 3))
  }

  test("reference's own compound test expression, case-insensitive") {
    val e = "Src host 10.11.12.13 and (PORT 12345 or 54321) " +
      "or dst host 4.3.2.1 and div(octets, packets) 0-100"
    assert(matching(e) == Seq(1, 2))
  }

  test("lexer classifies tokens like the reference") {
    val Right(toks) = Lexer.tokenize("port 80-90 aa:bb:cc:dd:ee:ff 'x y'")
    assert(toks(0) == Lexer.Word("port"))
    assert(toks(1) == Lexer.IntRangeTok(80, 90))
    assert(toks(2).isInstanceOf[Lexer.MacTok])
    assert(toks(3) == Lexer.StrTok("x y"))
  }

  test("hex and octal ints (strtol base-0 semantics)") {
    val Right(toks) = Lexer.tokenize("0x10 010")
    assert(toks(0) == Lexer.IntRangeTok(16, 16))
    assert(toks(1) == Lexer.IntRangeTok(8, 8))
  }

  test("host6/net6 compile to codegen LPM; geo fns dispatch on v6 args") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.flow.BuiltinTables
    def a6(s: String) = java.net.InetAddress.getByName(s).getAddress
    // (idx, src6, dst6): row 0 in 2001:db8::/32 src, row 1 matches the
    // docs6 dst list, row 2 matches neither
    // row 3's src is the v4-mapped ::ffff:10.0.0.1 (Java would fold the
    // literal to 4 bytes, so spell out the 16)
    val mapped = Array.fill[Byte](10)(0) ++ Array[Byte](-1, -1, 10, 0, 0, 1)
    val rows = Seq(
      (0L, a6("2001:db8::a04:1"), a6("2001:db9::1")),
      (1L, a6("fd00::1"), a6("2001:db8:1::c0a8:7")),
      (2L, a6("fd00::1"), a6("2001:db9::1")),
      (3L, mapped, a6("2001:db9::1")))
    val df = spark.createDataFrame(
      rows.map { case (i, s, d) => Row(i, s, d) }.asJava,
      StructType(Seq(StructField("idx", LongType),
        StructField("ip6_src_addr", BinaryType),
        StructField("ip6_dst_addr", BinaryType))))
    val env6 = FilterEnv.flow(spark, ipLists = BuiltinTables.ipLists,
      geo = Some(BuiltinTables.geoDb))
    def sel(expr: String): Seq[Long] = {
      val pred = Compiler.filterColumn(expr, env6)
        .fold(e => fail(s"compile failed for '$expr': $e"), identity)
      df.filter(pred).select(col("idx")).collect().map(_.getLong(0))
        .toSeq.sorted
    }
    assert(sel("src net6 2001:db8::/32") == Seq(0))
    assert(sel("src host6 2001:db8::a04:1") == Seq(0))
    assert(sel("dst net6 docs6") == Seq(1))
    assert(sel("net6 2001:db8::/32") == Seq(0, 1)) // bare = src OR dst
    // the embedded dotted-quad form is an ordinary v6 literal, parsed
    // the way IP lists and the geo loader parse it
    assert(sel("src host6 ::ffff:10.0.0.1") == Seq(3))
    assert(sel("net6 ::ffff:10.0.0.0/104") == Seq(3))
    assert(sel("net6 ::ffff:0:0/96") == Seq(3))
    // a mask outside [0, 128] is an error, not a match-everything range
    // (nor an IP-list name)
    for (bad <- Seq("dst net6 2001:db8::/-1", "dst net 2001:db8::/-1",
        "dst net6 2001:db8::/129",
        "net 10.0.0.0/33", "net 10.0.0.0/-8")) {
      val r = Compiler.filterColumn(bad, env6)
      assert(r.isLeft && r.left.exists(_.contains("mask")), s"$bad -> $r")
    }
    // geo function over a v6-typed arg resolves via the v6 tables
    // (row1 dst embeds 192.168.0.7 → the JP quarter of the geo layout)
    assert(sel("asn(src host6) 64601") == Seq(0))
    assert(sel("country(dst host6) Japan") == Seq(1))
    // compiled plan: native LPM expression, no ScalaUDF
    val pred = Compiler.filterColumn("net6 2001:db8::/32 or src net6 docs6",
      env6).fold(e => fail(e), identity)
    val plan = df.filter(pred).queryExecution.analyzed.toString
    assert(plan.contains("lpm_lookup"), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("or-continuation splices a sub-expression (filter-parser.c:47-85)") {
    // 'port 53 or proto 6 and dst port 22' →
    //   port 53 OR (proto 6 AND dst port 22)
    assert(matching("port 53 or proto 6 and dst port 22") == Seq(1, 2))
  }
}
