package graft

import graft.flow.BuiltinTables
import graft.functions.{GeoDb, GeoLoader, Lpm}
import graft.LpmSpec.look
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** GeoIP/AS dump loader (reference xemkgeodb.c). */
class GeoLoaderSpec extends AnyFunSuite {

  test("csv fields: quoting, escaped quotes, embedded commas") {
    assert(GeoLoader.csvFields("a,b,c") == Seq("a", "b", "c"))
    assert(GeoLoader.csvFields("1.2.3.4,1.2.3.5,65000,\"Acme, Inc.\"")
      == Seq("1.2.3.4", "1.2.3.5", "65000", "Acme, Inc."))
    assert(GeoLoader.csvFields("x,\"say \"\"hi\"\"\",y")
      == Seq("x", "say \"hi\"", "y"))
    assert(GeoLoader.csvFields("a,,c") == Seq("a", "", "c"))
  }

  test("range → maximal CIDR prefixes (add_range4 walk)") {
    // aligned block = one prefix
    val one = GeoLoader.rangeToPrefixes(
      Lpm.prefix("192.0.2.0").start, Lpm.prefix("192.0.2.255").start,
      32, "v")
    assert(one.map(_.maskLen) == Seq(24))
    // unaligned range splits, covers exactly, stays disjoint
    val ps = GeoLoader.rangeToPrefixes(BigInt(5), BigInt(21), 32, "v")
    val covered = ps.flatMap(p =>
      (p.start.toLong to p.end.toLong)).sorted
    assert(covered == (5L to 21L).toList, s"got $ps")
    ps.foreach(p => assert(
      p.start % (p.end - p.start + 1) == 0, s"unaligned $p"))
    // full space from zero
    val all = GeoLoader.rangeToPrefixes(BigInt(0),
      (BigInt(1) << 32) - 1, 32, "v")
    assert(all ==
      Seq(Lpm.Prefix(BigInt(0), (BigInt(1) << 32) - 1, 0, "v", 32)))
  }

  test("geo dump parse: ranges, lowercasing, v6 rows, LPM nesting") {
    val csv =
      """# comment
        |4,10.0.0.0,10.255.255.255,EU,NL,Netherlands,NH,Amsterdam,1011,Europe/Amsterdam,52.37,4.90
        |4,10.1.0.0,10.1.255.255,EU,DE,Germany,BY,Munich,80331,Europe/Berlin,48.14,11.58
        |6,2001:db8::,2001:db8:ffff:ffff:ffff:ffff:ffff:ffff,NA,US,USA,CA,"San Jose, CA",95113,America/Los_Angeles,37.34,-121.89
        |""".stripMargin
    val t = GeoLoader.geoTables(csv)
    def country(ip: String) =
      look(t.v4, ip).map(_.split('|')(GeoDb.attrIndex("country")))
    assert(country("10.200.0.1").contains("Netherlands"))
    assert(country("10.1.2.3").contains("Germany")) // nested range wins
    assert(country("11.0.0.1").isEmpty)
    // continent/cc lowercased like the reference (xemkgeodb.c:321-327)
    val rec = look(t.v4, "10.1.2.3").get.split('|')
    assert(rec(GeoDb.attrIndex("continent")) == "eu")
    assert(rec(GeoDb.attrIndex("country_code")) == "de")
    // v6 row with a quoted comma city landed in the v6 table
    val v6rec = look(t.v6, "2001:db8::1").get
    assert(v6rec.split('|')(GeoDb.attrIndex("city")) == "San Jose, CA")
    assert(look(t.v6, "2001:db9::1").isEmpty)
  }

  test("AS dump parse: v4/v6 auto-detect, quoted descriptions") {
    val csv =
      """1.0.0.0,1.0.0.255,13335,"Cloudflare, Inc."
        |2001:db8::,2001:db8::ffff,64496,EXAMPLE-V6
        |""".stripMargin
    val t = GeoLoader.asTables(csv)
    assert(look(t.v4, "1.0.0.128").contains("13335|Cloudflare, Inc."))
    assert(look(t.v6, "2001:db8::42").contains("64496|EXAMPLE-V6"))
  }

  test("fromFiles loads a GeoDb from fixture dump files") {
    val dir = Files.createTempDirectory("graft_geodb")
    val geo = dir.resolve("geo4.csv")
    val as = dir.resolve("as4.csv")
    Files.write(geo, BuiltinTables.geoCsv.getBytes(StandardCharsets.UTF_8))
    Files.write(as, BuiltinTables.asCsv.getBytes(StandardCharsets.UTF_8))
    val db = GeoLoader.fromFiles(geo.toString, as.toString)
    assert(look(db.geo4, "192.0.2.7")
      .map(_.split('|')(GeoDb.attrIndex("country"))).contains("France"))
    assert(look(db.as4, "10.5.0.1").contains("64501|EXAMPLE-NET-B"))
  }

  test("loader-built builtin tables ≡ the prefix-literal tables") {
    val fromPrefixes = GeoDb(Lpm.build(BuiltinTables.geoPrefixes),
      Lpm.build(BuiltinTables.asPrefixes), Lpm.build(Nil), Lpm.build(Nil))
    val loaded = BuiltinTables.geoDb
    val probes = Seq("192.0.1.1", "192.0.2.200", "192.70.0.1",
      "192.130.0.1", "192.200.0.1", "10.0.0.1", "10.5.5.5", "10.13.0.9",
      "8.8.8.8", "192.0.3.0")
    probes.foreach { ip =>
      assert(look(loaded.geo4, ip) == look(fromPrefixes.geo4, ip), ip)
      assert(look(loaded.as4, ip) == look(fromPrefixes.as4, ip), ip)
    }
  }

  test("malformed dump rows fail with the line number, never with a " +
    "raw NumberFormatException or a DNS lookup") {
    // bad v4 octet / wrong part count / garbage / a signed octet (the
    // filter and IP lists reject it, so the loader must too) / a row
    // whose addresses disagree with its ip_ver: clear line-tagged error
    Seq("4,999.1.1.1,1.2.3.4,EU,DE,g,s,c,z,tz,1,2",
        "4,1.2.3,1.2.3.4,EU,DE,g,s,c,z,tz,1,2",
        "4,xx,1.2.3.4,EU,DE,g,s,c,z,tz,1,2",
        "4,+10.0.0.1,10.0.0.2,EU,DE,g,s,c,z,tz,1,2",
        "6,10.0.0.1,10.0.0.2,EU,DE,g,s,c,z,tz,1,2",
        "4,10.0.0.1,2001:db8::1,EU,DE,g,s,c,z,tz,1,2").foreach { row =>
      val e = intercept[IllegalArgumentException] {
        GeoLoader.parseGeoPrefixes(s"# header\n$row")
      }
      assert(e.getMessage.contains("line 2"), s"$row -> ${e.getMessage}")
    }
    // a HOSTNAME in a v6 field must be rejected by the literal check
    // (InetAddress.getByName on a non-literal would attempt DNS)
    val e6 = intercept[IllegalArgumentException] {
      GeoLoader.parseGeoPrefixes(
        "6,evil.example.com,2001:db8::2,EU,DE,g,s,c,z,tz,1,2")
    }
    assert(e6.getMessage.contains("line 1") &&
      e6.getMessage.contains("literal"), e6.getMessage)
    // AS dump: same contract
    val ea = intercept[IllegalArgumentException] {
      GeoLoader.parseAsPrefixes("1.2.3.4,1.2.999.4,64500,X")
    }
    assert(ea.getMessage.contains("line 1"), ea.getMessage)
    // valid v6 literals still parse (compressed + full width + the
    // RFC 4291 embedded dotted-quad forms, which stay 128-bit values in
    // the v6 table — the same value the filter DSL and IP lists use)
    val (v4, v6) = GeoLoader.parseAsPrefixes(
      "2001:db8::1,2001:0db8:0000:0000:0000:0000:0000:0001,1,A\n" +
        "::ffff:10.0.0.1,::ffff:10.0.0.1,2,B")
    assert(v4.isEmpty)
    assert(v6.map(p => (p.start, p.maskLen)) == Seq(
      (Lpm.prefix("2001:db8::1").start, 128),
      ((BigInt(0xffff) << 32) + Lpm.prefix("10.0.0.1").start, 128)))
  }
}
