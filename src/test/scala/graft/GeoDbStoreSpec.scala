package graft

import graft.flow.BuiltinTables
import graft.functions.{GeoDb, GeoDbStore, GeoLoader, Lpm}
import graft.LpmSpec.look

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Compiled GeoDb parquet artifact (reference xemkgeodb ops loop). */
class GeoDbStoreSpec extends SparkTest {

  private def probesEqual(a: GeoDb, b: GeoDb): Unit = {
    val v4Probes = Seq("192.0.1.1", "192.0.2.200", "192.70.0.1",
      "192.130.0.1", "10.0.0.1", "10.5.5.5", "10.13.0.9", "8.8.8.8",
      "0.0.0.1", "255.255.255.255")
    v4Probes.foreach { ip =>
      assert(look(a.geo4, ip) == look(b.geo4, ip), s"geo4 $ip")
      assert(look(a.as4, ip) == look(b.as4, ip), s"as4 $ip")
    }
    val v6Probes = Seq("2001:db8::1", "2001:db8:1::42", "2001:db9::1",
      "::1", "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff")
    v6Probes.foreach { ip =>
      assert(look(a.geo6, ip) == look(b.geo6, ip), s"geo6 $ip")
      assert(look(a.as6, ip) == look(b.as6, ip), s"as6 $ip")
    }
  }

  /** The whole pipe-joined geo record, through the broadcast LPM. */
  private def lookup(db: GeoDb) = graft.functions.LpmExpr.lookup(
    graft.functions.LpmPacked(db.geo4, db.geo6, -1)) _

  test("compile → read round-trips every family, including v6 and " +
    "full-width addresses") {
    val csvDir = Files.createTempDirectory("geodump")
    val geoCsv = csvDir.resolve("geo.csv")
    val asCsv = csvDir.resolve("as.csv")
    // builtin v4 fixtures + v6 rows so all four families are non-empty
    Files.write(geoCsv, (BuiltinTables.geoCsv +
      "\n6,2001:db8::,2001:db8:ffff:ffff:ffff:ffff:ffff:ffff," +
      "EU,NL,Netherlands,NH,Amsterdam,1011,Europe/Amsterdam,52.37,4.90\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.write(asCsv, (BuiltinTables.asCsv +
      "\n2001:db8::,2001:db8:1:ffff:ffff:ffff:ffff:ffff,64496,EXAMPLE-V6\n")
      .getBytes(StandardCharsets.UTF_8))
    val built = GeoLoader.fromFiles(geoCsv.toString, asCsv.toString)
    val out = Files.createTempDirectory("geodb_artifact").toFile
    GeoDbStore.compile(spark, geoCsv.toString, asCsv.toString,
      out.getAbsolutePath)
    // the artifact is family-partitioned parquet on disk
    val fams = out.listFiles().map(_.getName).filter(_.startsWith("family="))
    assert(fams.toSet == Set("family=geo4", "family=as4",
      "family=geo6", "family=as6"), fams.toSeq.toString)
    val loaded = GeoDbStore.read(spark, out.getAbsolutePath)
    probesEqual(built, loaded)
  }

  test("binary address codec: zero, v4-width, and 128-bit-max values") {
    // bytes16 is the artifact's column form; Table packs the same
    // value as two unsigned longs and must give it back unchanged
    Seq(BigInt(0), BigInt(1), Lpm.prefix("255.255.255.255").start,
      (BigInt(1) << 63), (BigInt(1) << 64) - 1, (BigInt(1) << 64),
      (BigInt(1) << 127), (BigInt(1) << 128) - 1).foreach { x =>
      assert(BigInt(1, Lpm.bytes16(x)) == x, x.toString)
      val t = Lpm.Table(Seq((x, x, "v")))
      assert(t.start(0) == x && t.end(0) == x, x.toString)
      assert(t.searchBytes(Lpm.bytes16(x)) == 0, x.toString)
    }
    intercept[IllegalArgumentException] { Lpm.bytes16(BigInt(1) << 128) }
    intercept[IllegalArgumentException] { Lpm.bytes16(BigInt(-1)) }
  }

  test("xegeoq-style query lines: hit formats pipe fields, miss is '?'") {
    val db = BuiltinTables.geoDb
    // a covered address renders every pipe field comma-joined
    val hitIp = "192.0.2.10" // inside the builtin geo fixture ranges
    val hit = GeoDbStore.queryLines(db, hitIp)
    assert(hit.length == 2 && hit.forall(_.startsWith(s"$hitIp ")))
    assert(hit.exists(l => l.startsWith(s"$hitIp geo: ") &&
      !l.contains("|") && l.split(", ").length > 2), hit.toString)
    // an uncovered address prints '?' for both databases
    val miss = GeoDbStore.queryLines(db, "203.0.113.250")
    assert(miss == Seq("203.0.113.250 geo: ?", "203.0.113.250 as: ?"),
      miss.toString)
  }

  test("rangeJoin on a v6 column equals the broadcast LPM path over NAT64 " +
    "addresses") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("geodb_rj6").toFile
    GeoDbStore.write(spark, BuiltinTables.geoDb, out.getAbsolutePath)
    val artifact = spark.read.parquet(out.getAbsolutePath)
    // the flow view's v6 shape: v4 test space embedded at 2001:db8:1::/96
    val flows = spark.range(2048).select(
      col("id"),
      expr("unhex(concat('20010DB80001000000000000', " +
        "lpad(hex((id * 2654435761) % 16777216 + 3221225472), 8, '0')))")
        .as("ip6"))
    val viaJoin = GeoDbStore.rangeJoin(flows, "ip6", artifact,
        family = "geo6", valueAs = "g")
      .select(col("id"), coalesce(col("g"), lit("-")).as("g"))
    val viaLpm = flows.select(col("id"),
      coalesce(lookup(BuiltinTables.geoDb)(col("ip6")), lit("-")).as("g"))
    assert(viaJoin.count() == 2048) // disjoint ranges: no row fan-out
    assert(viaJoin.orderBy("id").collect().map(_.toSeq).toSeq ==
      viaLpm.orderBy("id").collect().map(_.toSeq).toSeq)
    val plan = viaJoin.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"v6 range join must be an equi-join on the bucket:\n$plan")
  }

  test("rangeJoin on a v4 column equals the broadcast LPM path, as an " +
    "equi-join") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("geodb_rj").toFile
    GeoDbStore.write(spark, BuiltinTables.geoDb, out.getAbsolutePath)
    val artifact = spark.read.parquet(out.getAbsolutePath)
    val geo = BuiltinTables.geoDb
    // deterministic ip spread: inside/outside ranges, bucket edges
    val flows = spark.range(4096).select(
      col("id"),
      ((col("id") * 7919 * 65537) % 4294967296L).as("ip"))
    val viaJoin = GeoDbStore.rangeJoin(flows, "ip", artifact,
        family = "geo4", valueAs = "g")
      .select(col("id"), col("ip"),
        // geo4 values pack "attr1|attr2|..." — compare raw
        coalesce(col("g"), lit("-")).as("g"))
    val viaLpm = flows.select(col("id"), col("ip"),
      coalesce(lookup(geo)(col("ip")), lit("-")).as("g"))
    val a = viaJoin.orderBy("id").collect().map(_.toSeq)
    val b = viaLpm.orderBy("id").collect().map(_.toSeq)
    assert(a.length == 4096 && a.toSeq == b.toSeq)
    // a bucket width off the hex-digit grid reads the same ranges
    val odd = GeoDbStore.rangeJoin(flows, "ip", artifact,
        family = "geo4", valueAs = "g", prefixBits = Some(6))
      .select(col("id"), col("ip"), coalesce(col("g"), lit("-")).as("g"))
    assert(odd.orderBy("id").collect().map(_.toSeq).toSeq == b.toSeq)
    // at most one range matches (disjoint ranges): row count preserved
    assert(viaJoin.count() == 4096)
    val plan = viaJoin.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join must be an equi-join on the bucket:\n$plan")
  }
}
