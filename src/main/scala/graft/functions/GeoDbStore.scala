package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Persisted GeoIP/AS database — the Spark analog of the reference's
  * compiled-DB ops loop (xemkgeodb.c builds an artifact offline, the
  * collector mmaps it; geoip.c:91-183). [[compile]] turns the public
  * CSV dumps into sorted disjoint ranges stored as parquet on shared
  * storage ONCE; every job then [[read]]s the artifact — no per-job
  * CSV re-parse — and ships the broadcast-sized [[GeoDb]] to
  * executors. The parquet form is also directly queryable: a batch
  * enrichment can range-join `ip >= start AND ip <= end` against the
  * `lists` rows without loading a GeoDb at all (SURVEY §2.6's
  * range-join alternative).
  *
  * Addresses are stored as 16-byte big-endian binaries (v4 values
  * zero-extended) so one schema carries both families; the `family`
  * partition column (geo4 | as4 | geo6 | as6) keeps each table's rows
  * in their own parquet partition.
  */
object GeoDbStore {

  val schema: StructType = StructType(Seq(
    StructField("start", BinaryType, nullable = false),
    StructField("end", BinaryType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("family", StringType, nullable = false)))

  private def rows(family: String, t: Lpm.Table): Seq[Row] =
    (0 until t.size).map { i =>
      Row(Lpm.bytes16(t.start(i)), Lpm.bytes16(t.end(i)), t.values(i), family)
    }

  /** Write a built [[GeoDb]] as the parquet artifact. */
  def write(spark: SparkSession, db: GeoDb, dir: String): Unit = {
    val all = rows("geo4", db.geo4) ++ rows("as4", db.as4) ++
      rows("geo6", db.geo6) ++ rows("as6", db.as6)
    spark.createDataFrame(
        java.util.Arrays.asList(all: _*), schema)
      .write.mode("overwrite").partitionBy("family").parquet(dir)
  }

  /** Load the artifact back into a broadcast-ready [[GeoDb]]. The
    * collect is bounded by the DB size — geo databases are
    * driver-sized by contract (the reference mmaps the whole artifact
    * per worker; a broadcast table is the same trade). Rows are
    * re-sorted on load, so the artifact does not depend on parquet
    * preserving write order. */
  def read(spark: SparkSession, dir: String): GeoDb = {
    val byFam = spark.read.parquet(dir)
      .select("family", "start", "end", "value")
      .collect()
      .groupBy(_.getString(0))
    def table(f: String): Lpm.Table =
      Lpm.Table(byFam.getOrElse(f, Array.empty[Row]).toSeq
        .map(r => (BigInt(1, r.getAs[Array[Byte]](1)),
          BigInt(1, r.getAs[Array[Byte]](2)), r.getString(3)))
        .sortBy(_._1))
    GeoDb(table("geo4"), table("as4"), table("geo6"), table("as6"))
  }

  /** The xemkgeodb-parity compile job: CSV dumps in, parquet artifact
    * out (geo + AS side by side, like the reference's geodb dir,
    * CONFIG.md:104-106). */
  def compile(spark: SparkSession, geoCsvPath: String, asCsvPath: String,
              outDir: String): Unit =
    write(spark, GeoLoader.fromFiles(geoCsvPath, asCsvPath), outDir)

  /** One `xegeoq`-style lookup line per family (xegeoq.c:155-188:
    * "<addr> geo: a, b, ..." / "<addr> as: n, desc"; '?' unknown). */
  private[graft] def queryLines(db: GeoDb, addr: String): Seq[String] = {
    val (x, bits) = Lpm.parseAddress(addr)
      .fold(e => throw new IllegalArgumentException(e), identity)
    def line(v4: Lpm.Table, v6: Lpm.Table): String = {
      val t = if (bits == 32) v4 else v6
      val i = t.searchBytes(Lpm.bytes16(x))
      if (i < 0) "?" else t.values(i).split("\\|", -1).mkString(", ")
    }
    Seq(s"$addr geo: ${line(db.geo4, db.geo6)}",
      s"$addr as: ${line(db.as4, db.as6)}")
  }

  /** CLI: the reference's two geo-DB tools in one main.
    *  - compile (xemkgeodb shape): `GeoDbStore <geo.csv> <as.csv> <out>`
    *  - lookup  (xegeoq shape):    `GeoDbStore query <dbDir> <ip>...` */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false").getOrCreate()
    try args.toSeq match {
      case Seq("query", dbDir, addrs @ _*) if addrs.nonEmpty =>
        val db = read(spark, dbDir)
        addrs.foreach(a => queryLines(db, a).foreach(println))
      case Seq(geoCsv, asCsv, outDir) =>
        compile(spark, geoCsv, asCsv, outDir)
      case _ => sys.error(
        "usage: GeoDbStore <geo.csv> <as.csv> <outDir> | " +
          "GeoDbStore query <dbDir> <ip>...")
    } finally spark.stop()
  }

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  /** Distributed range-join enrichment — the scale path for when an
    * enrichment table OUTGROWS broadcast (the broadcast [[GeoDb]] is
    * the right tool for the reference-sized geo/AS DBs; a 100 TB-corpus
    * IP-reputation or flow-annotation table is not driver-sized).
    *
    * A naive `ip BETWEEN start AND end` join is a BroadcastNestedLoop /
    * cartesian — O(rows × ranges). Instead both sides are keyed by the
    * address's top `prefixBits` bits: each range EXPLODES into the
    * buckets it overlaps, the flow side computes one bucket per row, and
    * the join is a plain shuffled EQUI-join on the bucket with the range
    * test as residual. Ranges are sorted-disjoint by construction
    * ([[GeoLoader]]), so at most one range matches any address — no
    * post-join dedup needed.
    *
    * The address column's type picks the family, as in [[LpmLookup]]: an
    * integral column is v4, a binary(16) column v6. The artifact's
    * 16-byte bounds are read in that type (a v4 bound is its low 4
    * bytes), so the flow side costs one shift (v4) or one hex-substring
    * conv (v6) per row; Spark's BinaryType ordering is unsigned
    * lexicographic, which at fixed width IS numeric order.
    * `prefixBits` counts from the top of the family's width and
    * defaults to a quarter of it (/8 for v4, /32 for v6, one bucket per
    * allocation block); a range wider than a bucket explodes into every
    * bucket it overlaps, so keep it ≤ the narrowest expected
    * allocation. AQE skew-join splits residual hot buckets.
    *
    * Returns `flows` + `valueAs` (null where no range covers the ip). */
  def rangeJoin(flows: DataFrame, ipCol: String, artifact: DataFrame,
                family: String, valueAs: String,
                prefixBits: Option[Int] = None): DataFrame = {
    val bits = if (flows.schema(ipCol).dataType == BinaryType) 128 else 32
    val pb = prefixBits.getOrElse(bits / 4)
    require(pb >= 1 && pb <= math.min(bits - 8, 60),
      s"prefixBits must be in [1, ${math.min(bits - 8, 60)}], got $pb")
    def key(bound: Column): Column =
      if (bits == 128) bound
      else conv(hex(substring(bound, 13, 4)), 16, 10).cast("long")
    // the top pb bits of an address; a v6 one from the hex digits of
    // its 16 bytes (≤ 15 digits fit a long)
    val digits = (pb + 3) / 4
    def bucket(k: Column): Column =
      if (bits == 32) shiftright(k, 32 - pb)
      else shiftright(conv(substring(hex(k), 1, digits), 16, 10)
        .cast("long"), digits * 4 - pb)
    val ranges = artifact
      .filter(col("family") === family)
      .select(key(col("start")).as("_rj_start"),
        key(col("end")).as("_rj_end"), col("value").as(valueAs))
      .select(col("_rj_start"), col("_rj_end"), col(valueAs),
        explode(sequence(bucket(col("_rj_start")),
          bucket(col("_rj_end")))).as("_rj_bucket"))
    val f = flows
      .withColumn("_rj_bucket", bucket(col(ipCol))).alias("_f")
    val r = ranges.alias("_r")
    f.join(r,
        col("_f._rj_bucket") === col("_r._rj_bucket") &&
          col(s"_f.$ipCol") >= col("_r._rj_start") &&
          col(s"_f.$ipCol") <= col("_r._rj_end"),
        "left")
      .drop("_rj_bucket", "_rj_start", "_rj_end")
  }
}
