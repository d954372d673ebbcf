package graft

import graft.operators.TopK
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

class TopKSpec extends SparkTest {
  import TopKSpec.Model

  private def nullable(v: Option[Long]): java.lang.Long =
    v.map(java.lang.Long.valueOf).orNull

  private def opt(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  /** `TopK.topNOthers` over (time, key, octets) rows, sorted by octets
    * desc, key asc, collected in the model's row order. `perWindow`
    * partitions by time; otherwise time is dropped and reads back 0. */
  private def topN(rows: Seq[Model.Row3], perWindow: Boolean,
                   n: Int): Seq[Model.Row3] = {
    val df = spark.createDataFrame(
      rows.map(r => Row(r._1, nullable(r._2), nullable(r._3))).asJava,
      StructType(Seq("time", "key", "octets")
        .map(StructField(_, LongType, true))))
    val partCols = if (perWindow) Seq("time") else Nil
    TopK.topNOthers(df.select((partCols :+ "key" :+ "octets").map(col): _*),
        partCols, Seq("key"), Seq("octets"),
        Seq(col("octets").desc, col("key").asc), n)
      .select(if (perWindow) col("time") else lit(0L), col("key"),
        col("octets"))
      .collect().map(r => (r.getLong(0), opt(r, 1), opt(r, 2)))
      .toSeq.sorted
  }

  /** `TopK.topPctCut` over (k, v) rows, ties broken by k asc. */
  private def topPct(rows: Seq[(Long, Option[Long])],
                     pct: Double): Seq[(Long, Option[Long])] = {
    val df = spark.createDataFrame(
      rows.map(r => Row(r._1, nullable(r._2))).asJava,
      StructType(Seq(StructField("k", LongType, false),
        StructField("v", LongType, true))))
    TopK.topPctCut(df, "v", pct, Seq(col("k").asc))
      .collect().map(r => (r.getLong(0), opt(r, 1))).toSeq.sorted
  }

  private def agg = flowDf(
    Seq("time", "key", "octets"),
    Seq(
      Seq(0L, 1L, 100L), Seq(0L, 2L, 90L), Seq(0L, 3L, 80L),
      Seq(0L, 4L, 70L), Seq(0L, 5L, 60L),
      Seq(600L, 1L, 50L), Seq(600L, 2L, 40L)))

  test("topNOthers: head rows + NULL-key residual per window " +
    "(monit-objects-fwm.c:404-481)") {
    val out = TopK.topNOthers(agg, Seq("time"), Seq("key"), Seq("octets"),
      Seq(col("octets").desc, col("key").asc), 3)
      .orderBy(col("time"), col("key").isNull.cast("int"), col("octets").desc)
      .collect()
    // window 0: top-3 (100,90,80) + others 70+60=130 with NULL key
    val w0 = out.filter(_.getLong(0) == 0L)
    assert(w0.map(r => Option(r.get(1))).toSeq ==
      Seq(Some(1L), Some(2L), Some(3L), None))
    assert(w0.last.getLong(2) == 130L)
    // window 600: only 2 rows → no others row
    val w600 = out.filter(_.getLong(0) == 600L)
    assert(w600.length == 2 && w600.forall(!_.isNullAt(1)))
  }

  test("topNOthers global (no partition) with empty tail") {
    val out = TopK.topNOthers(agg.filter(col("time") === 600), Seq.empty,
      Seq("time", "key"), Seq("octets"), Seq(col("octets").desc), 5)
      .collect()
    assert(out.length == 2) // under the limit → no residual row
  }

  test("topNOthers ≡ reference model: 120 keys, n in {1, 10, 119, 120, 500}") {
    val rnd = new scala.util.Random(7)
    // 120 keys, distinct octet values so the sort order is total; the
    // partitioned run splits them over three windows
    val rows = rnd.shuffle((1L to 120L).toList).zipWithIndex.map {
      case (k, i) => (k % 3, Option(k), Option(10000L - i * 3L))
    }
    val global = rows.map(r => r.copy(_1 = 0L))
    for (n <- Seq(1, 10, 119, 120, 500)) {
      assert(topN(global, perWindow = false, n) == Model.topN(global, n),
        s"n=$n")
      assert(topN(rows, perWindow = true, n) == Model.topN(rows, n),
        s"n=$n per window")
    }
  }

  test("topNOthers: an all-NULL tail yields a NULL others measure (reference model)") {
    val nullTail = Seq((0L, Some(1L), Some(5L)), (0L, Some(2L), None),
      (0L, Some(3L), None))
    assert(topN(nullTail, perWindow = false, 1) == Model.topN(nullTail, 1))
    assert(Model.topN(nullTail, 1) ==
      Seq((0L, None, None), (0L, Some(1L), Some(5L))))
  }

  test("topPctCut ≡ reference model: spread/flat/zeros/NULL/negative bands, pct 0 to 150") {
    val rnd = new scala.util.Random(11)
    val spread = (1L to 150L).map(k =>
      (k, Option(rnd.nextInt(1 << rnd.nextInt(20)).toLong)))
    val flat = (1L to 40L).map(k => (k, Option(64L)))
    val zeros = (1L to 30L).map(k => (k, Option(if (k % 3 == 0) 0L else k)))
    // SQL three-valued logic: NULL measures sort last and add nothing
    // to a cumsum; an all-NULL total keeps no row
    val nulls = (1L to 30L).map(k =>
      (k, if (k % 4 == 0) None else Option(k * 7L)))
    val allNull = (1L to 5L).map(k => (k, Option.empty[Long]))
    val negative = (1L to 30L).map(k => (k, Option(k * 11L - 150L)))
    for ((rows, what) <- Seq((spread, "spread"), (flat, "flat"),
        (zeros, "zeros"), (nulls, "nulls"), (allNull, "allNull"),
        (negative, "negative"));
        pct <- Seq(0.0, 10.0, 50.0, 90.0, 99.9, 100.0, 150.0))
      assert(topPct(rows, pct) == Model.topPct(rows, pct),
        s"$what pct=$pct")
  }

  test("topPctCut ≡ reference model on heavy-tailed data, huge magnitudes, random pcts") {
    val rnd = new scala.util.Random(1729)
    for (trial <- 1 to 5) {
      // heavy-tailed: magnitudes spanning 2^0 .. 2^40, duplicates
      // common (ties exercise the tieBreak)
      val rows = (1L to 80L).map { k =>
        val mag = rnd.nextInt(41)
        (k, Option((1L << mag) + rnd.nextInt(3).toLong - 1L))
      }
      val pct = rnd.nextDouble() * 120.0
      assert(topPct(rows, pct) == Model.topPct(rows, pct),
        s"trial=$trial pct=$pct")
    }
  }

  test("topPctCut keeps rows until cumulative reaches pct " +
    "(classification.c:524-619)") {
    val df = flowDf(Seq("k", "v"),
      Seq(Seq(1L, 50L), Seq(2L, 30L), Seq(3L, 15L), Seq(4L, 5L)))
    // total=100; 90%: cum-excl 0,50,80,95 → keep k=1,2,3
    val out = TopK.topPctCut(df, "v", 90.0, Seq(col("k").asc))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L))
    // 50%: cum-excl 0,50 → keep only k=1 (50 < 50 is false for k=2)
    val out50 = TopK.topPctCut(df, "v", 50.0, Seq(col("k").asc))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(out50 == Seq(1L))
  }
}

object TopKSpec {

  /** Brute-force reference model of both cuts over collected rows. Rows
    * sort by (measure desc NULLS LAST, key asc NULLS FIRST), Spark's
    * defaults for `desc` / `asc`. */
  object Model {
    /** (partition, key, measure) */
    type Row3 = (Long, Option[Long], Option[Long])

    private val order = Ordering.Tuple2(
      Ordering.Option(Ordering.Long).reverse, Ordering.Option(Ordering.Long))

    /** SQL SUM: NULLs skipped, NULL over no non-NULL value. */
    private def sum(vs: Seq[Option[Long]]): Option[Long] =
      vs.flatten.reduceOption(_ + _)

    /** Per partition: the first n rows, then one NULL-key row summing the
      * rest when there is a rest. */
    def topN(rows: Seq[Row3], n: Int): Seq[Row3] =
      rows.groupBy(_._1).toSeq.flatMap { case (p, rs) =>
        val (head, tail) = rs.sortBy(r => (r._3, r._2))(order).splitAt(n)
        if (tail.isEmpty) head
        else head :+ ((p, None, sum(tail.map(_._3))))
      }.sorted

    /** Keep a row while the sum of the rows before it (0 when none) is
      * `< total * pct / 100.0`, in the window form's double math. */
    def topPct(rows: Seq[(Long, Option[Long])],
               pct: Double): Seq[(Long, Option[Long])] = {
      val total = sum(rows.map(_._2))
      val sorted = rows.sortBy(r => (r._2, Option(r._1)))(order)
      val cumExcl = sorted.scanLeft(0L)(_ + _._2.getOrElse(0L))
      sorted.zip(cumExcl).collect {
        case (r, cum) if total.exists(t =>
          cum.toDouble < t.toDouble * pct / 100.0) => r
      }.sorted
    }
  }
}

/** FIXTURES.md §4 golden: {"fields": ["octets desc","src host"],
  * "limit": 5, "time": 10} → per 10s window top-5 + NULL-key others
  * (STEP-BY-STEP.md:383-402, monit-objects-fwm.c:404-481). */
class FwmGoldenSpec extends SparkTest {
  test("fwm golden: top-5 by octets + others row per 10s window") {
    import graft.filter.FilterEnv
    import graft.operators.Fwm
    import org.apache.spark.sql.functions.col
    // 7 hosts in window [0,10), 2 in window [10,20)
    val rows = (1 to 7).map(h =>
      Seq(3L, 167772160L + h, 1000L * (8 - h), 1L)) ++
      Seq(Seq(12L, 167772161L, 50L, 1L), Seq(13L, 167772162L, 40L, 1L))
    val flows = flowDf(
      Seq("ts_sec", "ip4_src_addr", "in_bytes", "sampling_rate"), rows)
    val env = FilterEnv.flow(spark)
    val out = Fwm.batch(flows, env,
      Fwm.Conf("by_src", Seq("octets desc", "src host"),
        timeSec = 10, limit = Some(5)),
      samplingRate = Some(col("sampling_rate"))).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2)))
    val w0 = out.filter(_._1 == 0L)
    // top-5: hosts 1..5 with 7000..3000, then others = 2000+1000
    assert(w0.take(5).map(_._3).toSeq ==
      Seq(7000L, 6000L, 5000L, 4000L, 3000L))
    assert(w0.take(5).forall(_._2.isDefined))
    assert(w0.last == ((0L, None, 3000L))) // NULL-key residual
    assert(w0.length == 6)
    // window [10,20): under the limit → no others row
    val w10 = out.filter(_._1 == 10L)
    assert(w10.length == 2 && w10.forall(_._2.isDefined))
  }
}
