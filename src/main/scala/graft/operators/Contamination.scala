package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-overlap operators for training-data hygiene:
  *
  *  - [[ngramOverlap]]: per-document benchmark-contamination check — what
  *    fraction of a document's distinct word n-grams also appear in a
  *    held-out benchmark corpus (the standard eval-decontamination test
  *    applied before training-set admission).
  *  - [[vocabOverlapMatrix]]: pairwise n-gram-vocabulary Jaccard between
  *    corpus slices (sources, crawls, snapshots) — the corpus-level
  *    diagnostic for "how much does slice A re-serve slice B's content".
  *
  * Both are integer/bp-valued and engine-portable (DuckDB-oracled).
  */
object Contamination {

  /** Per-document distinct word n-grams (unfiltered whitespace tokens,
    * same shingling as [[Dedup.shingles]]). */
  private def distinctGrams(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    df.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()

  /** Benchmark contamination per document.
    *
    * Output: (idCol, n_distinct_grams, n_contam, contam_bp) where
    * contam_bp = 10000 × n_contam / n_distinct_grams (0 for gram-less
    * docs).
    *
    * Shape: the benchmark's distinct gram set is aggregated then
    * BROADCAST — benchmark suites are small (≤ millions of grams) next
    * to a 100 TB corpus, so the corpus side streams map-side with no
    * shuffle for the membership probe; the only shuffle is the per-doc
    * distinct/count, keyed by doc id. If the reference set ever outgrows
    * broadcast, the same plan holds with a bloom-filter pre-probe plus a
    * shuffled semi join on the survivors.
    */
  def ngramOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, n: Int): DataFrame = {
    val dg = distinctGrams(corpus, idCol, textCol, n)
    val bg = broadcast(
      bench.select(explode(Dedup.shingles(col(textCol), n)).as("g"))
        .distinct()
        .withColumn("__hit", lit(1L)))
    val per = dg.join(bg, Seq("g"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_distinct_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contam"))
    corpus.select(col(idCol)).join(per, Seq(idCol), "left").select(
      col(idCol),
      coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
      coalesce(col("n_contam"), lit(0L)).as("n_contam"),
      coalesce(
        floor(lit(10000L) * col("n_contam") / col("n_distinct_grams")),
        lit(0L)).cast("long").as("contam_bp"))
  }

  /** Benchmark contamination with a partitioned-Bloom pre-probe — the
    * scale path [[ngramOverlap]]'s scaladoc promises for when the
    * benchmark gram set outgrows a broadcast.
    *
    * Output: (idCol, n_distinct_grams, n_maybe, n_contam) — `n_maybe`
    * counts grams the Bloom filter admits (a guaranteed SUPERSET:
    * `n_maybe >= n_contam` on every row), `n_contam` the exactly
    * verified hits among them.
    *
    * Shape at 100 TB: the filter is a dense k·m-BIT bitmap (k·m/64
    * longs — 24 KB at m=65536, ~2 MB at m in the millions,
    * broadcastable long after the gram STRINGS stop being), built with
    * one distinct over the bench grams. The corpus probe is then
    * map-side only — an O(1) indexed word fetch + mask per hash
    * against the broadcast row, no join — and ONLY
    * admitted grams enter the exact semi join against the full bench
    * set: a 1%-contaminated corpus JOINS ~1% (+ false positives
    * ~fill^k) of its grams instead of all of them. The per-doc
    * distinct-gram count still shuffles every (doc, gram) pair once —
    * that is the output contract (`n_distinct_grams`), not the probe;
    * callers that only need the contamination verdict can drop it and
    * keep nothing but the admitted-gram shuffle. Hash family:
    * Kirsch–Mitzenmacher double hashing — ONE md5 per gram yields
    * (h1, h2) from disjoint 40-bit digest slices and row j probes
    * (h1 + j·h2) mod m (h2 forced odd), the standard k-from-2
    * construction; the DuckDB oracle replays it bit-for-bit.
    *
    * The probed gram projection is localCheckpoint'ed EAGERLY: building
    * (or even explain()ing) the returned frame runs the whole gram-probe
    * job at plan-construction time and pins the materialized RDD in
    * executor storage for the session; streaming inputs are
    * unsupported. */
  def bloomContamination(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         k: Int, m: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k=$k out of [1,8]")
    require(m >= 64, s"m=$m too small")
    require(m % 64 == 0, s"m=$m must be a multiple of 64")
    val dg = distinctGrams(corpus, idCol, textCol, n)
    val bg = bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()
    // a DENSE bitmap (k·m bits as k·m/64 longs), not a position array:
    // the per-gram probe is an O(1) indexed element_at + mask, where a
    // sorted-array membership test is an O(m) scan per gram per row —
    // at m=65536 that scan dominated the whole query (measured 6.2 s →
    // sub-second at sf0.1). Row j's cell c lives at global bit j·m+c.
    // Kirsch–Mitzenmacher: one md5 per gram, k cells from two 40-bit
    // slices (codegen CSE computes the digest once per projection);
    // h1 + j·h2 < 2^45, no overflow
    def cell(j: Int): Column = {
      val h1 = conv(substring(md5(col("g")), 1, 10), 16, 10)
        .cast("long")
      val h2 = conv(substring(md5(col("g")), 11, 10), 16, 10)
        .cast("long") * 2 + 1 // odd: full-period stride mod 2^a·b
      pmod(h1 + lit(j.toLong) * h2, lit(m.toLong))
    }
    val words = (0 until k).map { j =>
      val gp = cell(j) + lit(j.toLong * m)
      // call_function: the Scala shiftleft/shiftright helpers only
      // take literal shift amounts; the SQL functions take columns
      struct((gp / 64).cast("long").as("w"),
        call_function("shiftleft", lit(1L),
          (gp % 64).cast("int")).as("b"))
    }
    val nWords = k * m / 64
    val bitsRow = bg
      .select(explode(array(words: _*)).as("p"))
      .groupBy(col("p.w").as("w")).agg(bit_or(col("p.b")).as("b"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("b"))))
        .as("__m"))
      .select(transform(sequence(lit(0L), lit(nWords - 1L)),
        w => coalesce(try_element_at(col("__m"), w), lit(0L)))
        .as("__bits"))
    // `probed` fans out to the per-doc counts AND the exact-verify
    // semi join. An exchange-reuse root does NOT survive here:
    // PushDownLeftSemiAntiJoin rewrites the verify branch by pushing
    // the bg semi join below the gram distinct, so the two subtrees
    // stop being plan-identical and each consumer re-ran the whole
    // explode → distinct → md5 probe chain (r21 final-plan evidence:
    // two REPARTITION_BY_COL exchanges over twin scan→probe chains).
    // Materialize the narrow (id, g, maybe) projection once instead —
    // the q121/hammingPairs convention, the in-process stand-in for
    // the parquet write/read a 100 TB deployment puts between a
    // probe pass and its consumers. EAGER deliberately (r22 re-check):
    // a lazy checkpoint lets the two consumer stages race on the
    // un-materialized RDD and recompute the probe chain concurrently
    // (measured on q121's sibling-stage shape: lazy ~10% over eager
    // in the same window, medians 5.8 vs 5.3); the blocking job IS
    // the serialization point.
    val probed = dg.crossJoin(broadcast(bitsRow))
      .withColumn("__maybe", (0 until k)
        .map { j =>
          val gp = cell(j) + lit(j.toLong * m)
          (call_function("shiftright", element_at(col("__bits"),
            ((gp / 64) + 1).cast("int")), (gp % 64).cast("int"))
            .bitwiseAND(lit(1L))) === lit(1L)
        }
        .reduce(_ && _))
      .select(col(idCol), col("g"), col("__maybe"))
      .localCheckpoint()
    val per = probed.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_distinct_grams"),
      sum(when(col("__maybe"), 1L).otherwise(0L)).as("n_maybe"))
    // exact verify: only Bloom-admitted grams reach this join
    val conf = probed.filter(col("__maybe"))
      .join(bg, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contam"))
    corpus.select(col(idCol)).join(per, Seq(idCol), "left")
      .join(conf, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
  }

  /** Pairwise n-gram-vocabulary Jaccard between groups.
    *
    * Output: (grp_a, grp_b, n_common, jaccard_bp) for every unordered
    * group pair sharing ≥1 gram, grp_a < grp_b;
    * jaccard_bp = 10000 × |A∩B| / |A∪B|.
    *
    * Shape: distinct (group, gram) pairs once, then a self-equi-join on
    * gram restricted to grp_a < grp_b. With G groups a gram shared by
    * all of them emits G(G−1)/2 join rows — G is small (sources/crawls,
    * tens to hundreds), so the blow-up is bounded by G², not corpus
    * size; for large G feed df-capped grams (drop grams present in more
    * than maxDf groups — they carry no discriminating signal, exactly
    * the hot-gram cap ngramJaccardPairs uses).
    */
  def vocabOverlapMatrix(df: DataFrame, groupCol: String, textCol: String,
                         n: Int): DataFrame = {
    // NULL groups never survive the grp_a < grp_b equi-join, so drop
    // them before the gram pipeline — and (r21, the q18 lesson) the
    // join branches carry an inferred isnotnull(grp) that the sizes
    // branch otherwise lacks, which breaks the three-consumer
    // ReuseExchange of the distinct and re-runs the shingle scan.
    val sg = df.where(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()
    val sizes = sg.groupBy(col("grp")).agg(count(lit(1)).as("v"))
    val inter = sg.as("l")
      .join(sg.as("r"),
        col("l.g") === col("r.g") && col("l.grp") < col("r.grp"))
      .groupBy(col("l.grp").as("grp_a"), col("r.grp").as("grp_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes).withColumnRenamed("grp", "grp_a")
        .withColumnRenamed("v", "va"), Seq("grp_a"))
      .join(broadcast(sizes).withColumnRenamed("grp", "grp_b")
        .withColumnRenamed("v", "vb"), Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_common"),
        floor(lit(10000L) * col("n_common") /
          (col("va") + col("vb") - col("n_common")))
          .cast("long").as("jaccard_bp"))
  }
}
