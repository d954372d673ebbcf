package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Embedding similarity search: brute-force cosine top-k baseline and an
  * LSH-bucketed approximate path for scale.
  *
  * The dot product / norms accumulate the float array cast to double
  * element-wise, summed left-to-right — a fixed IEEE op order, so the
  * DuckDB oracle (list_transform + list_reduce in the same order)
  * reproduces the doubles bit-for-bit. Since r8 the arithmetic runs in
  * a native codegen'd expression ([[graft.functions.VecDotExpr]]) — the
  * previous `aggregate(zip_with(...))` higher-order form interpreted a
  * lambda per element and allocated an intermediate array per row; the
  * expression is a tight generated loop with the IDENTICAL op order
  * (differential-tested in VecExprSpec), so oracles are unaffected.
  */
object Similarity {

  /** Σ a[i]*b[i] with left-to-right double accumulation (codegen'd). */
  def dot(a: Column, b: Column): Column =
    GraftBridge.toColumn(graft.functions.VecDotExpr(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b)))

  /** The higher-order-function form `dot` replaced — kept as the
    * differential-test reference (same values, interpreted per element,
    * one intermediate array per row). */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** [[cosine]] that yields NULL (undefined) instead of an ANSI
    * divide-by-zero error when either vector has zero norm — the SQL
    * registry's `vec_cosine`. */
  def cosineNullSafe(a: Column, b: Column): Column =
    cosinePre(a, b, norm2(a), norm2(b))

  /** cosine with both norms precomputed (bit-identical to [[cosine]]:
    * the factors are the same `sqrt(Σx²)` doubles multiplied in the same
    * order, just evaluated once per ROW instead of once per candidate
    * PAIR — the difference is O(|pairs|·dim) saved work, not a value
    * change, so DuckDB oracles written against [[cosine]] still match).
    * A zero norm on either side yields NULL (undefined cosine) instead
    * of the ANSI-mode divide-by-zero error — the `when` short-circuits
    * so nonzero-norm rows evaluate the identical Divide. */
  private def cosinePre(a: Column, b: Column, na: Column,
                        nb: Column): Column =
    when(na =!= 0.0 && nb =!= 0.0, dot(a, b) / (na * nb))

  /** The top-n rows of each `q_id` by `score` descending (NULLs last),
    * ties to the smaller `tie` — the per-query cut every panel search
    * here ends with. */
  private def topPerQuery(df: DataFrame, score: String, tie: String,
                          n: Int): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col(score).desc, col(tie).asc)))
      .filter(col("__rn") <= n).drop("__rn")

  /** Brute-force top-k nearest to one query vector. The per-row cosine is
    * embarrassingly parallel; the top-k is a TakeOrdered (no full sort).
    * The query norm rides the broadcast row (computed once, not per row).
    */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(queryVecCol).as("__qv"),
      norm2(col(queryVecCol)).as("__qn")))
    df.crossJoin(q)
      .select(col(idCol),
        cosinePre(col(vecCol), col("__qv"),
          norm2(col(vecCol)), col("__qn")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Random-hyperplane LSH signature: bit j = sign(dot(v, h_j)) where
    * h_j[i] ∈ {+1,-1} derives from md5(j|i) — deterministic, engine
    * independent. Vectors in the same bucket are cosine-close with high
    * probability; search only scans the query's bucket (the IVF-style
    * scale path: bucket count grows with nBits, candidate set shrinks). */
  /** The ±1 coefficient of hyperplane j at dimension i — deterministic
    * (one md5 hex nibble), so any engine can reproduce the exact
    * signature; the DuckDB oracle bakes these as literals. */
  def hyperplaneSign(j: Int, i: Int): Double =
    if ((Integer.parseInt(md5Hex(s"$j|$i").substring(0, 1), 16) & 1) == 1)
      1.0
    else -1.0

  def lshSignature(vec: Column, dim: Int, nBits: Int): Column = {
    // One native codegen'd expression (r8): the nBits×dim coefficient
    // matrix rides as a referenced double[] in the generated class (the
    // LPM-table pattern) — plan size stays O(1) in dim AND execution is
    // a tight loop (the previous nested-aggregate form interpreted a
    // lambda per element and allocated one zip_with array per PLANE per
    // row). Bit values are unchanged: each plane's dot accumulates
    // left-to-right in doubles from 0.0, short/null-element vectors
    // yield signature 0 — exactly the old fold's semantics
    // (differential-tested in VecExprSpec), so existing DuckDB oracles
    // that bake the same signs reproduce identical buckets.
    val planes = Array.tabulate(nBits * dim)(p =>
      hyperplaneSign(p / dim, p % dim))
    GraftBridge.toColumn(graft.functions.LshSignatureExpr(
      GraftBridge.toExpression(vec), planes, dim, nBits))
  }

  /** The nested-higher-order form `lshSignature` replaced — kept as the
    * differential-test reference. */
  private[graft] def lshSignatureHof(vec: Column, dim: Int,
                                     nBits: Int): Column = {
    val planes = typedlit((0 until nBits).map { j =>
      (0 until dim).map(i => hyperplaneSign(j, i))
    })
    val pows = typedlit((0 until nBits).map(j => 1L << j))
    // slice to the declared dim: zip_with null-pads the SHORTER side, so
    // a vector longer than dim would otherwise produce NULL products and
    // a 0 signature for every row (old element_at form truncated)
    val v = slice(vec, 1, dim)
    aggregate(
      sequence(lit(0), lit(nBits - 1)),
      lit(0L),
      (acc, j) => {
        val plane = element_at(planes, (j + 1).cast("int"))
        val s = aggregate(zip_with(v, plane,
          (x, c) => x.cast("double") * c), lit(0.0), (a, t) => a + t)
        acc + when(s >= 0, element_at(pows, (j + 1).cast("int")))
          .otherwise(lit(0L))
      })
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Bucketed ANN: group vectors by LSH signature, search only the
    * query's bucket. Returns top-k within the bucket. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              nBits: Int, query: DataFrame, queryVecCol: String,
              k: Int): DataFrame = {
    val sig = lshSignature(col(vecCol), dim, nBits)
    val bucketed = df.withColumn("__sig", sig)
    val q = broadcast(query
      .select(col(queryVecCol).as("__qv"),
        norm2(col(queryVecCol)).as("__qn"))
      .withColumn("__qsig", lshSignature(col("__qv"), dim, nBits)))
    bucketed.join(q, col("__sig") === col("__qsig"))
      .select(col(idCol),
        cosinePre(col(vecCol), col("__qv"),
          norm2(col(vecCol)), col("__qn")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ANN: top-k per query vector over a SET of queries — the
    * shape a training-data pipeline actually runs (dedup a shard
    * against an index, not one probe at a time). The bucket equi-join
    * replaces the per-query scan; work scales with bucket occupancy ×
    * queries, never |data| × |queries|. */
  def annTopKBatch(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   nBits: Int, queries: DataFrame, qIdCol: String,
                   qVecCol: String, k: Int): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol),
      lshSignature(col(vecCol), dim, nBits).as("__sig"),
      norm2(col(vecCol)).as("__n"))
    val q = broadcast(queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).as("__qv"),
      lshSignature(col(qVecCol), dim, nBits).as("__qsig"),
      norm2(col(qVecCol)).as("__qn")))
    topPerQuery(bucketed.join(q, col("__sig") === col("__qsig"))
        .select(col("q_id"), col(idCol),
          cosinePre(col(vecCol), col("__qv"),
            col("__n"), col("__qn")).as("sim")),
      "sim", idCol, k)
  }

  /** The centroid table as the IVF stages read it: (__cid, __cv, __cn),
    * broadcast, each norm computed once per centroid. */
  private def prepCent(centroids: DataFrame, centIdCol: String,
                       centVecCol: String): DataFrame =
    broadcast(centroids.select(col(centIdCol).as("__cid"),
      col(centVecCol).as("__cv"), norm2(col(centVecCol)).as("__cn")))

  /** Nearest-centroid assignment by cosine, ties to the smaller cid —
    * the one rule the IVF lists, the coarse cell table and
    * [[semanticDedup]] share. Returns (idCol, vecCol, __n, __cid).
    *
    * Argmin as a partial-aggregated min(struct(-sim, cid, …)): the
    * broadcast join fans each vector out to k rows INSIDE the map task,
    * and the partial aggregate collapses them back to one row per vector
    * before the shuffle, so shuffle volume is |vectors|, independent of
    * k (a window argmin would shuffle all n×k rows — a k-fold
    * amplification that kills the plan at k = 4096..65536). Negating the
    * cosine turns argmax into struct-min; IEEE negation is exact and
    * order-reversing. The row norm is computed ONCE per vector. A
    * zero-norm centroid (or vector) yields a NULL cosine, which
    * struct-min would sort SMALLEST and let win every argmin, so NULL
    * coalesces to +Inf (nulls-last). */
  private def assignToCentroids(df: DataFrame, idCol: String,
                                vecCol: String,
                                cent: DataFrame): DataFrame =
    df.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n"))
      .join(cent)
      .withColumn("__csNeg",
        coalesce(
          -cosinePre(col(vecCol), col("__cv"), col("__n"), col("__cn")),
          lit(Double.PositiveInfinity)))
      .groupBy(col(idCol))
      .agg(min(struct(col("__csNeg"), col("__cid"),
        col(vecCol).as("__v"), col("__n").as("__vn"))).as("m"))
      .select(col(idCol), col("m.__v").as(vecCol),
        col("m.__vn").as("__n"), col("m.__cid").as("__cid"))

  /** Σ (a_i − b_i)² over long arrays, codegen'd — the exact integer
    * distance of k-means training and PQ. */
  private def sqDist(a: Column, b: Column): Column = GraftBridge.toColumn(
    graft.functions.VecSqDistLongExpr(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b)))

  /** Element-wise floor(x·scale) as longs — the one quantization every
    * integer-exact trainer and its DuckDB replay share. */
  private def floorScaled(v: Column, scale: Long): Column =
    transform(v, x => floor(x * lit(scale.toDouble)).cast(LongType))

  /** (id, v): `vecCol` quantized by [[floorScaled]]. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
                        scale: Long): DataFrame =
    df.select(col(idCol).as("id"), floorScaled(col(vecCol), scale).as("v"))

  /** The PQ subspace width dim/m. */
  private def subDim(dim: Int, m: Int): Int = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into $m subspaces")
    dim / m
  }

  /** `keep` plus one (sub, sv) row per PQ subspace j of the long array
    * `v`: positions [j·sub, (j+1)·sub). */
  private def sliced(df: DataFrame, m: Int, sub: Int,
                     keep: Seq[String] = Seq("id")): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until m).map(j =>
        struct(lit(j).cast(LongType).as("sub"),
          slice(col("v"), j * sub + 1, sub).as("sv"))): _*)).as("__s"): _*)
      .select(keep.map(col) ++ Seq(col("__s.sub").as("sub"),
        col("__s.sv").as("sv")): _*)

  /** Nearest centroid by exact integer squared-L2, ties to the smaller
    * cid — the one argmin behind Lloyd assignment, PQ encoding and the
    * IVF-PQ list assignment. Every row of `df` (an `id`, the `keys`, the
    * long array `vec`) meets each broadcast centroid (cid, cv) that
    * agrees on `on` (all of them when `on` is empty), and a
    * partial-aggregated min(struct(dist, cid, carry…)) per `keys` folds
    * the fan-out back to one row inside the map task, as in
    * [[assignToCentroids]]. A NULL distance — vector and centroid differ
    * in length, or the vector or one of its elements is NULL — would
    * sort first and win, so it fails the plan naming the id; `coalesce`
    * keeps the check off every valid row. Returns (keys, cid, carry). */
  private def nearest(df: DataFrame, keys: Seq[String], vec: String,
                      cents: DataFrame, on: Seq[String],
                      carry: Seq[String] = Nil): DataFrame =
    df.join(broadcast(cents), on)
      .withColumn("__d", coalesce(sqDist(col(vec), col("cv")),
        raise_error(concat(lit("malformed vector id "),
          col("id").cast("string"), lit(": its length differs from the " +
            "centroid's, or it or one of its elements is NULL")))))
      .groupBy(keys.map(col): _*)
      .agg(min(struct((Seq("__d", "cid") ++ carry).map(col): _*)).as("__m"))
      .select(keys.map(col) ++ ("cid" +: carry).map(c =>
        col(s"__m.$c").as(c)): _*)

  /** The integer-exact Lloyd loop behind every trainer here: k-means
    * runs it on whole vectors under one constant `sub`, PQ on all m
    * subspace slices at once. `slices` holds (sub, id, sv: array<long>),
    * one row per id and each of the `m` subs.
    *  - seeds are the k ids with smallest md5(id) (stable under
    *    resharding, no RNG), the same ids in every subspace;
    *  - assignment is [[nearest]];
    *  - the update is an element-wise floor(sum/count) — floor-division
    *    on both engines;
    *  - an empty cluster carries its previous centroid forward.
    * Every stage is keyed by `sub`, so subspaces never mix and one
    * assignment join plus one update aggregation serve all m per
    * iteration. Component sums stay exact in a double up to 2^53
    * (≈ 9·10^9 rows at |x| ≤ 1); beyond that, swap the floor(sum/count)
    * to decimal division. Returns (sub, cid, cv: array<long>). */
  private def lloyd(slices: DataFrame, m: Int, k: Int, iters: Int,
                    kName: String): DataFrame = {
    require(k >= 1, s"$kName=$k out of [1,∞)")
    // the first k ids' m slices each, straight off one bounded sort;
    // every sub then holds exactly those k ids, so a seed's position in
    // its sub's (__h, id)-sorted list is its cid. No window: k-means'
    // constant sub would be optimized out of a window's partitioning,
    // which then runs (and warns) as one unpartitioned window
    var cents = slices.withColumn("__h", md5(col("id").cast("string")))
      .orderBy(col("__h").asc, col("id").asc, col("sub").asc).limit(k * m)
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("__h"), col("id"),
        col("sv")))).as("__s"))
      .select(col("sub"), posexplode(col("__s")).as(Seq("cid", "__e")))
      .select(col("sub"), col("cid").cast(LongType).as("cid"),
        col("__e.sv").as("cv"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val upd = nearest(slices, Seq("sub", "id"), "sv", cents, Seq("sub"),
          Seq("sv"))
        .select(col("sub"), col("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n")).cast(LongType)
            .as("cx")))).as("ps"))
        .select(col("sub"), col("cid"),
          transform(col("ps"), p => p.getField("cx")).as("cvNew"))
      // Eager local checkpoint: truncates lineage across iterations and
      // runs each round as its own job. A lazy one loses the round's
      // SQL metrics: its accumulators can be collected before the tasks
      // report ("non-existent accumulator"). Tradeoff: local checkpoint
      // blocks are not recomputable if an executor is lost mid-job —
      // acceptable for a bounded training loop; a long multi-hour
      // cluster run should swap this for reliable .checkpoint() against
      // a DFS checkpoint dir.
      cents = cents.join(upd, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("cvNew"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  /** [[lloyd]] over whole quantized vectors (id, v): (cid, cv). */
  private def centroids(vq: DataFrame, k: Int, iters: Int,
                        kName: String): DataFrame =
    lloyd(vq.select(lit(0L).as("sub"), col("id"), col("v").as("sv")), 1, k,
      iters, kName).select(col("cid"), col("cv"))

  /** Distributed k-means (Lloyd) over integer-quantized vectors — the
    * trainer that produces an IVF centroid table ([[IvfLifecycle]]).
    *
    * Every step is EXACT integer math, which makes the whole training
    * run deterministic and engine-portable (the DuckDB oracle replays
    * it bit-for-bit) — normally k-means can't be oracled because float
    * mean aggregation is order-dependent. Vectors quantize to
    * floor(x·10^6) longs and run the one [[lloyd]] loop (md5 seeds,
    * (dist, cid) argmin, floor-div means, empty clusters carried
    * forward). A vector whose length differs from the seeds', or that
    * holds a NULL, fails the plan.
    *
    * Scale shape per iteration: centroids broadcast (k·dim longs);
    * assignment is a map-side argmin folded into a partial-aggregated
    * groupBy(id) min(struct) — no window, no n×k shuffle; the update
    * shuffles (cid, pos) partial sums only.
    *
    * @return exploded centroid table (cid, pos, cx), pos 1-based.
    */
  def kmeansQuantized(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      scale: Long = 1000000L): DataFrame =
    centroids(quantized(df, idCol, vecCol, scale), k, iters, "k")
      .select(col("cid"), posexplode(col("cv")).as(Seq("pos0", "cx")))
      .select(col("cid"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("cx"))

  /** [[kmeansQuantized]]'s centroids dequantized to double arrays —
    * drop-in centroid table for [[IvfLifecycle]] (cid, cv). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      scale: Long = 1000000L): DataFrame =
    centroids(quantized(df, idCol, vecCol, scale), k, iters, "k")
      .select(col("cid"),
        transform(col("cv"), x => x / lit(scale.toDouble)).as("cv"))

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the memory side of the canonical
  // IVF-PQ answer at corpus scale: a d-dim float vector becomes m
  // small codes (m bytes at k ≤ 256), so a 100 TB embedding store
  // compresses ~4·d/m× and asymmetric-distance search reads codes,
  // never vectors. Training is the SAME [[lloyd]] loop as
  // [[kmeansQuantized]], keyed by contiguous subspace, encoding is its
  // [[nearest]] argmin and every search ends in [[adcTopK]], so the
  // DuckDB oracle replays training, encoding and search bit-for-bit
  // (OracleSql.pqCtes).
  // ------------------------------------------------------------------

  /** Train per-subspace codebooks: subspace j covers vector positions
    * [j·dim/m, (j+1)·dim/m). Returns (sub, cid, cv: array<long>) with
    * quantized centroid components (×scale, floored). The m trainings
    * run inside one keyed [[lloyd]] loop — one assignment join and one
    * update aggregation per iteration for all m — over dim/m-wide
    * slices, so at corpus scale the slice projection prunes the
    * shuffle width by the same m factor the codes win at rest. */
  def pqTrainQuantized(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, iters: Int,
                       scale: Long = 1000000L): DataFrame =
    lloyd(sliced(quantized(df, idCol, vecCol, scale), m, subDim(dim, m)),
        m, k, iters, "k")
      .select(col("sub").cast("int").as("sub"), col("cid"), col("cv"))

  /** (keep…, sub, cid): every row's per-subspace code against `book`
    * (sub, cid, cv) — the [[nearest]] argmin, with `keep` beyond `id`
    * carried through. */
  private def encode(vq: DataFrame, book: DataFrame, m: Int, sub: Int,
                     keep: Seq[String] = Seq("id")): DataFrame =
    nearest(sliced(vq, m, sub, keep = keep), Seq("id", "sub"), "sv", book,
      Seq("sub"), keep.filterNot(_ == "id"))

  /** Encode every vector as its per-subspace nearest-centroid ids:
    * (id, codes: array<long>) with codes(j) = argmin over the subspace-j
    * codebook by (squared distance, cid). One broadcast of the m·k
    * codebook rows; the data-sized side is a single explode+agg. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, dim: Int, m: Int,
               scale: Long = 1000000L): DataFrame =
    encode(quantized(df, idCol, vecCol, scale), codebook, m,
        subDim(dim, m))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("sub"),
        col("cid").as("code")))).as("ps"))
      .select(col("id"),
        transform(col("ps"), p => p.getField("code")).as("codes"))

  /** Asymmetric-distance (ADC) top-k — the one scorer of [[pqSearchADC]]
    * and both IVF-PQ searches. `query` holds (list, sub, sv): the query
    * slices each inverted list sees. Against `book` they form the
    * distance table (list, sub, cid, d) — nlists·m·k entries,
    * broadcast — and each coded row of `codes` (id, list, sub, cid)
    * sums the m lookups of ITS OWN list's table. No full vector is read
    * at search time; ties break by id. Returns (id, adist). */
  private def adcTopK(codes: DataFrame, book: DataFrame, query: DataFrame,
                      topK: Int): DataFrame = {
    val table = book.join(broadcast(query), Seq("sub"))
      .select(col("list"), col("sub"), col("cid"),
        sqDist(col("sv"), col("cv")).as("d"))
    codes.join(broadcast(table), Seq("list", "sub", "cid"))
      .groupBy(col("id"))
      .agg(sum(col("d")).as("adist"))
      .orderBy(col("adist").asc, col("id").asc)
      .limit(topK)
  }

  /** ADC top-k over the whole corpus: the query row (by id) is sliced
    * once against the codebook into an m·k distance table and every
    * encoded vector's approximate distance is the sum of m table
    * lookups — [[adcTopK]] with one list. Ties break by id. */
  def pqSearchADC(df: DataFrame, idCol: String, vecCol: String,
                  codebook: DataFrame, queryId: Long, dim: Int, m: Int,
                  topK: Int, scale: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"topK=$topK out of [1,∞)")
    val sub = subDim(dim, m)
    val vq = quantized(df, idCol, vecCol, scale).withColumn("list", lit(0L))
    adcTopK(encode(vq, codebook, m, sub, Seq("id", "list")), codebook,
      sliced(vq.filter(col("id") === queryId), m, sub, keep = Seq("list")),
      topK)
  }

  /** IVF-PQ: the two corpus-scale halves composed. A coarse integer
    * k-means partitions the corpus into inverted lists (assignment =
    * broadcast argmin, shuffle |vectors| — the IVF assignment's
    * shape); the query probes its `nprobe` nearest coarse centroids;
    * only vectors in the probed lists are ADC-scored against the PQ
    * codebook. Codes are trained on the raw quantized vectors, so this
    * is [[ivfPqSearchResidual]] with every coarse centroid taken as
    * zero: the same pipeline, each probed list's table built from the
    * unchanged query (the q90 oracle replays it). At deployment the
    * assignment and codes are precomputed once (cf. IvfLifecycle.build);
    * the per-query cost is nprobe list scans of m-int codes. */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
                  coarseK: Int, coarseIters: Int, m: Int, pqK: Int,
                  pqIters: Int, nprobe: Int, queryId: Long, dim: Int,
                  topK: Int, scale: Long = 1000000L): DataFrame =
    ivfPq(df, idCol, vecCol, coarseK, coarseIters, m, pqK, pqIters, nprobe,
      queryId, dim, topK, scale, residual = false)

  /** IVF-PQ with RESIDUAL encoding — the opt-in alternative to
    * [[ivfPqSearch]]'s raw-vector codes, and the standard form at
    * 100 TB recall targets: PQ codes quantize `v − c(v)` (the vector
    * minus its coarse centroid) instead of `v`, so the codebook spends
    * its resolution on the WITHIN-list geometry rather than re-encoding
    * the coarse structure the IVF already captured. One SHARED residual
    * codebook across lists (the per-list-codebook variant multiplies
    * codebook memory by coarseK for marginal gain).
    *
    * Everything stays integer-exact and oracle-replayable (q110): the
    * residual of two quantized vectors is an exact long array, and the
    * PQ half trains and encodes on it directly (no second quantization
    * error). The query's residual is relative to each probe's centroid,
    * so the ADC table is PER PROBED LIST — nprobe·m·pqK entries, still
    * tiny — and each candidate scores against its own list's table. */
  def ivfPqSearchResidual(df: DataFrame, idCol: String, vecCol: String,
                          coarseK: Int, coarseIters: Int, m: Int,
                          pqK: Int, pqIters: Int, nprobe: Int,
                          queryId: Long, dim: Int, topK: Int,
                          scale: Long = 1000000L): DataFrame =
    ivfPq(df, idCol, vecCol, coarseK, coarseIters, m, pqK, pqIters, nprobe,
      queryId, dim, topK, scale, residual = true)

  /** The one IVF-PQ pipeline: coarse [[centroids]] → list assignment by
    * [[nearest]] → PQ [[lloyd]] over the list rows → the query's
    * top-`nprobe` lists by (integer squared-L2, cid) → [[encode]] the
    * probed lists → [[adcTopK]]. `residual` subtracts each row's (and
    * each probe's) coarse centroid from the vectors PQ sees; without it
    * they are the quantized vectors themselves. */
  private def ivfPq(df: DataFrame, idCol: String, vecCol: String,
                    coarseK: Int, coarseIters: Int, m: Int, pqK: Int,
                    pqIters: Int, nprobe: Int, queryId: Long, dim: Int,
                    topK: Int, scale: Long, residual: Boolean): DataFrame = {
    require(nprobe >= 1, s"nprobe=$nprobe out of [1,∞)")
    require(topK >= 1, s"topK=$topK out of [1,∞)")
    val sub = subDim(dim, m)
    val vq = quantized(df, idCol, vecCol, scale)
    val coarse = centroids(vq, coarseK, coarseIters, "coarseK")
    def minusCentroid(v: String) =
      if (residual) zip_with(col(v), col("cv"), (x, c) => x - c) else col(v)
    // (id, list, v): eager checkpoint — the list rows feed BOTH the
    // codebook training and the probed-list candidate prune; without
    // it the assignment join + argmin re-runs for each consumer. At
    // deployment this is the materialized assignment table
    // (IvfLifecycle.build's artifact).
    val lists = nearest(vq, Seq("id"), "v", coarse, Nil, Seq("v", "cv"))
      .select(col("id"), col("cid").as("list"), minusCentroid("v").as("v"))
      .localCheckpoint()
    val book = lloyd(sliced(lists, m, sub), m, pqK, pqIters, "pqK")
    val probes = broadcast(coarse
      .join(broadcast(vq.filter(col("id") === queryId)
        .select(col("v").as("qv"))))
      .orderBy(sqDist(col("qv"), col("cv")).asc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid").as("list"), minusCentroid("qv").as("v")))
    adcTopK(encode(lists.join(probes.select(col("list")), Seq("list"),
        "left_semi"), book, m, sub, Seq("id", "list")),
      book, sliced(probes, m, sub, keep = Seq("list")), topK)
  }

  /** Int8 scalar quantization of unit-normalized embeddings — the
    * storage form an index holds at corpus scale (4× smaller than f32,
    * dot products stay within ~1% for cosine ranking). Emitted as
    * (id, pos, q) rows: q = floor(x·127/‖v‖ + 0.5), exact integer
    * output both engines can reproduce (mirrored IEEE op order; zero
    * vectors yield NULL via the norm guard). `carryCols` ride along
    * unchanged (e.g. an IVF list id — avoids a post-hoc join back
    * onto the exploded rows); `normCol` points at a PRECOMPUTED
    * ‖v‖ column (same norm2 arithmetic) so a pipeline that already
    * paid the Σx² (e.g. centroid assignment) doesn't pay it twice. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   carryCols: Seq[String] = Nil,
                   normCol: Option[String] = None): DataFrame =
    df.select((col(idCol) +: carryCols.map(col)) ++ Seq(
        normCol.map(col).getOrElse(norm2(col(vecCol))).as("__qin"),
        posexplode(col(vecCol)).as(Seq("pos", "__x"))): _*)
      .select((col(idCol) +: carryCols.map(col)) ++ Seq(
        (col("pos") + 1).as("pos"),
        when(col("__qin") =!= 0.0,
          floor(col("__x").cast("double") * 127 / col("__qin") + 0.5)
            .cast("long")).as("q")): _*)

  /** Top-k per query by the pure INTEGER dot Σ q_i·p_i over
    * [[quantizeInt8]] rows — the read side of the 4×-smaller storage
    * form: exact, engine-replayable, no float in the plan (for
    * unit-normalized vectors the integer dot is a monotone ~cosine
    * surrogate within quantization error). `queries` is quantizeInt8
    * output keyed by `qIdCol`; one query is a panel of one. Returns
    * (q_id, idCol, dot); zero-norm rows (NULL q) never rank.
    *
    * A `q_id` column on `qdf` makes each corpus row a candidate for
    * that query only — the pruned lists an IVF search hands in — and the
    * join then keys on (q_id, pos); without one every row is a candidate
    * for every query. A duplicated (q_id, pos) in the panel — two
    * vectors under one q_id — would silently mix into one garbage
    * ranking, so it fails the plan via assert_true.
    *
    * Scale shape: the panel broadcasts (dim+ε bytes per query); the
    * corpus-side join fans out INSIDE the map task and the partial
    * aggregate collapses it to one (q_id, id) row per pair before the
    * shuffle; the per-query window cut is a bounded top-k. Unpruned,
    * the exchange carries |panel|·|corpus| partial dots: bound the
    * panel, or prune through [[IvfLifecycle.searchBatch]]. */
  def int8TopKBatch(qdf: DataFrame, idCol: String, posCol: String,
                    qCol: String, queries: DataFrame, qIdCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k=$k out of [1,∞)")
    val q = broadcast(queries.where(col(qCol).isNotNull)
      .groupBy(col(qIdCol).as("__pq"), col(posCol).as("__qp"))
      .agg(max(col(qCol)).as("__q0"), count(lit(1)).as("__c"))
      .select(col("__pq"), col("__qp"),
        (col("__q0") + coalesce(
          assert_true(col("__c") === 1,
            lit("int8TopKBatch: panel holds more than one vector per " +
              "q_id (duplicate (q_id, pos)) — ids must be unique"))
            .cast("long"), lit(0L))).as("__qq")))
    val pruned = qdf.columns.contains("q_id")
    val onPos = col(posCol) === col("__qp")
    topPerQuery(qdf.where(col(qCol).isNotNull)
        .join(q, if (pruned) onPos && col("q_id") === col("__pq") else onPos)
        .groupBy(if (pruned) col("q_id") else col("__pq").as("q_id"),
          col(idCol))
        .agg(sum(col(qCol) * col("__qq")).as("dot")),
      "dot", idCol, k)
  }

  /** Storage form of an IVF index's lists. F32 lists hold
    * (id, vec, norm) rows and rank by cosine (`sim: Double`); Int8 lists
    * hold quantized (id, pos, q) rows (4× smaller) and rank by the
    * integer dot (`dot: Long`). Everything else — assignment rule,
    * directory layout, append contract, compaction, probing — is
    * shared. */
  sealed trait IvfForm
  case object IvfF32 extends IvfForm
  case object IvfInt8 extends IvfForm

  /** Where a search reads its inverted lists. Both sources hold the
    * lists in one row schema — f32 (id, vec, norm, cid), int8
    * (id, pos, q, cid) — and centroids as (cid, cv), so they differ
    * only in the prune step of [[IvfLifecycle.searchBatch]]. */
  sealed trait IvfSource

  /** Lists computed inside the plan by [[IvfLifecycle.assign]], nothing
    * written; `coarse` is the (gid, gv) level [[IvfLifecycle.addCoarse]]
    * attaches. */
  final case class InFlight(lists: DataFrame, centroids: DataFrame,
                            coarse: Option[DataFrame] = None)
      extends IvfSource

  /** An index directory written by [[IvfLifecycle.build]]: `centroids`
    * (cid, cv) and `lists` partitioned by cid, plus `coarse` (gid, gv)
    * and `cellof` (cid, gid) after [[IvfLifecycle.addCoarse]]. */
  final case class OnDisk(dir: String) extends IvfSource

  /** Over-fetch + exact-re-rank search option — the MEASURED
    * compensation for int8 thin-margin rank inversions (SCALE.md
    * recall table: int8 alone loses rank-order where real clusters
    * have thin cosine margins, 0.96 vs 1.00 at exhaustive probing;
    * over-fetching 3k+1 by the integer dot and exactly re-ranking
    * that short list against the f32 vectors recovers the f32 curve
    * at every nprobe).
    *
    * `overfetch` = how many candidates the coarse ranking keeps per
    * query before the exact re-rank (the measured sweet spot is
    * 3k+1). `vectors` = the exact f32 source (frame, idCol, vecCol);
    * None defaults to the index's OWN stored vectors — valid for the
    * f32 form, an error for int8 (its lists are quantized, so the
    * caller must hand the f32 corpus in). */
  final case class Refine(
      overfetch: Int,
      vectors: Option[(DataFrame, String, String)] = None)

  /** Exact-cosine re-rank of per-query candidate lists — [[Refine]]'s
    * engine, usable standalone over ANY candidate frame: keep the top-k
    * of each query's candidates by exact f32 cosine against `vectors`.
    * `cands` must carry (`candQIdCol`, `candIdCol`); extra columns (the
    * integer dot) are dropped — the re-rank REPLACES the coarse score.
    * Returns (q_id, candIdCol, sim).
    *
    * Scale shape: the candidate list broadcasts (bounded by
    * |panel|·overfetch), so the `vectors` scan prunes map-side in ONE
    * pass with no corpus shuffle; the per-query window ranks
    * ≤ overfetch rows per query. */
  def refineTopK(cands: DataFrame, candIdCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 vectors: DataFrame, vecIdCol: String, vecCol: String,
                 k: Int, candQIdCol: String = "q_id"): DataFrame = {
    require(k >= 1, s"k=$k out of [1,∞)")
    val c = cands.select(col(candQIdCol).as("q_id"),
      col(candIdCol).as("__rcid"))
    val v = vectors.select(col(vecIdCol).as("__rvid"),
      col(vecCol).as("__rvv"), norm2(col(vecCol)).as("__rvn"))
    val q = queries.select(col(qIdCol).as("__rqid"),
      col(qVecCol).as("__rqv"), norm2(col(qVecCol)).as("__rqn"))
    topPerQuery(v.join(broadcast(c), col("__rvid") === col("__rcid"))
        .join(broadcast(q), col("q_id") === col("__rqid"))
        .select(col("q_id"), col("__rvid").as(candIdCol),
          cosinePre(col("__rvv"), col("__rqv"), col("__rvn"),
            col("__rqn")).as("sim")),
      "sim", candIdCol, k)
  }

  /** The IVF (inverted-file) index over both storage forms and both list
    * sources. Every vector is assigned to its nearest centroid by cosine
    * (ties to the smaller cid); a search is one pipeline —
    *  - probe: each query's top-`nprobe` centroids by cosine, flat or
    *    through a coarse cell table ([[addCoarse]]);
    *  - prune: keep only the probed lists. In-flight lists inner-join
    *    the broadcast (q_id, cid) probe pairs — fully lazy, nothing
    *    collected. On-disk lists filter `cid` with the collected probe
    *    union as a LITERAL, so parquet skips every unprobed partition
    *    (the union is bounded by |centroids| for any panel size);
    *  - rank: f32 by exact cosine against the stored norm, int8 by the
    *    integer dot of [[int8TopKBatch]]; top-k per query, ties to the
    *    smaller id.
    * A (q_id, id) score is identical whichever source holds the lists
    * and whether the query runs alone or in a panel (spec'd; the
    * in-flight/on-disk query pairs share DuckDB oracles).
    *
    * PANEL-SIZE BOUND: the query panel and the (q_id, cid) probe pairs
    * are broadcast, so a panel is at most a few million queries (~70
    * bytes per int8 query at dim 64) — never a second corpus; join
    * corpus against corpus with [[nearDupPairs]] / [[semanticDedup]]. */
  object IvfLifecycle {
    import org.apache.spark.sql.SparkSession

    /** In-flight lists: `df` assigned to `centroids` (and quantized, for
      * int8) inside the plan. Lazy; nothing is written. */
    def assign(form: IvfForm, df: DataFrame, idCol: String,
               vecCol: String, centroids: DataFrame, centIdCol: String,
               centVecCol: String): InFlight = {
      val cents = centroids.select(col(centIdCol).as("cid"),
        col(centVecCol).as("cv"))
      InFlight(listRows(form, df, idCol, vecCol, cents), cents)
    }

    /** Persist an index under `dir`: the centroids, then the assignment
      * output written PARTITIONED BY cid, so the inverted lists are
      * physical parquet partitions and a search reads only its probes'
      * partitions. Training and the corpus-wide assignment run once;
      * the lists are placed by the written centroids, as [[append]]
      * places later rows. */
    def build(form: IvfForm, df: DataFrame, idCol: String,
              vecCol: String, centroids: DataFrame, centIdCol: String,
              centVecCol: String, dir: String): Unit = {
      centroids.select(col(centIdCol).as("cid"), col(centVecCol).as("cv"))
        .write.mode("overwrite").parquet(s"$dir/centroids")
      ingest(form, dir, df, idCol, vecCol)
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
    }

    /** Extend a persisted index with newly-ingested vectors, placed by
      * the index's OWN stored centroids and appended under the same
      * `cid=` partitions: a search after any number of appends equals
      * one over an index built from the union at once (q79; spec'd).
      * The quantizer is NOT retrained — cheap ingest, recall drifts if
      * the data distribution moves; rebuild when it does. Ids must be
      * new to the index. Each call adds one file per touched partition,
      * so [[compact]] under high-frequency small appends.
      *
      * This is a blind parquet append — NOT idempotent. A replayed
      * partial write duplicates rows: a duplicated f32 row duplicates a
      * result row, a duplicated int8 (id, pos) row double-counts that
      * id's dot and CORRUPTS its score. A streaming feed that can
      * replay a batch must go through [[ingestBatch]] /
      * [[streamIngest]] instead. */
    def append(form: IvfForm, dir: String, df: DataFrame, idCol: String,
               vecCol: String): Unit =
      ingest(form, dir, df, idCol, vecCol)
        .write.mode("append").partitionBy("cid").parquet(s"$dir/lists")

    /** Compact a persisted index's lists: each [[append]] leaves one
      * more parquet file per touched `cid=` partition, and search
      * latency follows file count (open + footer per file). Rewrites
      * every list clustered on cid — one file per partition — into a
      * sibling directory, then swaps it in via two renames
      * (`lists`→`lists_old`, `lists_compacting`→`lists`, then delete
      * `lists_old`): at no point are there ZERO copies on disk, so a
      * crash mid-swap is recoverable by renaming whichever copy survives
      * back to `lists`. Row content is untouched: searches are
      * bit-identical before and after (spec'd). Form-free. Run it
      * OFFLINE — an [[append]] landing between the compaction's read and
      * the swap is lost with the old directory; searches racing the swap
      * can transiently fail and should retry. */
    def compact(spark: SparkSession, dir: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val lists = new org.apache.hadoop.fs.Path(s"$dir/lists")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/lists_compacting")
      val old = new org.apache.hadoop.fs.Path(s"$dir/lists_old")
      val fs = lists.getFileSystem(conf)
      if (fs.exists(old)) fs.delete(old, true) // prior-crash leftover
      spark.read.parquet(lists.toString)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(tmp.toString)
      if (!fs.rename(lists, old))
        sys.error(s"compaction swap failed moving $lists aside")
      if (!fs.rename(tmp, lists))
        sys.error(s"compaction swap failed installing $tmp; previous " +
          s"lists preserved at $old — rename it back to recover")
      fs.delete(old, true)
    }

    /** Attach a coarse level for two-level probing: a quantizer over the
      * CENTROID set. Each centroid is assigned once to its nearest
      * coarse cell (query-independent), so a query scores only the
      * ~√|centroids| cells and then only the centroids inside its top
      * `nprobeCoarse` cells: probe cost |coarse| + nprobeCoarse·
      * |centroids|/|coarse| instead of |centroids| (at 2²⁰ lists with
      * 2¹⁰ cells, ~3·10³ vs 10⁶ per query). APPROXIMATE by design — a
      * true top centroid in an unprobed cell is missed; exhaustive
      * `nprobeCoarse` equals flat probing (spec'd).
      *
      * The coarse set is small, so it is collected once into a local
      * frame: an empty set fails here instead of every later search
      * silently returning nothing, and in-flight searches pin no
      * checkpoint. On disk the level is written as `dir/coarse` plus the
      * cell assignment `dir/cellof` (idempotent overwrite; appends reuse
      * the stored centroids, so it stays valid). Returns `src` with the
      * level attached. */
    def addCoarse(src: IvfSource, coarse: DataFrame, gIdCol: String,
                  gVecCol: String): IvfSource = {
      val co = coarse.select(col(gIdCol).as("gid"), col(gVecCol).as("gv"))
      val rows = co.collect()
      require(rows.nonEmpty, "addCoarse: empty coarse set")
      val spark = coarse.sparkSession
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        co.schema)
      src match {
        case s: InFlight => s.copy(coarse = Some(local))
        case OnDisk(dir) =>
          local.write.mode("overwrite").parquet(s"$dir/coarse")
          cellOf(local, spark.read.parquet(s"$dir/centroids"))
            .write.mode("overwrite").parquet(s"$dir/cellof")
          src
      }
    }

    /** Single-query search: a panel of one. `query` must hold exactly
      * one row — it is collected, and several rows would otherwise mix
      * centroids probed for different vectors. Returns (id, score)
      * ordered by score desc, then id asc; the score is `sim` (f32, or
      * any form with `refine`) or `dot` (int8). */
    def search(form: IvfForm, src: IvfSource, query: DataFrame,
               queryVecCol: String, nprobe: Int, k: Int,
               refine: Option[Refine] = None): DataFrame = {
      val qv = query.select(col(queryVecCol).as("__qv"))
      val rows = qv.limit(2).collect()
      require(rows.length == 1, "search expects exactly one query row, " +
        s"got ${if (rows.isEmpty) "none" else "several"}")
      // rebuilt under the original schema, so the vector's element type
      // survives (a typedlit[Seq[Float]] would corrupt double embeddings)
      val one = query.sparkSession.createDataFrame(
          java.util.Collections.singletonList(rows.head), qv.schema)
        .withColumn("q_id", lit(0L))
      val res = searchBatch(form, src, one, "q_id", "__qv", nprobe, k,
        refine)
      val score = res.columns.last
      // the limit is a no-op on ≤ k rows, but plans a TakeOrdered
      // instead of a range-partitioned global sort
      res.select(col("id"), col(score))
        .orderBy(col(score).desc, col("id").asc).limit(k)
    }

    /** Panel search: top-k per query in one plan. Returns
      * (q_id, id, score) — `sim` for f32, `dot` for int8, and with
      * `refine` always `sim`, the exact f32 cosine of the re-ranked
      * over-fetched short list. `nprobeCoarse` = Some(n) probes two-level
      * through the source's [[addCoarse]] level; None probes flat. An
      * empty panel yields an empty result, not an error. */
    def searchBatch(form: IvfForm, src: IvfSource, queries: DataFrame,
                    qIdCol: String, qVecCol: String, nprobe: Int, k: Int,
                    refine: Option[Refine] = None,
                    nprobeCoarse: Option[Int] = None): DataFrame =
      refine match {
        case Some(r) =>
          require(r.overfetch >= k,
            s"overfetch=${r.overfetch} must be >= k=$k")
          val (vdf, vid, vvec) = exactVectors(form, src, r,
            queries.sparkSession)
          refineTopK(searchBatch(form, src, queries, qIdCol, qVecCol,
              nprobe, r.overfetch, None, nprobeCoarse),
            "id", queries, qIdCol, qVecCol, vdf, vid, vvec, k)
        case None =>
          require(nprobe >= 1, s"nprobe=$nprobe out of [1,∞)")
          require(k >= 1, s"k=$k out of [1,∞)")
          val spark = queries.sparkSession
          val q = queries.select(col(qIdCol).as("q_id"),
            col(qVecCol).as("__qv"))
          rank(form, prune(spark, src,
            probe(spark, src, q, nprobe, nprobeCoarse)), q, k)
      }

    /** (q_id, cid): each query's top-`nprobe` centroids by cosine, ties
      * to the smaller cid — over all centroids (flat), or over those
      * inside the query's top-`nc` coarse cells (two-level). */
    private def probe(spark: SparkSession, src: IvfSource, q: DataFrame,
                      nprobe: Int, nprobeCoarse: Option[Int]): DataFrame = {
      def top(pairs: DataFrame, n: Int) = topPerQuery(
        pairs.withColumn("__cs",
          cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn"))),
        "__cs", "__cid", n)
      val qn = q.withColumn("__qn", norm2(col("__qv")))
      val cent = prepCent(src match {
        case s: InFlight => s.centroids
        case OnDisk(dir) => spark.read.parquet(s"$dir/centroids")
      }, "cid", "cv")
      val pairs = nprobeCoarse match {
        case None => qn.join(cent)
        case Some(nc) =>
          require(nc >= 1, s"nprobeCoarse=$nc out of [1,∞)")
          val (co, cells) = src match {
            case InFlight(_, cents, Some(co)) => (co, cellOf(co, cents))
            case OnDisk(dir) => (spark.read.parquet(s"$dir/coarse"),
              spark.read.parquet(s"$dir/cellof"))
            case _ => throw new IllegalArgumentException(
              "two-level search needs a coarse level: call addCoarse")
          }
          top(qn.join(prepCent(co, "gid", "gv")), nc)
            .select(col("q_id"), col("__qv"), col("__qn"),
              col("__cid").as("gid"))
            .join(cells, "gid")
            .join(cent, col("cid") === col("__cid"))
      }
      top(pairs, nprobe).select(col("q_id"), col("__cid").as("cid"))
    }

    /** The probed lists, each row tagged with the q_id that probed it. */
    private def prune(spark: SparkSession, src: IvfSource,
                      probes: DataFrame): DataFrame = src match {
      case s: InFlight => s.lists.join(broadcast(probes), "cid")
      case OnDisk(dir) =>
        // materialize ONCE (bounded: |panel| × nprobe rows): the probes
        // feed both the cid collect and the join, and re-executing them
        // over a nondeterministic panel (sample/limit) could probe a cid
        // missing from the literal filter, silently dropping its list
        val p = probes.localCheckpoint()
        val cids = p.select(col("cid")).distinct().collect().map(_.get(0))
        spark.read.parquet(s"$dir/lists")
          .filter(col("cid").isin(cids.toSeq: _*))
          .join(broadcast(p), "cid")
    }

    private def rank(form: IvfForm, pruned: DataFrame, q: DataFrame,
                     k: Int): DataFrame = form match {
      case IvfF32 =>
        topPerQuery(pruned
            .join(broadcast(q.withColumn("__qn", norm2(col("__qv")))),
              "q_id")
            .select(col("q_id"), col("id"), cosinePre(col("vec"),
              col("__qv"), col("norm"), col("__qn")).as("sim")),
          "sim", "id", k)
      case IvfInt8 =>
        int8TopKBatch(pruned, "id", "pos", "q",
          quantizeInt8(q, "q_id", "__qv"), "q_id", k)
    }

    /** (cid, gid): every centroid's nearest coarse cell. */
    private def cellOf(coarse: DataFrame, cents: DataFrame): DataFrame =
      assignToCentroids(cents, "cid", "cv", prepCent(coarse, "gid", "gv"))
        .select(col("cid"), col("__cid").as("gid"))

    /** List rows in the index schema for `df` placed by `cents`
      * (cid, cv); the int8 form reuses the assignment's norm. */
    private def listRows(form: IvfForm, df: DataFrame, idCol: String,
                         vecCol: String, cents: DataFrame): DataFrame = {
      val asg = assignToCentroids(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "id", "vec", prepCent(cents, "cid", "cv"))
      form match {
        case IvfF32 => asg.select(col("id"), col("vec"),
          col("__n").as("norm"), col("__cid").as("cid"))
        case IvfInt8 => quantizeInt8(asg, "id", "vec",
            carryCols = Seq("__cid"), normCol = Some("__n"))
          .select(col("id"), col("pos"), col("q"), col("__cid").as("cid"))
      }
    }

    /** [[listRows]] placed by the index's own stored centroids — shared
      * by [[build]], [[append]] and [[ingestBatch]], so the ingest paths
      * cannot drift on placement or quantization. */
    private def ingest(form: IvfForm, dir: String, df: DataFrame,
                       idCol: String, vecCol: String): DataFrame =
      listRows(form, df, idCol, vecCol,
        df.sparkSession.read.parquet(s"$dir/centroids"))

    /** A [[Refine]]'s exact-vector source: the explicit frame if given;
      * the f32 lists' own vectors otherwise; an ERROR for int8 with no
      * explicit source (its lists hold nothing exact). */
    private def exactVectors(form: IvfForm, src: IvfSource, r: Refine,
                             spark: SparkSession)
        : (DataFrame, String, String) = (r.vectors, form, src) match {
      case (Some(v), _, _) => v
      case (None, IvfF32, s: InFlight) => (s.lists, "id", "vec")
      case (None, IvfF32, OnDisk(dir)) =>
        (spark.read.parquet(s"$dir/lists"), "id", "vec")
      case (None, IvfInt8, _) => throw new IllegalArgumentException(
        "Refine on an int8 index needs Refine.vectors: the index " +
          "stores quantized rows only, so the exact re-rank must " +
          "be handed the f32 corpus (frame, idCol, vecCol)")
    }
    /** EXACTLY-ONCE ingest of one micro-batch — the helper the
      * [[append]] contract demands instead of merely documenting (an
      * at-least-once foreachBatch replay through the blind append
      * duplicates (id, pos) rows, and the int8 per-id dot then silently
      * DOUBLE-COUNTS — corrupted scores, not just duplicate result
      * rows). A committed-batchId ledger lives
      * beside the index (`dir/_ingest/committed-<batchId>`, the
      * durable-marker shape of the reference's failed-export retry
      * dir, STEP-BY-STEP.md:446-459), and the append itself is a
      * stage-then-promote with DETERMINISTIC file names so every
      * crash window replays idempotently:
      *
      *  1. marker exists → the batch already committed: skip (and
      *     sweep any staging leftover). Replays cost one FS stat.
      *  2. stage the assigned+quantized rows to
      *     `_ingest/staged-<batchId>` with mode OVERWRITE — a replay
      *     of a half-written stage rewrites it whole;
      *  3. promote each staged `cid=` partition's files into
      *     `lists/cid=.../ingest-<batchId>-<k>.parquet` by rename,
      *     after DELETING any `ingest-<batchId>-*` leftovers there —
      *     a crash mid-promote replays to the exact same names, so a
      *     half-promoted batch can never double;
      *  4. create the marker, then drop the staging dir.
      *
      * A crash between promote and marker (the window a blind append
      * cannot survive) re-runs 2–3 on replay and lands byte-identical
      * file names — exactly-once, spec'd against the union-built
      * index with the blind-append control proving the corruption the
      * ledger prevents. Batch replays must re-deliver the same rows
      * (the Structured Streaming source contract). Returns true iff
      * the batch was applied (false = replay skipped). */
    def ingestBatch(form: IvfForm,
                    spark: org.apache.spark.sql.SparkSession,
                    dir: String, batch: DataFrame, batchId: Long,
                    idCol: String, vecCol: String): Boolean = {
      import org.apache.hadoop.fs.Path
      val conf = spark.sparkContext.hadoopConfiguration
      val ledger = new Path(s"$dir/_ingest")
      val fs = ledger.getFileSystem(conf)
      val marker = new Path(ledger, s"committed-$batchId")
      val staged = new Path(ledger, s"staged-$batchId")
      if (fs.exists(marker)) {
        if (fs.exists(staged)) fs.delete(staged, true) // crashed after
        return false                                   // marker: sweep
      }
      ingest(form, dir, batch, idCol, vecCol)
        .write.mode("overwrite").partitionBy("cid")
        .parquet(staged.toString)
      val lists = new Path(s"$dir/lists")
      fs.listStatus(staged)
        .filter(st => st.isDirectory && st.getPath.getName
          .startsWith("cid="))
        .foreach { st =>
          val dst = new Path(lists, st.getPath.getName)
          fs.mkdirs(dst)
          fs.listStatus(dst)
            .filter(_.getPath.getName.startsWith(s"ingest-$batchId-"))
            .foreach(p => fs.delete(p.getPath, false))
          fs.listStatus(st.getPath).map(_.getPath)
            .filter(p => p.getName.endsWith(".parquet") &&
              !p.getName.startsWith("_") && !p.getName.startsWith("."))
            .sortBy(_.getName)
            .zipWithIndex.foreach { case (p, k) =>
              val to = new Path(dst, s"ingest-$batchId-$k.parquet")
              if (!fs.rename(p, to))
                sys.error(s"ingest promote failed renaming $p to $to")
            }
        }
      fs.create(marker, true).close()
      fs.delete(staged, true)
      true
    }

    /** [[ingestBatch]] curried as a foreachBatch sink — the
      * streaming-ingest pathway in one line:
      * {{{
      * feed.writeStream.foreachBatch(
      *   IvfLifecycle.streamIngest(IvfInt8, spark, dir,
      *     "vec_id", "embedding")).start()
      * }}}
      * Exactly-once under at-least-once replays and every crash
      * window — see [[ingestBatch]]. */
    def streamIngest(form: IvfForm,
                     spark: org.apache.spark.sql.SparkSession,
                     dir: String, idCol: String, vecCol: String)
        : (DataFrame, Long) => Unit =
      (batch, batchId) => {
        ingestBatch(form, spark, dir, batch, batchId, idCol, vecCol)
        ()
      }
  }

  /** All-pairs near-duplicates by embedding cosine ≥ threshold, blocked
    * by LSH bucket so no cross product forms. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   nBits: Int, minSim: Double): DataFrame = {
    val sig = lshSignature(col(vecCol), dim, nBits)
    val b = df.select(col(idCol), col(vecCol), sig.as("__sig"),
      norm2(col(vecCol)).as("__n"))
    val l = b.select(col(idCol).as("a"), col(vecCol).as("va"),
      col("__sig"), col("__n").as("na"))
    val r = b.select(col(idCol).as("b"), col(vecCol).as("vb"),
      col("__sig").as("__sig2"), col("__n").as("nb"))
    l.join(r, col("__sig") === col("__sig2") && col("a") < col("b"))
      .select(col("a"), col("b"),
        cosinePre(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 — prune
    * semantic duplicates a lexical dedup can't see): cluster the
    * embeddings with the integer-exact k-means, compare pairs ONLY
    * within a cluster, and drop every item whose cosine similarity to
    * a smaller-id item of the same cluster reaches `minSim`. Returns
    * the KEPT rows (idCol, cid).
    *
    * Representative rule: keep-the-smallest-id. Deterministic and
    * engine-portable (the paper keeps the member farthest from its
    * centroid; any single-representative rule prunes the same
    * ε-neighborhoods — documented deviation). An item is dropped when
    * ANY smaller-id cluster-mate is within ε, whether or not that mate
    * is itself kept — one relational pass, no sequential greedy chain.
    *
    * Scale shape — the whole point of SemDeDup: the quadratic pair
    * comparison is confined to single clusters, so k is chosen to hold
    * avg cluster size n/k at a pairwise-affordable bound (the paper
    * runs k≈10⁵ on web corpora). Training is the bounded Lloyd loop
    * (broadcast centroids, no n×k shuffle); assignment shuffles
    * |vectors| once; the intra-cluster self-join shuffles on cid and
    * its output collapses into a semi-join-shaped distinct before the
    * anti-join. Nothing is ever all-pairs across clusters.
    *
    * Skew guard (`maxCompare`): k bounds the AVERAGE cluster size, not
    * the largest — one pathological cluster (a boilerplate blob the
    * embeddings collapse together) re-quadratizes its self-join
    * regardless of k. With `maxCompare = c` the LEFT side of the pair
    * join is restricted to each cluster's c smallest-id members —
    * picked RANK-FREE by a bounded-heap aggregate
    * ([[graft.functions.BoundedTopK.smallestK]]: O(c) state per
    * cluster, map-side combined, ≤c-row partials on the shuffle), so
    * even the pathological mega-cluster never sorts on one task — so
    * per-cluster pair work is ≤ c·size — linear, never quadratic.
    * Non-integral id columns (the heap is over longs) fall back to
    * the windowed-rank pick — any orderable id type still works,
    * paying the per-cluster single-task sort the heap avoids.
    * This is the sampled-representative fallback: results are
    * IDENTICAL to the exact pass whenever every cluster holds ≤ c
    * distinct ε-neighborhoods — in particular the pathological
    * one-blob cluster is exact at any c ≥ 1 (every member is within ε
    * of the smallest id, which is always a representative). The
    * default (Int.MaxValue) keeps the exact pass and skips the window
    * entirely.
    *
    * Zero-norm embeddings: cosine is undefined there, and [[cosinePre]]
    * yields NULL — a NULL similarity never reaches `minSim`, so a
    * zero vector is never dropped and never drops a cluster-mate; it
    * always survives, assigned to the smallest centroid id (the
    * assignment argmin coalesces NULL to +Inf and ties break to the
    * smaller cid). Pinned by spec (ExtensionOpsSpec). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, minSim: Double,
                    scale: Long = 1000000L,
                    maxCompare: Int = Int.MaxValue): DataFrame = {
    require(maxCompare >= 1, s"maxCompare=$maxCompare out of [1,∞)")
    val cents = kmeansCentroids(df, idCol, vecCol, k, iters, scale)
    // same assignment semantic as the IVF lists: nearest centroid by cosine,
    // ties to the smaller cid — one integer-exact trainer, one
    // assignment rule everywhere (and one oracle replay for both)
    val asg = assignToCentroids(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, prepCent(cents, "cid", "cv"))
    val lBase = asg.select(col(idCol).as("a"), col(vecCol).as("va"),
      col("__n").as("na"), col("__cid"))
    val l =
      if (maxCompare == Int.MaxValue) lBase
      else {
        import org.apache.spark.sql.types.{ByteType, IntegerType,
          LongType, ShortType}
        val idType = asg.schema(idCol).dataType
        if (Seq(ByteType, ShortType, IntegerType, LongType)
            .contains(idType)) {
          val reps = asg.groupBy(col("__cid"))
            .agg(graft.functions.BoundedTopK.smallestK(maxCompare)(
              col(idCol).cast(LongType)).as("__reps"))
            .select(col("__cid"), explode(col("__reps")).as("__rep"))
            .select(col("__cid"), col("__rep").cast(idType).as("a"))
          lBase.join(reps, Seq("__cid", "a"), "left_semi")
        } else {
          // non-integral ids (the bounded heap is over longs): keep
          // the windowed-rank pick — linearithmic, single-task per
          // cluster, but any orderable id type works
          lBase.withColumn("__rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("__cid")).orderBy(col("a").asc)))
            .where(col("__rk") <= maxCompare).drop("__rk")
        }
      }
    val r = asg.select(col(idCol).as("b"), col(vecCol).as("vb"),
      col("__n").as("nb"), col("__cid").as("__cid2"))
    val dropped = l
      .join(r, col("__cid") === col("__cid2") && col("a") < col("b"))
      .filter(cosinePre(col("va"), col("vb"), col("na"), col("nb"))
        >= minSim)
      .select(col("b").as(idCol)).distinct()
    asg.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("__cid").as("cid"))
  }
}
