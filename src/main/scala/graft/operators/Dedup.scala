package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Deduplication operators for large-scale text corpora (engine extension
  * beyond the reference surface, BASELINE.json north-star).
  *
  * All stages are built from codegen'd higher-order functions (split /
  * transform / explode / groupBy) — no UDFs — so each scales as ordinary
  * shuffles:
  *  - exact: hash group-by on content (or min-id winner per group);
  *  - MinHash+LSH: shingle → per-hash min → band → bucket join; candidate
  *    pairs only ever meet inside a bucket, never a cross product;
  *  - SimHash: per-token hash bits summed per doc → 64-bit signature;
  *  - n-gram Jaccard: exact pairwise similarity via shared-gram counts
  *    (use after LSH bucketing at scale; driver queries bound the corpus).
  *
  * Hashes are md5-based so any engine (the DuckDB oracle included)
  * reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content.
    *
    * The window partitions by (md5(content), content) — the hash leads
    * so shuffle-key comparison and in-partition sorting work on 32-char
    * digests; the raw content stays in the key only to break md5
    * collisions (two colliding documents land in the same partition but
    * remain distinct groups). */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol)), col(contentCol))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup, corpus-scale path: winner selection runs entirely on
    * a NARROW projection — (id, md5, xxhash64, length) — so document
    * bytes never enter the winner shuffle. [[exact]]'s window moves
    * every duplicate row's full content to its digest partition and
    * sorts there; here the groupBy gets map-side partial `min(id)`, so
    * each map partition ships at most ONE ~60-byte row per distinct
    * content, and the only data-sized movement left is the id-keyed
    * semi-join back (a no-shuffle zip when the corpus is stored
    * id-bucketed, one content shuffle otherwise — never more than the
    * window path, minus its sort).
    *
    * Collision stance: the winner key is (md5, xxhash64, length) — two
    * independent hash families plus an exact attribute, >190 bits. Two
    * DISTINCT contents agreeing on all three is beyond birthday reach
    * at any corpus size (p < 2⁻⁶⁴ even at 2⁶⁰ docs); [[exact]] remains
    * the collision-proof form and DedupSpec asserts set-equality of the
    * two paths on the driver corpus.
    *
    * PRECONDITION: `idCol` is unique. With a duplicated id the winner
    * semi-join keeps EVERY row carrying the winner id while [[exact]]'s
    * window keeps one row per distinct content — the asserted
    * path-equality holds only for unique ids (true of any sane corpus
    * id; a re-ingested shard should be exact-deduped on (id, content)
    * first). */
  def exactByDigest(df: DataFrame, idCol: String,
                    contentCol: String): DataFrame = {
    val winners = df
      .select(col(idCol).as("__keep_id"),
        md5(col(contentCol)).as("__d"),
        xxhash64(col(contentCol)).as("__x"),
        length(col(contentCol)).as("__l"))
      .groupBy(col("__d"), col("__x"), col("__l"))
      .agg(min(col("__keep_id")).as("__keep_id"))
      .select(col("__keep_id"))
    df.join(winners, col(idCol) === col("__keep_id"), "left_semi")
  }

  /** Exact-dup groups: one row per duplicated content with the winner id
    * and the number of copies. */
  def exactGroups(df: DataFrame, idCol: String,
                  contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
      .drop(contentCol)

  /** Paragraph-level exact dedup across the corpus (the Dolma/CCNet
    * hygiene pass): split each document on `delim`, keep only the FIRST
    * occurrence of every distinct non-blank paragraph corpus-wide
    * (ordered by id then position — deterministic under resharding),
    * and rebuild the cleaned text from the survivors.
    *
    * Scale shape: one explode, then a window keyed by md5(paragraph) —
    * the shuffle is paragraph-hash-partitioned, per-key width bounded by
    * that paragraph's duplicate count (the same shape as [[exact]]),
    * then one groupBy(id) to reassemble. No cross products, no
    * collects.
    *
    * @return (id, n_paras, n_dup_paras, clean_text) — one row per input
    *         row; a fully-duplicate document yields clean_text = "".
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     delim: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern
          .quote(delim))).as(Seq("__pos", "__para")))
      .filter(trim(col("__para")) =!= "")
    val w = Window.partitionBy(md5(col("__para")), col("__para"))
      .orderBy(col(idCol).asc, col("__pos").asc)
    val flagged = paras.withColumn("__rn", row_number().over(w))
    val agg = flagged.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_paras"),
      concat_ws(delim, transform(
        array_sort(collect_list(when(col("__rn") === 1,
          struct(col("__pos"), col("__para"))))),
        s => s.getField("__para"))).as("clean_text"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_dup_paras"), lit(0L)).as("n_dup_paras"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Word k-shingles of a text column: array of space-joined k-grams.
    * Guarded for short docs — Spark's sequence(1, 0) would count DOWN. */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, " ")
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i =>
        concat_ws(" ", slice(words, i, lit(k)))))
      .otherwise(typedlit(Seq.empty[String]))
  }

  /** 2-universal MinHash family over a Mersenne-prime field:
    * h_j(s) = (a_j·h(s) + b_j) mod (2^31−1), with h(s) = 32 md5 bits of
    * the shingle and (a_j, b_j) md5-derived per-j constants (same Scala
    * source feeds the DuckDB oracle literals, so the engines cannot
    * drift). ONE md5 per shingle replaces one md5 PER HASH FUNCTION —
    * hashing dominates MinHash cost at corpus scale — while keeping the
    * per-j minima independent (a naive h1 + j·h2 family was measured to
    * inflate candidate pairs ~6× via correlated minima: one
    * small-hashed shingle wins every j). a_j·h + b_j < 2^62: exact
    * BIGINT math in any engine, no overflow. */
  val MinhashPrime: Long = (1L << 31) - 1

  /** Deterministic per-j coefficients: a_j ∈ [1, p), b_j ∈ [0, p). */
  def minhashCoef(j: Int): (Long, Long) = {
    def h(salt: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt|$j".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d.take(8)).getLong.abs
    }
    (h("a") % (MinhashPrime - 1) + 1, h("b") % MinhashPrime)
  }

  /** h(s): the shingle's 32-bit md5 prefix reduced into the field. */
  private def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType) % MinhashPrime

  private def hashJ(h: Column, j: Int): Column = {
    val (a, b) = minhashCoef(j)
    (lit(a) * h + lit(b)) % MinhashPrime
  }

  /** MinHash signature array (convenience form — re-hashes the shingle
    * array per j; use [[lshBuckets]]'s explode-once shape, or
    * [[shingleHashes]] + [[minhashFromHashes]] across a projection
    * boundary, at scale). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map(j =>
      array_min(transform(shingleCol, s => hashJ(baseHash(s), j)))): _*)

  /** Base hashes of a shingle array — ONE md5 per shingle. Materialize
    * this as its own column (a real projection), then feed
    * [[minhashFromHashes]]: CollapseProject keeps a non-cheap
    * expression referenced more than once from being inlined, so the
    * md5 pass runs once instead of once per hash function (the
    * [[minhashSignature]] trap). */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => baseHash(s))

  /** Signature from pre-computed [[shingleHashes]] — per-element it is
    * hashJ∘baseHash exactly like [[minhashSignature]], so the two forms
    * are bit-identical (differentially spec'd via the streaming path). */
  def minhashFromHashes(hashesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map(j =>
      array_min(transform(hashesCol, h => hashJ(h, j)))): _*)

  /** LSH bands: split the signature into `bands` concatenated buckets →
    * (band_idx, bucket_hash) rows per doc.
    *
    * Shape: explode shingles once, md5 each shingle once, and let the
    * partial/final min-aggregation build the signature from the integer
    * family — the array-expression form would re-evaluate the shingle
    * array for every hash function (Catalyst inlines lambda-captured
    * subexpressions). */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val ex = df.select(col(idCol),
      explode(shingles(col(textCol), shingleK)).as("s"))
      .select(col(idCol), baseHash(col("s")).as("h"))
    val mins = ex.groupBy(col(idCol)).agg(
      min(hashJ(col("h"), 0)).as("h0"),
      (1 until numHashes).map(j =>
        min(hashJ(col("h"), j)).as(s"h$j")): _*)
    val bandCols = (0 until bands).map { b =>
      concat_ws("|",
        (b * rows until (b + 1) * rows)
          .map(j => col(s"h$j").cast("string")): _*)
    }
    mins.select(col(idCol), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Candidate near-dup pairs (a < b) sharing ≥1 LSH bucket. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 16,
                        bands: Int = 4): DataFrame = {
    val b = lshBuckets(df, idCol, textCol, shingleK, numHashes, bands)
    val l = b.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** 64-bit SimHash over whitespace tokens: bit b of the signature is the
    * sign of Σ_tokens (±1 by bit b of md5(token)). Computed as an exact
    * integer aggregation (explode → groupBy doc) with the token hash from
    * the first 15 md5 hex chars (60 bits). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    val tokens = df.select(col(idCol),
      explode(filter(split(col(textCol), " "), w => w =!= "")).as("tok"))
    val h = Sketches.hash60(col("tok"))
    val withBits = tokens.select(
      (col(idCol) +: (0 until bits).map(b =>
        (when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"b$b"))): _*)
    val sums = withBits.groupBy(col(idCol))
      .agg(sum(col("b0")).as("s0"),
        (1 until bits).map(b => sum(col(s"b$b")).as(s"s$b")): _*)
    val sigExpr = (0 until bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col(idCol), sigExpr.as("simhash"))
  }

  /** Streaming exact dedup for continuous ingest: emit each content's
    * first arrival, suppress re-arrivals inside the watermark horizon
    * (`dropDuplicatesWithinWatermark` semantics — the bounded-state
    * answer for a continuous corpus feed: re-crawls land inside the
    * horizon and are dropped; content older than the horizon re-admits
    * rather than holding state forever).
    *
    * State is keyed by (md5 digest, content length) — 40-ish bytes per
    * distinct document instead of the body, so a 1-day horizon over a
    * 100 TB/day feed is gigabytes of state store, not terabytes. The
    * digest+length pair mirrors [[exact]]'s collision guard at streaming
    * state cost (a same-md5 same-length forgery is the residual risk;
    * batch reconciliation with [[exact]] closes it). */
  def streamingExact(stream: DataFrame, tsCol: String, contentCol: String,
                     watermarkDelay: String): DataFrame =
    stream
      .withColumn("__digest", md5(col(contentCol)))
      .withColumn("__len", length(col(contentCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__digest", "__len")
      .drop("__digest", "__len")

  /** SimHash near-dup pairs: all (a < b) with Hamming distance ≤ maxDist
    * between their [[simhash]] signatures, found WITHOUT an all-pairs
    * comparison.
    *
    * Pigeonhole banding: the signature's `bits` are cut into maxDist+1
    * contiguous bands — two signatures within distance maxDist must agree
    * EXACTLY on at least one band (maxDist flipped bits cannot touch all
    * maxDist+1 bands), so an equi-join on (band, band-bits) has perfect
    * recall; the popcount(xor) filter then removes the false positives.
    * That makes the output identical to the brute-force all-pairs result
    * (the DuckDB oracle computes exactly that), while the join only ever
    * compares docs sharing a band value — near-linear on a real corpus.
    * Skew note: a zero-ish band (short docs) concentrates a bucket; at
    * 100 TB feed AQE skew-join or pre-salt the top buckets. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 16, maxDist: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol, bits), idCol, "simhash",
      bits, maxDist)

  /** Reads word `k` (0-based, little-endian) of a signature column. */
  private[graft] type WordOf = (Column, Int) => Column

  /** How the Hamming operators read a signature, chosen by the
    * column's Catalyst type alone: a `bigint` column is one word
    * holding 1 ≤ bits ≤ 64; an `array<bigint>` column holds bits/64
    * words (bit k of the signature = bit k%64 of element k/64+1). Any
    * other type, or a `bits` the type cannot hold, fails at plan time
    * naming the column and its type. */
  private[graft] def wordOf(sig: DataFrame, sigCol: String,
                            bits: Int): WordOf = {
    val dt = sig.schema(sigCol).dataType
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"signature column '$sigCol' of type ${dt.simpleString}: $why")
    dt match {
      case LongType =>
        if (bits < 1 || bits > 64) fail(s"bits=$bits out of [1,64]")
        (c, _) => c
      case ArrayType(LongType, _) =>
        if (bits < 64 || bits % 64 != 0)
          fail(s"bits=$bits is not a positive multiple of 64")
        (c, k) => element_at(c, k + 1)
      case _ => fail("expected bigint or array<bigint>")
    }
  }

  /** The pigeonhole band split [[hammingPairs]] joins on: maxDist+1
    * bands of ⌈bits/(maxDist+1)⌉ or ⌊…⌋ bits, each read as one long.
    * A band may span a word boundary. Exposed package-private so specs
    * pin cap decisions against the REAL banding arithmetic, not a
    * hand-copied replica. */
  private[graft] def bandColumns(sigCol: Column, word: WordOf, bits: Int,
                                 maxDist: Int): Seq[Column] = {
    val nBands = maxDist + 1
    val base = bits / nBands
    val rem = bits % nBands
    (0 until nBands).map { b =>
      val width = base + (if (b < rem) 1 else 0)
      val start = b * base + math.min(b, rem)
      val k = start / 64
      val off = start % 64
      val mask = if (width == 64) -1L else (1L << width) - 1
      // UNSIGNED shift is load-bearing: an arithmetic shift of a
      // negative lo word smears sign bits into exactly the positions
      // the hi word's bits are OR'd into — matches stay correct (the
      // smear is a function of band bits both sides share, and the
      // exact dist filter kills false candidates) but the band value
      // loses the hi word's entropy, re-creating the bucket
      // saturation wide signatures exist to avoid. Within one word
      // (start + width ≤ 64) the mask removes every bit where the two
      // shifts differ.
      val lo = shiftrightunsigned(word(sigCol, k), off)
      val v =
        if (start + width > (k + 1) * 64)
          lo.bitwiseOR(shiftleft(word(sigCol, k + 1), 64 - off))
        else lo
      v.bitwiseAND(lit(mask))
    }
  }

  /** Σ popcount(xor) across the words of two signatures. */
  private def hammingDist(a: Column, b: Column, word: WordOf,
                          words: Int): Column =
    (0 until words)
      .map(k => bit_count(word(a, k).bitwiseXOR(word(b, k))))
      .reduce(_ + _).cast(LongType)

  /** Signature-contracted ALL-PAIRS form shared by the UNCAPPED
    * [[hammingPairs]] path (r21). Hamming
    * distance is a function of the signatures alone, so the banded
    * join only ever needs DISTINCT signatures: group ids per
    * signature once, band-join the signature table, dedup + dist-
    * filter at the SIGNATURE level, and only then expand the
    * qualifying signature pairs back to id pairs (plus the dist-0
    * within-group pairs). Output is bit-identical to the row-level
    * banded join: a same-sig doc pair is a within-group pair (dist 0
    * ≤ maxDist always); a cross-sig doc pair qualifies iff its sig
    * pair does; the sig-level distinct plays the old pair-level
    * distinct's role (a sig pair matches once per shared band).
    * Measured motivation (q54 at sf0.1): 5000 docs share 1763
    * signatures, so the row-level join emitted 5.1M candidate pairs
    * into a 5.1M-row distinct — contracted, the join sees ≤ 1763
    * rows/side and the expansion emits exactly the output pairs.
    * NOT used for the capped path: maxBucket counts signature
    * INSTANCES (docs) per bucket, a semantic the contraction would
    * change.
    *
    * PRECONDITION (ADVICE r21): `idCol` is unique — one (id, sig) row
    * per document (true of every sane corpus; the same contract
    * [[exactByDigest]] documents). Duplicate (id, sig) ROWS are
    * tolerated defensively (ids are de-dup'ed per group and self-pairs
    * filtered below, at zero extra exchanges), but an id carrying TWO
    * DIFFERENT signatures is ill-defined input: the old row-level join
    * deduplicated (a, b, dist) triples after the fact, while the
    * contracted form can emit the same (a, b) under two distances —
    * re-key or dedup such a frame first. */
  private def contractedPairs(slim: DataFrame, idCol: String,
      sigCol: String, bandColsOf: Column => Seq[Column],
      distOf: (Column, Column) => Column, maxDist: Int): DataFrame = {
    val groups = slim.groupBy(col(sigCol).as("__sig"))
      .agg(array_distinct(sort_array(collect_list(col(idCol))))
        .as("__ids"))
    // within-group pairs: the sorted id list's (i < j) combinations
    val sameSig = groups
      .where(size(col("__ids")) >= 2)
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + lit(2), size(col("__ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        lit(0L).as("dist"))
    val banded = groups.select(col("__sig"),
      posexplode(array(bandColsOf(col("__sig")): _*))
        .as(Seq("band", "bv")))
    val l = banded.select(col("__sig").as("__s1"), col("band"),
      col("bv"))
    val r = banded.select(col("__sig").as("__s2"), col("band"),
      col("bv"))
    val sigPairs = l.join(r, Seq("band", "bv"))
      .where(col("__s1") < col("__s2"))
      .select(col("__s1"), col("__s2"),
        distOf(col("__s1"), col("__s2")).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
    val ga = groups.select(col("__sig").as("__s1"),
      col("__ids").as("__ia"))
    val gb = groups.select(col("__sig").as("__s2"),
      col("__ids").as("__ib"))
    val cross = sigPairs.join(ga, "__s1").join(gb, "__s2")
      .select(explode(col("__ia")).as("x"), col("__ib"), col("dist"))
      .select(col("x"), explode(col("__ib")).as("y"), col("dist"))
      // x =!= y guards the duplicate-ROW tolerance (scaladoc): an id
      // present in both groups would otherwise self-pair via
      // least/greatest. Free — a codegen filter on the expansion.
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("dist"))
    sameSig.unionByName(cross)
  }

  /** Pigeonhole-banded Hamming pairs over a signature column of any
    * width (see [[simhashPairs]] for the recall argument — this is
    * that join, factored so every signature family reuses it: text
    * SimHash, image aHash, audio/video fingerprints, the 256-bit wide
    * aHash). The column's type says how its words are read
    * ([[wordOf]]): `bigint` for ≤ 64 bits, `array<bigint>` for
    * 64·words bits; the distance is Σ popcount(xor) over the words.
    * Output: (a, b, dist), a < b, dist ≤ maxDist, identical to
    * brute-force all-pairs. NULL signatures (undecodable payloads)
    * never pair — each band value is non-NULL only for non-NULL
    * signatures, and the equi-join drops NULL keys. Each band must
    * fit one long (bits/(maxDist+1) ≤ 64).
    *
    * Why wide signatures exist, measured (SCALE.md r19): on structured
    * corpora 64-bit aHash band values repeat across genuinely
    * different images, so buckets saturate at O(10³) images; 256 bits
    * give maxDist-6 bands of ~37 bits instead of ~9.
    *
    * `maxBucket` is the corpus-scale skew guard: one degenerate band
    * value (the all-zero band every near-blank image or silent clip
    * shares) makes its bucket quadratic regardless of banding. With a
    * cap, buckets holding more than `maxBucket` signatures are
    * excluded from PAIRING THROUGH THAT BAND — a pair is lost only if
    * EVERY band it agrees on is hot, so recall degrades last exactly
    * where the output was least informative (blank-vs-blank matches).
    * Default None: exact semantics, oracle-matched.
    *
    * The capped plan consumes the signature lineage three times, so
    * the narrow (id, sig) projection is localCheckpoint'ed — an EAGER
    * materialization (runs a Spark job at plan-construction time,
    * pins executor storage for the session, unusable on streaming
    * inputs). Eager is deliberate: a lazy checkpoint lets the three
    * consumer stages race and recompute the decode lineage
    * concurrently (r22 measured the race on q121's sibling-stage
    * shape). */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxDist: Int,
                   maxBucket: Option[Long] = None): DataFrame =
    pairs(sig, idCol, sigCol, bits, maxDist, maxBucket,
      materializeSlim = true)

  /** Plan-time checks shared by [[hammingPairs]] and [[hammingEdges]];
    * returns the signature's word reader. */
  private def checked(sig: DataFrame, sigCol: String, bits: Int,
                      maxDist: Int, maxBucket: Option[Long]): WordOf = {
    val word = wordOf(sig, sigCol, bits)
    require(maxDist >= 0 && maxDist < bits,
      s"maxDist=$maxDist out of [0,$bits)")
    val nBands = maxDist + 1
    require((bits + nBands - 1) / nBands <= 64,
      s"band width ${(bits + nBands - 1) / nBands} exceeds 64 bits — " +
        "raise maxDist or shrink the signature")
    maxBucket.foreach(cap =>
      require(cap >= 2, s"maxBucket=$cap out of [2,∞)"))
    word
  }

  /** [[hammingPairs]]' body; `materializeSlim = false` keeps the capped
    * plan lazy for [[hammingEdges]], which materializes its own
    * (smaller) representative table instead. */
  private def pairs(sig: DataFrame, idCol: String, sigCol: String,
                    bits: Int, maxDist: Int, maxBucket: Option[Long],
                    materializeSlim: Boolean): DataFrame = {
    val word = checked(sig, sigCol, bits, maxDist, maxBucket)
    val words = (bits + 63) / 64
    val bandsOf = (s: Column) => bandColumns(s, word, bits, maxDist)
    val distOf = (a: Column, b: Column) => hammingDist(a, b, word, words)
    // uncapped: exact semantics via the signature-contracted form
    // (scaladoc on [[contractedPairs]]) — the banded join runs over
    // DISTINCT signatures, never signature instances
    if (maxBucket.isEmpty)
      return contractedPairs(
        sig.select(col(idCol), col(sigCol))
          .where(col(sigCol).isNotNull),
        idCol, sigCol, bandsOf, distOf, maxDist)
    val cap = maxBucket.get
    // capped mode consumes the signature lineage three times
    // (histogram + both join sides) — materialize the NARROW (id, sig)
    // projection once so a decode-heavy upstream (withAHash over
    // binary payloads) never re-runs; ~16 bytes/row narrow, 40 wide
    val slim =
      if (materializeSlim)
        sig.select(col(idCol), col(sigCol))
          .where(col(sigCol).isNotNull).localCheckpoint()
      else sig
    val banded0 = slim.select(col(idCol), col(sigCol).as("__sig"),
      posexplode(array(bandsOf(col(sigCol)): _*)).as(Seq("band", "bv")))
      .where(col("__sig").isNotNull)
    // the bucket histogram is a map-side-combined count — at most one
    // ~30-byte row per distinct (band, bv) ever shuffles
    val hot = banded0.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > cap)
      .select(col("band"), col("bv"))
    val banded = banded0.join(hot, Seq("band", "bv"), "left_anti")
    val l = banded.select(col(idCol).as("a"), col("__sig").as("sa"),
      col("band"), col("bv"))
    val r = banded.select(col(idCol).as("b"), col("__sig").as("sb"),
      col("band"), col("bv"))
    l.join(r, Seq("band", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), distOf(col("sa"), col("sb")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Connectivity-equivalent Hamming edge set for DEDUP pipelines —
    * the scale form of [[hammingPairs]] when the consumer is a
    * connected-components resolve (q131's shape) rather than the
    * all-pairs list, for signatures of any width: identical-signature
    * groups are star-contracted FIRST (min-id representative, one
    * dist-0 edge per other member), and only the DISTINCT signatures
    * enter the banded join. The returned edges' connected components
    * are exactly [[hammingPairs]]' components (spec'd
    * differentially): a pair with equal signatures shares a star; a
    * pair with different signatures has representatives at the same
    * distance, so the banded rep edge plus two star edges connects it
    * — and every emitted edge is itself a valid ≤ maxDist pair, so no
    * component over-merges.
    *
    * Why this is the 100 TB form:
    *  - exact re-ingest duplicates (the bulk of crawl dup mass) are
    *    found by ONE hash aggregation, never banding — their recall
    *    is guaranteed, independent of band-bucket luck;
    *  - a degenerate blob (millions of identical blank-media
    *    signatures) contracts to a single representative: the skew
    *    [[hammingPairs]] needs `maxBucket` to survive costs one
    *    groupBy here, and the blob stays in ONE component instead of
    *    losing its pairs to the cap;
    *  - band saturation arrives |distinct sigs| / |corpus| later, and
    *    `maxBucket` (still available for the rep join) caps buckets
    *    of REPRESENTATIVES, so a hot bucket drops only near-dup rep
    *    edges, never exact-dup membership.
    * Output: (a, b, dist), a < b; star edges carry dist 0. NOT the
    * all-pairs list — use [[hammingPairs]] when the pair set itself
    * is the product. */
  def hammingEdges(sig: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxDist: Int,
                   maxBucket: Option[Long] = None): DataFrame = {
    checked(sig, sigCol, bits, maxDist, maxBucket)
    // the narrow projection feeds the rep aggregation AND the star
    // join; the rep table feeds the star join AND the banded join —
    // materialize both once (the same eager contract as
    // hammingPairs' capped path; reps is ≤ |distinct sigs| rows of
    // 16 bytes narrow / 40 wide)
    val slim = sig.select(col(idCol), col(sigCol))
      .where(col(sigCol).isNotNull).localCheckpoint()
    val reps = slim.groupBy(col(sigCol).as("__sig"))
      .agg(min(col(idCol)).as("__rep")).localCheckpoint()
    val stars = slim.join(reps, col(sigCol) === col("__sig"))
      .where(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("a"), col(idCol).as("b"),
        lit(0L).as("dist"))
    val repPairs = pairs(
      reps.select(col("__rep").as(idCol), col("__sig").as(sigCol)),
      idCol, sigCol, bits, maxDist, maxBucket, materializeSlim = false)
    stars.unionByName(repPairs)
  }

  /** n-gram Jaccard over distinct word n-grams, integer basis-point
    * result: 10000*|A∩B| / (|A|+|B|-|A∩B|). Pairwise within an (optional)
    * blocking column — at scale, feed LSH buckets as the block.
    *
    * GRAM IDENTITY DEFAULT: grams are keyed by a 128-bit
    * (xxhash64, salted-xxhash64) hash pair, NOT by the exact string —
    * collision-probabilistic at ~2⁻¹²⁸ per gram pair (below any
    * corpus's bit-flip noise floor) in exchange for 16 fixed bytes per
    * gram on the distinct exchange and the self-join. Pass
    * `exactGrams = true` for strict string-set semantics (spec'd
    * equivalent on the test corpora; the scale call sites keep the
    * hashed default).
    *
    * `maxDf` caps each gram's document frequency: the self-join on a
    * shared gram emits |docs-with-gram|² candidate pairs, so one
    * stop-word n-gram in a web-scale corpus is quadratic — the standard
    * mitigation drops grams appearing in more than maxDf documents from
    * BOTH the intersection and the set sizes (Jaccard over the pruned
    * gram sets). Default off: exact semantics, oracle-matched. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, blockCol: Option[String],
                        minBp: Long, maxDf: Option[Long] = None,
                        exactGrams: Boolean = false): DataFrame = {
    // gram identity defaults to the 128-bit (xxhash64,
    // salted-xxhash64) pair — the SpanDedup convention: the distinct
    // exchange and the self-join carry 16 FIXED bytes per gram
    // instead of variable-length strings. Neutral at sf0.1's short
    // bigrams (the cost there is candidate enumeration, adjudicated
    // in SCALE.md); the byte win scales with gram length (a 5-word
    // shingle averages 30+ bytes). A false intersection needs a
    // collision in BOTH hashes (~2⁻¹²⁸ per gram pair — below any
    // corpus's bit-flip noise floor). exactGrams=true keeps string
    // grams for strict set semantics.
    // drop NULL block keys BEFORE the gram pipeline: the equi-join on
    // blk already drops them from every pair, so their gram/size rows
    // are dead weight — and, load-bearing for reuse, the join branches
    // carry an INFERRED isnotnull(block) filter that the sizes branch
    // otherwise lacks, making the three consumers' subtrees differ so
    // the distinct exchange is computed twice (r21 final-plan
    // evidence: the sizes side re-ran the whole scan→shingle→xxhash64
    // →distinct chain). With the explicit filter all three consumers
    // are plan-identical and ReuseExchange computes the grams once.
    val blocked = blockCol.map(c => df.where(col(c).isNotNull))
      .getOrElse(df)
    val raw = blocked.select(
      (col(idCol).as("id") +:
        blockCol.map(col).toSeq :+
        explode(array_distinct(shingles(col(textCol), n))).as("__g")): _*)
    val keyed =
      if (exactGrams) raw.withColumnRenamed("__g", "g")
      else raw.select(
        (col("id") +: blockCol.map(col).toSeq) ++ Seq(
          xxhash64(col("__g")).as("g1"),
          xxhash64(lit("graft-jaccard-gram"), col("__g")).as("g2")): _*)
    val gramKeys = if (exactGrams) Seq("g") else Seq("g1", "g2")
    // NOTE: the .distinct() is semantically redundant (array_distinct
    // already de-dups per doc) but load-bearing for performance: its
    // exchange is identical across the three consumers (join left/right
    // + sizes), so Spark's ReuseExchange computes the gram table once.
    // Removing it makes every branch recompute the shingle pipeline
    // (measured 8.3 s → 20.3 s at sf0.1).
    val gramsAll = keyed.distinct()
    // hot-gram cap: count each gram's df with a window over the same
    // (block, gram) partitioning the self-join shuffles on anyway
    val grams = maxDf match {
      case Some(cap) =>
        val w = Window.partitionBy(
          (blockCol.map(col).toSeq ++ gramKeys.map(col)): _*)
        gramsAll.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= cap).drop("__df")
      case None => gramsAll
    }
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val l = grams.select((col("id").as("a") +:
      gramKeys.map(gk => col(gk).as(s"${gk}_a"))) ++
      blockCol.map(c => col(c).as("blk")).toSeq: _*)
    val r = grams.select((col("id").as("b") +:
      gramKeys.map(gk => col(gk).as(s"${gk}_b"))) ++
      blockCol.map(c => col(c).as("blk2")).toSeq: _*)
    val joinCond = gramKeys.map(gk => col(s"${gk}_a") === col(s"${gk}_b"))
      .reduce(_ && _) &&
      blockCol.map(_ => col("blk") === col("blk2")).getOrElse(lit(true)) &&
      (col("a") < col("b"))
    val inter = l.join(r, joinCond)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a")
        .withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b")
        .withColumnRenamed("sz", "szb"), "b")
      .withColumn("j_bp", expr("(10000 * inter) div (sza + szb - inter)"))
      .filter(col("j_bp") >= minBp)
      .select("a", "b", "j_bp")
  }

  /** Incremental corpus admission: keep only `increment` rows that are
    * neither EXACT nor NEAR duplicates of `archive` — the daily-crawl
    * pattern, where the cost must scale with the INCREMENT, not with
    * re-clustering the whole corpus.
    *
    * Three candidate-bounded stages, all reusing the batch machinery:
    *  1. exact: the archive collapses to its distinct (md5, xxhash64,
    *     len) digest triple — a narrow frame, no document bytes — and
    *     the increment anti-joins it;
    *  2. near candidates: LSH band buckets of the archive equi-join the
    *     buckets of the digest survivors — CROSS-corpus pairs only, the
    *     archive side is reusable across days (persist its buckets with
    *     [[graft.sources.Bucketing]] and the daily join is
    *     exchange-free on the archive);
    *  3. verify: exact n-gram Jaccard on the candidates
    *     ([[jaccardVerify]]); survivors of BOTH filters are admitted.
    *
    * Intra-increment duplicates are deliberately NOT resolved here —
    * run [[exactByDigest]] / the q47 pipeline over the increment first;
    * admission answers only "is this new against the archive". Ids
    * must be unique across both frames. */
  def incrementalAdmit(archive: DataFrame, increment: DataFrame,
                       idCol: String, textCol: String,
                       shingleK: Int = 3, numHashes: Int = 16,
                       bands: Int = 4,
                       minBp: Long = 9500L): DataFrame = {
    val archDig = archive.select(md5(col(textCol)).as("__d"),
        xxhash64(col(textCol)).as("__x"),
        length(col(textCol)).as("__l"))
      .distinct()
    val survivors = increment
      .withColumn("__d", md5(col(textCol)))
      .withColumn("__x", xxhash64(col(textCol)))
      .withColumn("__l", length(col(textCol)))
      .join(archDig, Seq("__d", "__x", "__l"), "left_anti")
      .drop("__d", "__x", "__l")
    val ab = lshBuckets(archive, idCol, textCol, shingleK, numHashes,
        bands)
      .select(col(idCol).as("a"), col("band"), col("bucket"))
    val ib = lshBuckets(survivors, idCol, textCol, shingleK, numHashes,
        bands)
      .select(col(idCol).as("b"), col("band"), col("bucket"))
    val cands = ab.join(ib, Seq("band", "bucket"))
      .select("a", "b").distinct()
    val corpus = archive.select(col(idCol), col(textCol))
      .unionByName(survivors.select(col(idCol), col(textCol)))
    val near = jaccardVerify(cands, corpus, idCol, textCol, 3, minBp)
    survivors.join(near.select(col("b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard restricted to given candidate pairs — the
    * verify half of the scale path (MinHash/LSH candidates →
    * [[jaccardVerify]]): the quadratic gram self-join disappears; cost
    * is two hash joins of the gram table against the (much smaller)
    * candidate set. j_bp values are identical to
    * [[ngramJaccardPairs]]'s for every pair present in `pairs`. */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, n: Int, minBp: Long): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), n))).as("g"))
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = pairs.select("a", "b")
      .join(grams.select(col("id").as("a"), col("g").as("ga")), "a")
      .join(grams.select(col("id").as("b"), col("g").as("gb")),
        Seq("b"))
      .filter(col("ga") === col("gb"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a")
        .withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b")
        .withColumnRenamed("sz", "szb"), "b")
      .withColumn("j_bp", expr("(10000 * inter) div (sza + szb - inter)"))
      .filter(col("j_bp") >= minBp)
      .select("a", "b", "j_bp")
  }
}
