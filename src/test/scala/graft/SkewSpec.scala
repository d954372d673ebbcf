package graft

import org.apache.spark.sql.functions._

/** Pins the engine behavior SCALE.md leans on for skewed keys: AQE's
  * OptimizeSkewedJoin splits a hot join partition at runtime, so the
  * operators here don't hand-roll salting for equi-joins. Thresholds
  * are lowered to make the optimization fire at spec sizes — the
  * ASSERTION (skew=true in the final adaptive plan) is what matters,
  * not the absolute sizes. */
class SkewSpec extends SparkTest {

  test("AQE splits the hot key's partition in a skewed sort-merge join") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // enough partitions that the hot one towers over the MEDIAN —
      // with the suite default of 2, the median IS the hot partition
      // and the factor test can never flag it
      "spark.sql.shuffle.partitions" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 60k facts on ONE hot key + a uniform tail; dimension covers all
      val facts = spark.range(0, 66000).select(
        when(col("id") < 60000, 0L).otherwise(col("id") % 100).as("k"),
        concat(lit("payload-"), col("id")).as("pad"))
      val dim = spark.range(0, 100).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("d"))
      val joined = facts.join(dim, "k")
      // materialize THIS queryExecution (count() would plan its own
      // and leave this one's adaptive plan unfinalized)
      assert(joined.collect().length == 66000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must have split the hot partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("media-dedup maxBucket cap: the q123/q128 corpus' largest band " +
    "bucket stays under the call-site cap, so capped == uncapped") {
    import graft.operators.{Dedup, Multimodal}
    // the REAL production pieces, not replicas: the q123/q128/q131
    // corpus, the call sites' cap value, and hammingPairs' own band
    // split — so corpus growth or a banding change fails HERE before
    // it can silently drop pairs at the oracled call sites
    val corpus = Queries.imageDedupCorpus(spark)
    val cap = Queries.mediaMaxBucket.get
    val sig = Multimodal.withAHash(corpus, "payload")
    val maxBucket = sig
      .select(posexplode(
        array(Dedup.bandColumns(col("ahash"),
          Dedup.wordOf(sig, "ahash", 64), 64, 6): _*))
        .as(Seq("band", "bv")))
      .groupBy(col("band"), col("bv")).count()
      .agg(max(col("count"))).collect().head.getLong(0)
    assert(maxBucket <= cap,
      s"corpus' hottest band bucket grew to $maxBucket — the media " +
        s"call sites' maxBucket=$cap would now drop pairs and drift " +
        "from the oracle")
    val uncapped = Dedup.hammingPairs(sig, "img_id", "ahash", 64, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    val capped = Dedup.hammingPairs(sig, "img_id", "ahash", 64, 6,
        maxBucket = Queries.mediaMaxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(capped == uncapped)
    assert(uncapped.nonEmpty)
  }

  /** Union-find over collected edges — the spec-side component oracle
    * for the hammingEdges ≡ hammingPairs connectivity contract. */
  private def components(ids: Seq[Long],
                         edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val p = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (p(x) == x) x else { val r = find(p(x)); p(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) p(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("hammingEdges: components equal hammingPairs' (and brute force) " +
    "on a randomized corpus; every emitted edge is a valid pair") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(99L)
    val bases = Seq.fill(6)(rnd.nextLong())
    val rows = (1L to 60L).map { id =>
      val b = bases(rnd.nextInt(bases.size))
      // 0–4 random bit flips: plenty of exact-sig collisions (stars)
      // AND near-dup chains crossing signature groups (rep edges)
      id -> Seq.fill(rnd.nextInt(5))(rnd.nextInt(64))
        .foldLeft(b)((s, k) => s ^ (1L << k))
    }
    val sigOf = rows.toMap
    val df = flowDf(Seq("id", "sig"), rows.map { case (i, s) => Seq(i, s) })
    val maxDist = 3
    val edges = Dedup.hammingEdges(df, "id", "sig", 64, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // soundness: every edge is itself a ≤ maxDist pair, dist correct
    edges.foreach { case (a, b, d) =>
      val real = java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)).toLong
      assert(a < b && real == d && d <= maxDist,
        s"invalid edge ($a,$b,$d), real dist $real")
    }
    // connectivity: components match the brute-force all-pairs truth
    val ids = rows.map(_._1)
    val brute = for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)) <= maxDist
    } yield (a, b)
    val viaEdges = components(ids, edges.map(e => (e._1, e._2)).toSeq)
    assert(viaEdges == components(ids, brute),
      "hammingEdges components drifted from brute-force all-pairs")
    // and from hammingPairs' own output (the operator contract)
    val pairs = Dedup.hammingPairs(df, "id", "sig", 64, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaEdges == components(ids, pairs))
    // the edge set is the compact one: star edges collapse each
    // exact-sig group to |group|-1 rows, never |group|²/2
    val dupMass = rows.groupBy(_._2).values.map(g => g.size - 1).sum
    val starEdges = edges.count(_._3 == 0L)
    assert(starEdges == dupMass,
      s"expected $dupMass dist-0 star edges, got $starEdges")
  }

  test("hammingEdges under a degenerate blob: star contraction keeps " +
    "the blob ONE component at n-1 edges where the capped pair join " +
    "drops it, and planted near-dups still pair") {
    import graft.operators.Dedup
    // 500 identical blank signatures + 10 planted distance-1 pairs on
    // cold, well-separated bases
    val blob = (1L to 500L).map(i => i -> 0L)
    val planted = (0 until 10).flatMap { k =>
      val base = scala.util.hashing.byteswap64(1000L + k) | (1L << 63)
      Seq((1001L + 2 * k) -> base, (1002L + 2 * k) -> (base ^ 1L))
    }
    val rows = blob ++ planted
    val df = flowDf(Seq("id", "sig"), rows.map { case (i, s) => Seq(i, s) })
    val cap = Some(8L)
    val edges = Dedup.hammingEdges(df, "id", "sig", 64, 3,
        maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the blob: exactly 499 star edges from min-id 1, zero quadratic
    // blow-up, membership NOT sacrificed to the cap
    val blobEdges = edges.filter(_._2 <= 500L)
    assert(blobEdges.length == 499 &&
      blobEdges.forall(e => e._1 == 1L && e._3 == 0L),
      s"blob must star-contract to 499 edges: ${blobEdges.length}")
    // every planted pair survives (their rep buckets are cold)
    val plantedPairs = edges.filter(_._1 > 1000L)
      .map(e => (e._1, e._2)).toSet
    assert(plantedPairs ==
      (0 until 10).map(k => (1001L + 2 * k, 1002L + 2 * k)).toSet,
      s"planted pairs lost: $plantedPairs")
    // contrast — the motivating deficiency: the capped PAIR join must
    // drop the blob's pairs entirely (its buckets are all hot)
    val cappedPairs = Dedup.hammingPairs(df, "id", "sig", 64, 3,
        maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!cappedPairs.exists(_._2 <= 500L),
      "capped hammingPairs unexpectedly kept blob pairs")
  }

  /** Random signatures of `words` words clustered around shared bases
    * (0–5 flips of the low `bits` bits) so pairs and edges have real
    * positives to find; bits < 64 keep the one word's high bits 0. */
  private def sigRows(seed: Long, n: Int, bits: Int): Seq[(Long, Seq[Long])] = {
    val words = (bits + 63) / 64
    val low = if (bits >= 64) -1L else (1L << bits) - 1
    val rnd = new scala.util.Random(seed)
    val bases = Seq.fill(5)(Seq.fill(words)(rnd.nextLong() & low))
    (1L to n).map { id =>
      val b = bases(rnd.nextInt(bases.size))
      val flips = Seq.fill(rnd.nextInt(6))(rnd.nextInt(bits))
      id -> flips.foldLeft(b)((s, k) =>
        s.updated(k / 64, s(k / 64) ^ (1L << (k % 64))))
    }
  }

  /** The 64-bit anchored corpus (negatives included, every 13th
    * signature NULL) the narrow brute-force check has always used. */
  private def anchoredRows: Seq[(Long, Option[Seq[Long]])] = {
    val rnd = new scala.util.Random(7L)
    (1L to 40L).map { i =>
      // cluster signatures around a few anchors so distances spread
      val anchor = Seq(0L, -1L, 0x0123456789ABCDEFL)(rnd.nextInt(3))
      val flips = rnd.nextInt(12)
      val s = (0 until flips).foldLeft(anchor)((a, _) =>
        a ^ (1L << rnd.nextInt(64)))
      (i, if (i % 13 == 0) None else Some(Seq(s)))
    }
  }

  private def distOf(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  /** Band `b` of a signature, sliced bit by bit — the spec-side
    * replica of the pigeonhole split. */
  private def bandOf(s: Seq[Long], bits: Int, maxDist: Int,
                     b: Int): Long = {
    val nBands = maxDist + 1
    val width = bits / nBands + (if (b < bits % nBands) 1 else 0)
    val start = b * (bits / nBands) + math.min(b, bits % nBands)
    (0 until width).map(k =>
      ((s((start + k) / 64) >>> ((start + k) % 64)) & 1L) << k)
      .reduce(_ | _)
  }

  /** A signature frame: `bigint` for ≤ 64 bits, `array<bigint>` above. */
  private def sigFrame(bits: Int,
                       rows: Seq[(Long, Option[Seq[Long]])]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val narrow = bits <= 64
    spark.createDataFrame(
      rows.map { case (i, s) =>
        Row(i, s.map(w => if (narrow) w.head else w).orNull) }.asJava,
      StructType(Seq(StructField("id", LongType, false),
        StructField("sig",
          if (narrow) LongType else ArrayType(LongType, false), true))))
  }

  test("hammingPairs and hammingEdges equal brute force over 16-, 64-, " +
    "128- and 256-bit signatures, capped and uncapped; NULL " +
    "signatures never pair") {
    import graft.operators.Dedup
    def withNull(rows: Seq[(Long, Seq[Long])]) =
      rows.map { case (i, s) => (i, Option(s)) } :+ ((999L, None))
    // (bits, rows, maxDists): 64-bit maxDist 0 is one 64-bit band;
    // 128-bit maxDist 2 and 5 put a band across the word boundary;
    // 256-bit maxDist 3 → 4 bands × 64 bits (exact word boundaries),
    // maxDist 6 → 7 bands of 37/36 bits (every band spans a word)
    val table = Seq(
      (16, withNull(sigRows(3L, 40, 16)), Seq(1, 3)),
      (64, anchoredRows, Seq(0, 3, 9)),
      (128, withNull(sigRows(11L, 50, 128)), Seq(2, 5)),
      (256, withNull(sigRows(31L, 50, 256)), Seq(3, 6)),
      (256, withNull(sigRows(77L, 60, 256)), Seq(6)))
    val cap = 4L
    for ((bits, rows, maxDists) <- table; d <- maxDists) {
      val at = s"bits=$bits maxDist=$d"
      val df = sigFrame(bits, rows)
      val sigOf = rows.collect { case (i, Some(s)) => i -> s }.toMap
      val ids = sigOf.keys.toSeq.sorted
      val want = (for {
        a <- ids; b <- ids if a < b
        dist = distOf(sigOf(a), sigOf(b)) if dist <= d
      } yield (a, b, dist.toLong))
      def triples(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      // uncapped pairs: exactly the brute-force all-pairs set
      val got = triples(Dedup.hammingPairs(df, "id", "sig", bits, d))
      assert(got == want, s"$at: got ${got.size} pairs, want ${want.size}")
      // capped pairs: exactly the pairs agreeing on a band whose bucket
      // holds at most `cap` signatures
      val pop = (0 to d).flatMap(b => ids.map(i =>
        (b, bandOf(sigOf(i), bits, d, b)))).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val cold = want.filter { case (a, b, _) => (0 to d).exists { k =>
        val v = bandOf(sigOf(a), bits, d, k)
        v == bandOf(sigOf(b), bits, d, k) && pop((k, v)) <= cap } }
      assert(triples(Dedup.hammingPairs(df, "id", "sig", bits, d,
        maxBucket = Some(cap))) == cold, s"$at capped")
      // edges, capped and uncapped: every edge is a valid pair and the
      // dist-0 star edges count the exact-dup mass
      val dupMass = sigOf.groupBy(_._2).values.map(_.size - 1).sum
      for (mb <- Seq(None, Some(cap))) {
        val edges = triples(Dedup.hammingEdges(df, "id", "sig", bits, d,
          maxBucket = mb))
        edges.foreach { case (a, b, e) =>
          assert(a < b && distOf(sigOf(a), sigOf(b)).toLong == e &&
            e <= d, s"$at $mb: invalid edge ($a,$b,$e)")
        }
        assert(edges.count(_._3 == 0L) == dupMass, s"$at $mb stars")
        // uncapped: components equal the all-pairs components
        if (mb.isEmpty)
          assert(components(ids, edges.map(e => (e._1, e._2))) ==
            components(ids, want.map(e => (e._1, e._2))), s"$at cc")
      }
    }
  }

  test("hammingPairsWide: equals brute-force all-pairs on random " +
    "clustered 256-bit signatures, at word-aligned AND word-spanning " +
    "band widths; NULL signatures never pair") {
    // the 256-bit pair join is hammingPairs over an array<bigint> column
    import graft.operators.Dedup
    import spark.implicits._
    val rows = sigRows(31L, 50, 256)
    val sigOf = rows.toMap
    val df = rows.toDF("id", "sig")
      .unionByName(Seq((999L, null)).toDF("id", "sig")
        .select(col("id"), col("sig").cast("array<long>")))
    // maxDist 3 → 4 bands × 64 bits (exact word boundaries);
    // maxDist 6 → 7 bands of 37/36 bits (every band spans a word)
    for (d <- Seq(3, 6)) {
      val got = Dedup.hammingPairs(df, "id", "sig", 256, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      val ids = rows.map(_._1)
      val want = (for {
        a <- ids; b <- ids if a < b
        dist = distOf(sigOf(a), sigOf(b)) if dist <= d
      } yield (a, b, dist.toLong)).sortBy(t => (t._1, t._2))
      assert(got == want,
        s"maxDist=$d: got ${got.size} pairs, want ${want.size}")
      assert(!got.exists(t => t._1 == 999L || t._2 == 999L))
    }
  }

  test("hammingEdgesWide: components equal hammingPairsWide's; " +
    "star edges count the exact-dup mass; narrow/wide arithmetic " +
    "agree at grid 8") {
    // the 256-bit edge set is hammingEdges over an array<bigint> column
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val rows = sigRows(77L, 60, 256)
    val df = rows.toDF("id", "sig")
    val ids = rows.map(_._1)
    val edges = Dedup.hammingEdges(df, "id", "sig", 256, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sigOf = rows.toMap
    edges.foreach { case (a, b, d) =>
      assert(a < b && distOf(sigOf(a), sigOf(b)).toLong == d &&
        d <= 6, s"invalid wide edge ($a,$b,$d)")
    }
    val pairs = Dedup.hammingPairs(df, "id", "sig", 256, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(components(ids, edges.map(e => (e._1, e._2)).toSeq) ==
      components(ids, pairs))
    val dupMass = rows.groupBy(_._2).values.map(g => g.size - 1).sum
    assert(edges.count(_._3 == 0L) == dupMass)
    // the wide hash at grid 8 packs to exactly the narrow hash — one
    // differential pins both readings to the same arithmetic
    for (i <- Seq(4L, 10L, 58L, 7L)) { // 7 is corrupt → None on both
      val p = Multimodal.encodeTestImage(i)
      assert(Multimodal.imageAHashWide(p, grid = 8).map(_.head) ==
        Multimodal.imageAHash(p, grid = 8), s"grid-8 drift at $i")
    }
  }

  test("bandColumns: every band value is the exact bit slice, " +
    "including word-spanning bands over NEGATIVE low words") {
    // an arithmetic shift of a negative lo word would smear sign bits
    // into the hi word's OR positions — matches would still be found
    // (the smear is shared and the dist filter is exact) but the band
    // would lose the hi word's entropy; this pins the slice exactly
    import graft.operators.Dedup
    for ((bits, maxDists) <- Seq(64 -> Seq(0, 3, 6), 128 -> Seq(2, 5),
        256 -> Seq(3, 6, 7))) {
      val rnd = new scala.util.Random(5L)
      val words = bits / 64
      val sigs = Seq.fill(8)(Seq.fill(words)(rnd.nextLong())) :+
        Seq(0x8000000000000001L, 0xffL, -1L, Long.MinValue)
          .take(words) // adversarial
      val df = sigFrame(bits, sigs.zipWithIndex.map { case (s, i) =>
        (i.toLong, Some(s)) })
      for (maxDist <- maxDists) {
        val got = df.select(col("id") +: Dedup.bandColumns(col("sig"),
            Dedup.wordOf(df, "sig", bits), bits, maxDist): _*)
          .collect().sortBy(_.getLong(0))
          .map(_.toSeq.tail.map(_.asInstanceOf[Long]))
        sigs.zip(got).foreach { case (s, bands) =>
          bands.zipWithIndex.foreach { case (bv, b) =>
            val want = bandOf(s, bits, maxDist, b)
            assert(bv == want, s"band $b of $s at bits $bits maxDist " +
              s"$maxDist: got $bv want $want")
          }
        }
      }
    }
  }

  test("Hamming operators: a signature column of the wrong type, or a " +
    "bits value its type cannot hold, fails at plan time naming both") {
    import graft.operators.Dedup
    import spark.implicits._
    val ints = Seq((1L, 3), (2L, 5)).toDF("id", "isig")
    val longs = Seq((1L, 3L), (2L, 5L)).toDF("id", "lsig")
    for ((df, c, bits, typ) <- Seq((ints, "isig", 32, "int"),
        (longs, "lsig", 256, "bigint"))) {
      val ops = Seq[() => Any](
        () => Dedup.hammingPairs(df, "id", c, bits, 3),
        () => Dedup.hammingEdges(df, "id", c, bits, 3))
      ops.foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(s"'$c'") &&
          e.getMessage.contains(typ), e.getMessage)
      }
    }
  }

  test("perceptualDedup: both signature families drop every planted " +
    "exact re-ingest duplicate and keep every original; the narrow " +
    "family is exactly the hand-built hash→edges→resolve chain") {
    import graft.operators.{ConnectedComponents, Dedup, Multimodal}
    import spark.implicits._
    // the q131 corpus shape: decodable sources + an exact duplicate of
    // each under id+100 (srcs avoid i%7==0 corrupt payloads)
    val srcs = Seq(4L, 10L, 16L, 22L, 34L, 40L, 46L, 52L, 58L)
    val imgs = (srcs.map(i => (i, Multimodal.encodeTestImage(i))) ++
      srcs.map(i => (i + 100L, Multimodal.encodeTestImage(i))))
      .toDF("img_id", "payload")
    for ((bits, maxDist) <- Seq(256 -> 3, 64 -> 6)) {
      val surv = Multimodal.perceptualDedup(imgs, "img_id", "payload",
          maxDist = maxDist, maxBucket = Some(8L), bits = bits)
        .select("img_id").collect().map(_.getLong(0)).toSet
      // every planted duplicate (id+100) drops — structurally (star
      // contraction), independent of banding luck in either family
      assert(srcs.forall(i => !surv.contains(i + 100L)),
        s"$bits-bit kept a planted duplicate: $surv")
      assert(srcs.toSet.subsetOf(surv),
        s"$bits-bit dropped an original: $surv")
    }
    // parameterization is pure routing: the narrow family's output is
    // bit-identical to composing the operators by hand (q131's chain)
    val byHand = ConnectedComponents.resolve(imgs, "img_id",
        Dedup.hammingEdges(Multimodal.withAHash(imgs, "payload"),
          "img_id", "ahash", bits = 64, maxDist = 6,
          maxBucket = Some(8L)), "a", "b")
      .select("img_id").collect().map(_.getLong(0)).toSet
    val viaApi = Multimodal.perceptualDedup(imgs, "img_id", "payload",
        maxDist = 6, maxBucket = Some(8L), bits = 64)
      .select("img_id").collect().map(_.getLong(0)).toSet
    assert(byHand == viaApi)
  }

  test("perceptualDedup with pixel verify: digest stars collapse " +
    "byte-identical payloads the hash contract never pairs; planted " +
    "dups still drop; a near-collision edge cannot survive the verify") {
    import graft.operators.Multimodal
    import spark.implicits._
    val srcs = Seq(4L, 10L, 16L, 22L, 34L)
    // harness corpus + THREE byte-identical corrupt stubs (seeds
    // %7==0 all emit the same 4-byte payload) — NULL signatures, so
    // the hash contract keeps all three; byte-identity keeps one
    val imgs = (srcs.map(i => (i, Multimodal.encodeTestImage(i))) ++
      srcs.map(i => (i + 100L, Multimodal.encodeTestImage(i))) ++
      Seq(7L, 14L, 21L).map(i =>
        (i + 900L, Multimodal.encodeTestImage(i))))
      .toDF("img_id", "payload")
    val noVerify = Multimodal.perceptualDedup(imgs, "img_id",
        "payload", maxDist = 3, maxBucket = Some(8L))
      .select("img_id").collect().map(_.getLong(0)).toSet
    val verified = Multimodal.perceptualDedup(imgs, "img_id",
        "payload", maxDist = 3, maxBucket = Some(8L),
        verifyMaxAvgDiff = Some(8L))
      .select("img_id").collect().map(_.getLong(0)).toSet
    // hash contract: all three corrupt stubs survive (never pair)
    assert(Set(907L, 914L, 921L).subsetOf(noVerify))
    // byte-identity contract: they collapse to the min id
    assert(verified.contains(907L) && !verified.contains(914L) &&
      !verified.contains(921L), s"corrupt-group collapse: $verified")
    // planted exact dups drop under BOTH; originals survive both
    assert(srcs.forall(i => !noVerify.contains(i + 100L) &&
      !verified.contains(i + 100L)))
    assert(srcs.forall(i => noVerify.contains(i) &&
      verified.contains(i)))
  }
}
