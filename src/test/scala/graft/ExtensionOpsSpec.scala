package graft

import graft.filter.FilterEnv
import graft.flow.Devices
import graft.operators._
import org.apache.spark.sql.functions._

/** Specs for the LLM-pipeline operators and device enrichment. */
class ExtensionOpsSpec extends SparkTest {

  import scala.jdk.CollectionConverters._
  private def docs(rows: (Long, String)*) = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, false),
        StructField("text", StringType, false))))
  }

  test("exact dedup keeps the smallest id per content") {
    val df = docs(3L -> "aa", 1L -> "aa", 2L -> "bb")
    val kept = Dedup.exact(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L))
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(groups == Seq((1L, 2L), (2L, 1L)))
  }

  test("exactByDigest ≡ exact (scale path), and its winner shuffle is " +
    "narrow: partial min, no window sort of content") {
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 300L).map(i =>
      i -> s"document body ${rnd.nextInt(80)}")  // ~80 distinct contents
    val df = docs(corpus: _*)
    val viaWindow = Dedup.exact(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaDigest = Dedup.exactByDigest(df, "doc_id", "text")
    assert(viaDigest.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == viaWindow)
    val plan = viaDigest.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      "winner selection must map-side combine before its shuffle")
    assert(!plan.contains("Window"),
      "the scale path must not sort document content in a window")
    assert(plan.contains("LeftSemi"), "survivors come back via semi-join")
  }

  test("shingles: k-grams, short docs yield empty") {
    val out = docs(1L -> "a b c d", 2L -> "x y")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq.empty)
  }

  test("minhash LSH: identical docs always collide, disjoint never") {
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again today",
      3L -> "entirely different words with nothing shared at all here now")
    val pairs = Dedup.minhashCandidates(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical text → identical signature; signature is " +
    "deterministic") {
    val df = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "delta epsilon zeta eta theta")
    val sigs = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L) >= 0 && sigs(1L) < (1L << 16))
  }

  test("PQ: identical vectors share codes; codes stay in [0, k); the " +
    "query (and its exact duplicate) achieve the minimal ADC distance") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(5)
    val vecs: Seq[(Long, Seq[Double])] =
      (1L to 10L).map(i => i -> Seq.fill(8)(rnd.nextDouble())) :+
        (11L -> null)  // placeholder replaced below
    val base = vecs.dropRight(1)
    val rows = base :+ (11L -> base.head._2)  // id 11 duplicates id 1
    val df = spark.createDataFrame(
      rows.map { case (i, v) => Row(i, v) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(DoubleType), false))))
    val book = Similarity.pqTrainQuantized(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 2, iters = 2)
    val bookRows = book.collect()
    assert(bookRows.length == 4)  // m=2 subspaces x k=2 centroids
    assert(bookRows.forall(_.getSeq[Long](2).length == 4)) // dim/m
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", book,
        dim = 8, m = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(codes(1L) == codes(11L))
    assert(codes.values.forall(c => c.length == 2 &&
      c.forall(x => x >= 0 && x < 2)))
    val top = Similarity.pqSearchADC(df, "vec_id", "embedding", book,
        queryId = 1L, dim = 8, m = 2, topK = 11).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val best = top.head._2
    val byId = top.toMap
    // the query's own codes minimize the per-subspace table sums, so
    // nothing can score below it — and its duplicate ties exactly
    assert(byId(1L) == best && byId(11L) == best)
  }

  test("kmeansQuantized matches a sequential Lloyd reference model") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val dim = 3
    val vecs: Seq[(Long, Seq[Float])] = (1L to 30L).map { i =>
      i -> Seq.tabulate(dim)(d =>
        (math.sin(i * 7.3 + d * 1.9) * 0.8).toFloat)
    }
    val df = spark.createDataFrame(
      vecs.map { case (i, v) => Row(i, v) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(FloatType, false), false))))
    val k = 3; val iters = 2; val scale = 1000000L

    // sequential reference: same quantize/seed/assign/update rules
    val vq = vecs.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * scale).toLong) }.toMap
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cents: Map[Long, Seq[Long]] = vecs.map(_._1)
      .sortBy(i => (md5s(i.toString), i)).take(k).zipWithIndex
      .map { case (i, c) => c.toLong -> vq(i) }.toMap
    for (_ <- 0 until iters) {
      val asg = vq.toSeq.map { case (i, v) =>
        val (cid, _) = cents.toSeq.map { case (c, cv) =>
          c -> v.zip(cv).map { case (a, b) =>
            (a - b) * (a - b) }.sum
        }.minBy { case (c, d) => (d, c) }
        cid -> v
      }
      cents = cents.map { case (c, old) =>
        val mine = asg.filter(_._1 == c).map(_._2)
        if (mine.isEmpty) c -> old
        else c -> (0 until dim).map(p =>
          math.floor(mine.map(_(p)).sum.toDouble / mine.size).toLong)
      }
    }
    val expected = cents.toSeq.sortBy(_._1).flatMap { case (c, cv) =>
      cv.zipWithIndex.map { case (x, p) => (c, (p + 1).toLong, x) } }

    val got = Similarity.kmeansQuantized(df, "vec_id", "embedding",
        k, iters).orderBy(col("cid"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expected)
  }

  test("simhashPairs matches brute-force Hamming pairs (band recall)") {
    // 40 pseudo-random docs; banded LSH must equal all-pairs exactly
    val words = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val rows = (1L to 40L).map { i =>
      val txt = (0 until 12)
        .map(j => words(((i * 31 + j * 17) % words.size).toInt))
        .mkString(" ")
      i -> txt
    }
    val df = docs(rows: _*)
    val banded = Dedup.simhashPairs(df, "doc_id", "text", bits = 16,
        maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Dedup.simhash(df, "doc_id", "text", bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= 4
    } yield (a, b, d.toLong)).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // fixture actually exercises the path
  }

  test("ngram jaccard basis points") {
    val df = docs(1L -> "a b c d", 2L -> "a b c e", 3L -> "z z z z")
    // bigrams: d1 {ab, bc, cd}, d2 {ab, bc, ce}: inter 2, union 4 → 5000
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, None, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains((1L, 2L, 5000L)))
    assert(!out.exists(p => p._2 == 3L && p._3 > 2500L))
    // the hashed-gram default and exactGrams=true agree row for row
    val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, None,
        1L, exactGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact == out)
  }

  test("ngram jaccard maxDf cap bounds hot-gram candidate pairs") {
    // pathological: every doc shares the stop-gram "of the"; only docs
    // 1 and 2 also share a rare gram. Uncapped: all 6 pairs meet.
    val df = docs(
      1L -> "rare gram of the x1",
      2L -> "rare gram of the x2",
      3L -> "alpha beta of the x3",
      4L -> "gamma delta of the x4")
    val uncapped = Dedup.ngramJaccardPairs(
      df, "doc_id", "text", 2, None, 1L)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 6, s"all pairs share 'of the': $uncapped")
    // df('of the')=4, df('the x_')=1 each, df('rare gram')=2 →
    // cap 3 kills the stop-gram: only the rare-gram pair survives
    val capped = Dedup.ngramJaccardPairs(
      df, "doc_id", "text", 2, None, 1L, maxDf = Some(3L))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"got $capped")
  }

  test("jaccardVerify matches ngramJaccardPairs on candidate pairs") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b x y z"),
      (4L, "p q r s t"), (5L, "p q r s t")).toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, None, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // candidates: a strict subset (as MinHash would produce)
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a", "b")
    val verified = Dedup.jaccardVerify(pairs, docs, "doc_id", "text", 2, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(verified.keySet == Set((1L, 2L), (1L, 3L), (4L, 5L)))
    verified.foreach { case (k, v) => assert(exact(k) == v, s"pair $k") }
    assert(verified((4L, 5L)) == 10000L) // identical docs
  }

  test("langId picks the stopword-richest language, und otherwise") {
    val df = docs(
      1L -> "the cat and the dog of the house",
      2L -> "der Hund und die Katze ist ein Tier",
      3L -> "zzz qqq www")
    val out = df.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("quality metrics integer arithmetic") {
    val df = docs(1L -> "the cat. sat, here!")
    val m = df.select(TextAnalysis.qualityMetrics(col("text"))
      .map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(m.getAs[Long]("n_tokens") == 4L)
    assert(m.getAs[Long]("n_punct") == 3L)
    // chars: the(3) cat.(4) sat,(4) here!(5) = 16 → 16*10000/4 = 40000
    assert(m.getAs[Long]("mean_tok_len_bp") == 40000L)
    assert(m.getAs[Long]("stopword_bp") == 2500L) // "the" of 4 tokens
  }

  test("winnowing counts match the column-expression form") {
    val df = docs(1L -> "a b c d e f g h i j", 2L -> "x y")
    val viaCol = df.select(col("doc_id"),
        size(TextAnalysis.winnowingFingerprints(col("text"), 3, 4))
          .cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = TextAnalysis.winnowingCounts(df, "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOp == viaCol)
    assert(viaOp(2L) == 0L)
  }

  test("cosine topK and LSH ANN agree on the nearest neighbor") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val dim = 8
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(i => (math.sin(seed * 31 + i) * 10).toFloat)
    val base = vec(1)
    val near = base.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.01f else v }
    val rows = Seq(Row(1L, base), Row(2L, near), Row(3L, vec(7)),
      Row(4L, vec(13)), Row(5L, vec(29)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val q = df.filter(col("vec_id") === 1)
    val brute = Similarity.topK(df.filter(col("vec_id") =!= 1),
      "vec_id", "embedding", q, "embedding", 1).collect()
    assert(brute(0).getLong(0) == 2L)
    val ann = Similarity.annTopK(df.filter(col("vec_id") =!= 1),
      "vec_id", "embedding", dim, 4, q, "embedding", 1).collect()
    // the near-duplicate must share the query's LSH bucket
    assert(ann.nonEmpty && ann(0).getLong(0) == 2L)
  }

  test("annTopKBatch matches per-query annTopK; IVF search finds the " +
    "probed nearest") {
    import graft.operators.Similarity
    import spark.implicits._
    // deterministic synthetic vectors, 8-dim
    def vec(id: Long): Array[Float] =
      (0 until 8).map(i => (((id * 31 + i * 17) % 13) - 6).toFloat).toArray
    val data = (10L until 60L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val queries = (0L until 3L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val batch = Similarity.annTopKBatch(data, "vec_id", "embedding", 8, 2,
        queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 3L).foreach { qid =>
      val single = Similarity.annTopK(data, "vec_id", "embedding", 8, 2,
          queries.filter(col("vec_id") === qid), "embedding", 5)
        .collect().map(r => (qid, r.getLong(0))).toSet
      assert(batch.filter(_._1 == qid) == single, s"query $qid")
    }

    // IVF with nprobe = all centroids degenerates to exact search
    val centroids = (10L until 60L by 20L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val q = queries.filter(col("vec_id") === 0L)
    val lists = Similarity.IvfLifecycle.assign(Similarity.IvfF32, data,
      "vec_id", "embedding", centroids, "vec_id", "embedding")
    val ivfAll = Similarity.IvfLifecycle.search(Similarity.IvfF32, lists,
        q, "embedding", nprobe = 3, k = 3)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(data, "vec_id", "embedding",
        q, "embedding", 3).collect().map(_.getLong(0)).toSeq
    assert(ivfAll == brute)
    // nprobe=1 returns a subset of one inverted list, still k-capped
    val ivf1 = Similarity.IvfLifecycle.search(Similarity.IvfF32, lists,
        q, "embedding", nprobe = 1, k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf1.nonEmpty && ivf1.size <= 3)
    assert(ivf1.toSet.subsetOf((10L until 60L).toSet))
  }

  test("lshSignature truncates a vector longer than the declared dim " +
    "(zip_with would otherwise NULL-pad and zero every signature)") {
    import graft.operators.Similarity
    import spark.implicits._
    val long = (0 until 128).map(i => (math.sin(i * 13) * 5).toFloat)
    val short = long.take(64)
    val df = Seq((1L, long.toArray, short.toArray))
      .toDF("id", "long", "short")
    val r = df.select(
      Similarity.lshSignature(col("long"), 64, 16).as("a"),
      Similarity.lshSignature(col("short"), 64, 16).as("b"))
      .head()
    assert(!r.isNullAt(0) && r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) != 0L)
  }

  test("IVF assign: a zero-norm centroid never wins the argmin (NULL " +
    "is last)") {
    import graft.operators.Similarity
    import spark.implicits._
    def vec(id: Long): Array[Float] =
      (0 until 8).map(i => (((id * 31 + i * 17) % 13) - 6).toFloat).toArray
    val data = (10L until 60L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    // centroid 99 is the zero vector: its cosine to every row is NULL
    // (0/0); under raw struct-min NULL sorts smallest and would absorb
    // ALL vectors, starving the real inverted lists.
    val centroids = ((10L until 60L by 20L).map(i => (i, vec(i))) :+
      (99L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val q = (0L until 1L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // nprobe=3 probes exactly the three REAL centroids (the zero one
    // sorts last in the probe ranking, NULL sim). If the zero centroid
    // had absorbed the corpus, the probed lists would be empty; with
    // the fix this degenerates to exact search.
    val ivfAll = Similarity.IvfLifecycle.search(Similarity.IvfF32,
        Similarity.IvfLifecycle.assign(Similarity.IvfF32, data, "vec_id",
          "embedding", centroids, "vec_id", "embedding"),
        q, "embedding", nprobe = 3, k = 3)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(data, "vec_id", "embedding",
        q, "embedding", 3).collect().map(_.getLong(0)).toSeq
    assert(ivfAll == brute)
  }

  test("multimodal real decode: ImageIO round-trip reads dims/channels " +
    "for PNG gray/RGB/ARGB and JPEG gray/color; corrupt rows flagged") {
    import spark.implicits._
    // ids cover every (format, channels) cell of encodeTestImage's
    // analytic layout plus one corrupt row (7); exp() restates the
    // formula independently
    val ids = Seq(1L, 2L, 3L, 4L, 6L, 7L, 9L)
    val df = ids.map(i => (i, Multimodal.encodeTestImage(i)))
      .toDF("id", "payload")
    val out = Multimodal.withImageMeta(df, "payload")
      .select("id", "meta.format", "meta.width", "meta.height",
        "meta.channels", "meta.ok")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.get(2), r.get(3), r.get(4),
          r.getBoolean(5)))).toMap
    def exp(i: Long) = {
      val w = (8 + i % 9).toInt
      val h = (5 + (i * 3) % 11).toInt
      val (fmt, ch) = (i % 3) match {
        case 0 => (if (i % 2 == 0) "png" else "jpeg", 1)
        case 1 => (if (i % 2 == 0) "png" else "jpeg", 3)
        case _ => ("png", 4)
      }
      (fmt, w, h, ch, true)
    }
    ids.filterNot(_ % 7 == 0).foreach { i =>
      assert(out(i) == exp(i), s"id $i")
    }
    assert(out(7L)._5 == false && out(7L)._1 == null) // corrupt
  }

  test("multimodal webp decode: VP8/VP8L/VP8X header dims and alpha " +
    "(no JDK codec — public header spec, hand-built fixtures)") {
    def riff(fourcc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++
        Array.fill[Byte](4)(0) ++ "WEBP".getBytes("US-ASCII") ++
        fourcc.getBytes("US-ASCII") ++ Array.fill[Byte](4)(0) ++ payload
    // VP8 lossy: 3-byte tag, start code 9D 01 2A, w=320, h=240 (14-bit le)
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
      (320 & 0xff).toByte, (320 >> 8).toByte,
      (240 & 0xff).toByte, (240 >> 8).toByte))
    assert(Multimodal.decodeImage(vp8) == Some(("webp", 320, 240, Some(3))))
    // VP8L lossless: 0x2f, bit-packed w=100 h=50, alpha set
    val vp8l = riff("VP8L", Array[Byte](0x2f, 99, 0x40, 12, 0x10, 0))
    assert(Multimodal.decodeImage(vp8l) == Some(("webp", 100, 50, Some(4))))
    // VP8X extended: alpha flag 0x10, canvas 200x150 (24-bit le, -1)
    val vp8x = riff("VP8X", Array[Byte](0x10, 0, 0, 0,
      199.toByte, 0, 0, 149.toByte, 0, 0))
    assert(Multimodal.decodeImage(vp8x) == Some(("webp", 200, 150, Some(4))))
    // WAV RIFF is not claimed as webp; truncated webp is rejected
    assert(Multimodal.decodeImage(
      Multimodal.encodeTestAudio(1)).isEmpty)
    assert(Multimodal.decodeImage(vp8.take(20)).isEmpty)
  }

  test("multimodal audio decode: javax.sound WAV round-trip reads " +
    "rate/channels/bits/frames; corrupt rows flagged") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L)
    val df = ids.map(i => (i, Multimodal.encodeTestAudio(i)))
      .toDF("id", "payload")
    val out = Multimodal.withAudioMeta(df, "payload")
      .select("id", "meta.format", "meta.sample_rate", "meta.channels",
        "meta.bits", "meta.frames", "meta.ok")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.getBoolean(6)))).toMap
    ids.filterNot(_ % 7 == 0).foreach { i =>
      val fmt = ((i / 3) % 3) match {
        case 0 => "wav"
        case 1 => "aif"
        case _ => "au"
      }
      val exp = (fmt, 8000 << (i % 3).toInt, 1 + (i % 2).toInt, 16,
        50L + i % 20, true)
      assert(out(i) == exp, s"id $i")
    }
    assert(out(7L)._6 == false && out(7L)._1 == null)
  }

  test("paragraphDedup: first occurrence survives corpus-wide, cleaned " +
    "text rebuilt in position order, fully-duplicate doc goes empty") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\ngamma delta\nalpha beta"), // self-dup para
      (2L, "gamma delta\nepsilon zeta"),           // first para dups doc 1
      (3L, "alpha beta\ngamma delta"),             // fully duplicate
      (4L, "  \nunique one")                       // blank para ignored
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "alpha beta\ngamma delta")))
    assert(out(2L) == ((2L, 1L, "epsilon zeta")))
    assert(out(3L) == ((2L, 2L, "")))
    assert(out(4L) == ((1L, 0L, "unique one")))
  }

  test("image resize: aspect-fit integer formula, real AWT round-trip " +
    "preserves alpha, corrupt input yields NULL") {
    import graft.operators.Multimodal
    assert(Multimodal.fitDims(8, 5, 8) == ((8, 5)))     // fits: unchanged
    assert(Multimodal.fitDims(16, 10, 8) == ((8, 5)))   // wide
    assert(Multimodal.fitDims(8, 15, 8) == ((4, 8)))    // tall
    assert(Multimodal.fitDims(1000, 1, 8) == ((8, 1)))  // min-1 clamp
    // real round-trip: 16x10 RGB png → 8x5 png, 3 channels
    val rgb = Multimodal.encodeTestImage(4L) // 12x6 rgb png
    val resized = Multimodal.resizeImage(rgb, 8).get
    assert(Multimodal.decodeImage(resized) == Some(("png", 8, 4, Some(3))))
    // alpha survives: i=2 is 10x11 ARGB png → (7, 8), 4 channels
    val argb = Multimodal.encodeTestImage(2L)
    val r2 = Multimodal.resizeImage(argb, 8).get
    assert(Multimodal.decodeImage(r2) == Some(("png", 7, 8, Some(4))))
    assert(Multimodal.resizeImage(Array[Byte](1, 2, 3, 4), 8).isEmpty)
  }

  test("multimodal video decode: ISO-BMFF box walk reads brand, " +
    "duration, dims, track count; corrupt rows flagged") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 7L)
    val df = ids.map(i => (i, Multimodal.encodeTestVideo(i)))
      .toDF("id", "payload")
    val out = Multimodal.withVideoMeta(df, "payload")
      .select("id", "meta.format", "meta.duration_ms", "meta.width",
        "meta.height", "meta.n_tracks", "meta.ok")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.getBoolean(6)))).toMap
    ids.filterNot(_ % 7 == 0).foreach { i =>
      val exp = ("isom", 1000L + i * 100, 320 + (i % 4).toInt * 160,
        240 + (i % 4).toInt * 120, 1 + (i % 2).toInt, true)
      assert(out(i) == exp, s"id $i")
    }
    assert(out(7L)._6 == false && out(7L)._1 == null)
    // a 64-bit (version 1) mvhd parses too
    val v1mvhd = {
      def u32(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        (v & 0xff).toByte)
      def box(t: String, b: Array[Byte]) =
        u32(b.length + 8L) ++ t.getBytes("US-ASCII") ++ b
      box("ftyp", "mp42".getBytes("US-ASCII") ++ u32(0L) ++
        "mp42".getBytes("US-ASCII")) ++
        box("moov", box("mvhd",
          Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](16)(0) ++
            u32(90000L) ++ u32(0L) ++ u32(450000L) ++
            Array.fill[Byte](80)(0)))
    }
    val r = Multimodal.decodeVideo(v1mvhd)
    assert(r == Some(("mp42", Some(5000L), None, None, 0)))
  }

  test("mp4 frame sampling: sample table parsed, stride slicing exact, " +
    "multi-chunk stsc walked, corrupt rejected") {
    import graft.operators.Multimodal
    val v = Multimodal.encodeTestVideoSamples(1L) // n = 6 samples
    val all = Multimodal.mp4SampleFrames(v, 1).get
    assert(all.length == 6)
    all.zipWithIndex.foreach { case (f, k) =>
      assert(f.length == 8 && f.forall(_ == ((31 + k * 7) % 256).toByte),
        s"sample $k")
    }
    val every2 = Multimodal.mp4SampleFrames(v, 2).get
    assert(every2.length == 3)
    assert(every2.map(_.head) == all.map(_.head).zipWithIndex
      .filter(_._2 % 2 == 0).map(_._1))
    // multi-chunk: rebuild with 2 chunks (stsc entries (1,4),(2,2))
    def u32(x: Long) = Array[Byte](((x >> 24) & 0xff).toByte,
      ((x >> 16) & 0xff).toByte, ((x >> 8) & 0xff).toByte,
      (x & 0xff).toByte)
    def box(t: String, b: Array[Byte]) =
      u32(b.length + 8L) ++ t.getBytes("US-ASCII") ++ b
    val pay = Array.tabulate(6 * 8)(b => ((b / 8) * 11 % 256).toByte)
    def head(o1: Long, o2: Long): Array[Byte] = {
      val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(6) ++
        Array.tabulate(6)(_ => u32(8)).flatten)
      val stsc = box("stsc", u32(0) ++ u32(2) ++
        u32(1) ++ u32(4) ++ u32(1) ++ u32(2) ++ u32(2) ++ u32(1))
      val stco = box("stco", u32(0) ++ u32(2) ++ u32(o1) ++ u32(o2))
      box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0) ++
        "isom".getBytes("US-ASCII")) ++
        box("moov", box("trak", box("mdia", box("minf",
          box("stbl", stsz ++ stsc ++ stco)))))
    }
    val h0 = head(0, 0)
    val o1 = h0.length + 8L      // chunk 1: samples 0-3
    val o2 = o1 + 4 * 8          // chunk 2: samples 4-5
    val multi = head(o1, o2) ++ box("mdat", pay)
    val fs = Multimodal.mp4SampleFrames(multi, 1).get
    assert(fs.length == 6)
    fs.zipWithIndex.foreach { case (f, k) =>
      assert(f.forall(_ == (k * 11 % 256).toByte), s"chunked sample $k")
    }
    assert(Multimodal.mp4SampleFrames(
      Multimodal.encodeTestVideoSamples(0L), 1).isEmpty) // corrupt
    assert(Multimodal.mp4SampleFrames(
      Multimodal.encodeTestVideo(1L), 1).isEmpty) // no sample table
  }

  test("videoSampleSignature: invariant under re-mux (same encoded " +
    "samples, different chunk layout); changes when a sample changes") {
    import graft.operators.Multimodal
    def u32(x: Long) = Array[Byte](((x >> 24) & 0xff).toByte,
      ((x >> 16) & 0xff).toByte, ((x >> 8) & 0xff).toByte,
      (x & 0xff).toByte)
    def box(t: String, b: Array[Byte]) =
      u32(b.length + 8L) ++ t.getBytes("US-ASCII") ++ b
    // 6 samples of 8 bytes, sample k filled with k*11 — built in TWO
    // container layouts: one chunk vs two chunks (re-mux shape)
    val pay = Array.tabulate(6 * 8)(b => ((b / 8) * 11 % 256).toByte)
    def head(offs: Seq[Long], spc: Seq[(Long, Long)]): Array[Byte] = {
      val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(6) ++
        Array.tabulate(6)(_ => u32(8)).flatten)
      val stsc = box("stsc", u32(0) ++ u32(spc.size) ++
        spc.flatMap { case (first, n) => u32(first) ++ u32(n) ++ u32(1) }
          .toArray)
      val stco = box("stco", u32(0) ++ u32(offs.size) ++
        offs.flatMap(u32).toArray)
      box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0) ++
        "isom".getBytes("US-ASCII")) ++
        box("moov", box("trak", box("mdia", box("minf",
          box("stbl", stsz ++ stsc ++ stco)))))
    }
    def build(offs: Seq[Long], spc: Seq[(Long, Long)],
              p: Array[Byte]): Array[Byte] = {
      val h0 = head(offs.map(_ => 0L), spc)
      val base = h0.length + 8L
      head(offs.map(_ + base), spc) ++ box("mdat", p)
    }
    val oneChunk = build(Seq(0L), Seq(1L -> 6L), pay)
    val twoChunks = build(Seq(0L, 32L), Seq(1L -> 4L, 2L -> 2L), pay)
    val sig1 = Multimodal.videoSampleSignature(oneChunk)
    val sig2 = Multimodal.videoSampleSignature(twoChunks)
    assert(sig1.isDefined && sig1 == sig2,
      s"re-mux changed the signature: $sig1 vs $sig2")
    // a changed sample changes the signature (different energy profile)
    val edited = pay.clone()
    java.util.Arrays.fill(edited, 0, 8, 0xFF.toByte)
    assert(Multimodal.videoSampleSignature(
      build(Seq(0L), Seq(1L -> 6L), edited)) != sig1)
    // unparseable → None
    assert(Multimodal.videoSampleSignature(
      Multimodal.encodeTestVideoSamples(0L)).isEmpty)
  }

  test("mp4 sample-table counts are untrusted: a corrupt huge count is " +
    "rejected (None) instead of allocating or reading sibling bytes") {
    import graft.operators.Multimodal
    val good = Multimodal.encodeTestVideoSamples(1L)
    def indexOf(tag: String): Int = {
      val t = tag.getBytes("US-ASCII")
      good.indices.find(i => i + 4 <= good.length &&
        good.slice(i, i + 4).sameElements(t)).get
    }
    // per-sample stsz: count lives 12 bytes past the type tag
    // (ver/flags 4 + fixed 4 + count 4)
    val stszCount = indexOf("stsz") + 12
    val bad1 = good.clone()
    bad1(stszCount) = 0x40.toByte // count = 0x40xxxxxx ≈ 2^30 entries
    assert(Multimodal.mp4SampleFrames(bad1, 1).isEmpty)
    // fixed-size stsz with a huge count: would be a 2^30-entry fill
    val bad2 = good.clone()
    bad2(stszCount - 4 + 3) = 8 // fixed = 8
    bad2(stszCount) = 0x40.toByte
    assert(Multimodal.mp4SampleFrames(bad2, 1).isEmpty)
    // stco with a count overrunning its box
    val stcoCount = indexOf("stco") + 8 // ver/flags 4 + count 4
    val bad3 = good.clone()
    bad3(stcoCount + 2) = 0x7f.toByte
    assert(Multimodal.mp4SampleFrames(bad3, 1).isEmpty)
    // untouched payload still parses
    assert(Multimodal.mp4SampleFrames(good, 1).get.length == 6)
  }

  test("persisted IVF index: search equals the in-flight path, probes " +
    "prune to their partitions on disk") {
    import graft.operators.Similarity
    import Similarity.{IvfF32, IvfLifecycle, OnDisk}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toFile
    dir.deleteOnExit()
    val data = emb.filter(col("vec_id") =!= 1)
    val query = emb.filter(col("vec_id") === 1)
    IvfLifecycle.build(IvfF32, data, "vec_id", "embedding", cents,
      "cid", "cv", dir.getAbsolutePath)
    // inverted lists are physical partitions
    val listDirs = new java.io.File(dir, "lists").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(listDirs.nonEmpty && listDirs.forall(_.matches("cid=\\d+")))
    val viaIndex = IvfLifecycle.search(IvfF32, OnDisk(dir.getAbsolutePath),
      query, "embedding", nprobe = 2, k = 10)
    // probe filter reaches the scan as a partition filter (pruning)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"no partition pruning:\n$plan")
    val live = IvfLifecycle.search(IvfF32, IvfLifecycle.assign(IvfF32,
        data, "vec_id", "embedding", cents, "cid", "cv"),
      query, "embedding", nprobe = 2, k = 10)
    val a = viaIndex.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = live.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq, s"index=$a live=$b")
  }

  test("in-flight int8 IVF panel search equals the persisted batch " +
    "(and hence the per-query loop); N=0 panel is empty, not an error") {
    import graft.operators.Similarity
    import Similarity.{IvfInt8, IvfLifecycle, OnDisk}
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2).localCheckpoint()
    val qIds = Seq(1L, 2L, 3L)
    val data = emb.filter(!col("vec_id").isin(qIds: _*))
    val panel = emb.filter(col("vec_id").isin(qIds: _*))
    val dir = java.nio.file.Files.createTempDirectory("i8ivfifb").toFile
    dir.deleteOnExit()
    IvfLifecycle.build(IvfInt8, data, "vec_id", "embedding", cents,
      "cid", "cv", dir.getAbsolutePath)
    val lists = IvfLifecycle.assign(IvfInt8, data, "vec_id", "embedding",
      cents, "cid", "cv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val inflight = rows(IvfLifecycle.searchBatch(IvfInt8, lists, panel,
      "vec_id", "embedding", nprobe = 2, k = 10))
    val persisted = rows(IvfLifecycle.searchBatch(IvfInt8,
      OnDisk(dir.getAbsolutePath), panel, "vec_id", "embedding",
      nprobe = 2, k = 10))
    assert(inflight == persisted,
      s"inflight=$inflight persisted=$persisted")
    assert(inflight.nonEmpty)
    val none = IvfLifecycle.searchBatch(IvfInt8, lists,
      emb.filter(lit(false)), "vec_id", "embedding", nprobe = 2, k = 10)
    assert(none.count() == 0)
  }

  test("two-level panel probing: exhaustive coarse probing equals the " +
    "flat batch search; coarse=centroids is the identity") {
    import graft.operators.Similarity
    import Similarity.{IvfInt8, IvfLifecycle, OnDisk}
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2).localCheckpoint()
    val coarse = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 3, iters = 2).localCheckpoint()
      .select(col("cid").as("gid"), col("cv").as("gv"))
    val qIds = Seq(1L, 2L, 3L)
    val data = emb.filter(!col("vec_id").isin(qIds: _*))
    val panel = emb.filter(col("vec_id").isin(qIds: _*))
    val lists = IvfLifecycle.assign(IvfInt8, data, "vec_id", "embedding",
      cents, "cid", "cv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    def twoLevel(src: Similarity.IvfSource, nprobeCoarse: Int) =
      IvfLifecycle.searchBatch(IvfInt8, src, panel, "vec_id",
        "embedding", nprobe = 2, k = 10,
        nprobeCoarse = Some(nprobeCoarse))
    val flat = rows(IvfLifecycle.searchBatch(IvfInt8, lists, panel,
      "vec_id", "embedding", nprobe = 2, k = 10))
    assert(flat.nonEmpty)
    val withCoarse = IvfLifecycle.addCoarse(lists, coarse, "gid", "gv")
    // exhaustive coarse probing (nprobeCoarse = |coarse|): every cell
    // probed → level-2 ranks ALL centroids → probes ≡ flat's
    val exhaustive = rows(twoLevel(withCoarse, 3))
    assert(exhaustive == flat, s"exhaustive=$exhaustive flat=$flat")
    // coarse = the centroid set itself: each centroid is its own
    // nearest cell (cos = 1, min-id tie-break can't lose to a
    // distinct vector), so probing nprobeCoarse = nprobe cells IS
    // probing the top-nprobe centroids — identical to flat again
    val identity = rows(twoLevel(IvfLifecycle.addCoarse(lists, cents,
      "cid", "cv"), 2))
    assert(identity == flat, s"identity=$identity flat=$flat")
    // restrictive coarse probing stays a VALID per-query top-k over a
    // probe subset: per query at most k rows, each (q_id, id) dot
    // matching the flat form's dot for ids both returned
    val narrow = rows(twoLevel(withCoarse, 1))
    val flatDots = flat.map(t => (t._1, t._2) -> t._3).toMap
    narrow.foreach { case (q, id, dot) =>
      flatDots.get((q, id)).foreach(fd => assert(fd == dot,
        s"dot drift at ($q,$id): narrow $dot vs flat $fd"))
    }
    assert(narrow.groupBy(_._1).values.forall(_.size <= 10))

    // persisted two-level ≡ in-flight two-level over the same index
    // (the coarse level + centroid→cell assignment live IN the
    // artifact), and the probe-union literal still prunes list
    // partitions at the parquet scan
    val dir = java.nio.file.Files.createTempDirectory("i8tl").toFile
    dir.deleteOnExit()
    IvfLifecycle.build(IvfInt8, data, "vec_id", "embedding", cents,
      "cid", "cv", dir.getAbsolutePath)
    val viaIndex = twoLevel(IvfLifecycle.addCoarse(
      OnDisk(dir.getAbsolutePath), coarse, "gid", "gv"), 1)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"no partition pruning:\n$plan")
    assert(rows(viaIndex) == narrow,
      "persisted two-level drifted from in-flight")
  }

  test("persisted int8 IVF index: search equals in-flight, probes " +
    "prune on disk") {
    import graft.operators.Similarity
    import Similarity.{IvfInt8, IvfLifecycle, OnDisk}
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("i8ivfidx").toFile
    dir.deleteOnExit()
    val data = emb.filter(col("vec_id") =!= 1)
    val query = emb.filter(col("vec_id") === 1)
    IvfLifecycle.build(IvfInt8, data, "vec_id", "embedding", cents,
      "cid", "cv", dir.getAbsolutePath)
    val listDirs = new java.io.File(dir, "lists").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(listDirs.nonEmpty && listDirs.forall(_.matches("cid=\\d+")))
    val viaIndex = IvfLifecycle.search(IvfInt8,
      OnDisk(dir.getAbsolutePath), query, "embedding", nprobe = 2, k = 10)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"no partition pruning:\n$plan")
    val live = IvfLifecycle.search(IvfInt8, IvfLifecycle.assign(IvfInt8,
        data, "vec_id", "embedding", cents, "cid", "cv"),
      query, "embedding", nprobe = 2, k = 10)
    val a = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = live.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq, s"index=${a.toSeq} live=${b.toSeq}")
  }

  test("mp4 co64 + stts: 64-bit chunk offsets feed the index sampler, " +
    "time-based sampling picks the first sample per bucket") {
    import graft.operators.Multimodal
    val v = Multimodal.encodeTestVideoSamplesTimed(1L) // n = 6
    // co64 path: the index-stride sampler sees the same samples
    val all = Multimodal.mp4SampleFrames(v, 1).get
    assert(all.length == 6)
    all.zipWithIndex.foreach { case (f, k) =>
      assert(f.length == 8 && f.forall(_ == ((31 + k * 7) % 256).toByte),
        s"sample $k")
    }
    // start times (ms): 0,100,200,300,550,800 → 500 ms buckets pick
    // sample 0 (bucket 0) and sample 4 (bucket 1)
    val timed = Multimodal.mp4SampleFramesByTime(v, 500L).get
    assert(timed.length == 2)
    assert(timed(0).forall(_ == (31 % 256).toByte))
    assert(timed(1).forall(_ == ((31 + 4 * 7) % 256).toByte))
    // n = 8 (i=3): times reach 1300 ms → picks {0,4,6}
    val v8 = Multimodal.encodeTestVideoSamplesTimed(3L)
    assert(Multimodal.mp4SampleFramesByTime(v8, 500L).get.length == 3)
    // a 100 ms stride picks every sample (deltas are ≥100 ms)
    assert(Multimodal.mp4SampleFramesByTime(v, 100L).get.length == 6)
    // stco-only payloads carry no timing info → None for byTime, while
    // the index sampler still works
    val untimed = Multimodal.encodeTestVideoSamples(1L)
    assert(Multimodal.mp4SampleFramesByTime(untimed, 500L).isEmpty)
    assert(Multimodal.mp4SampleFrames(untimed, 1).nonEmpty)
    // corrupt payload rejected
    assert(Multimodal.mp4SampleFramesByTime(
      Multimodal.encodeTestVideoSamplesTimed(0L), 500L).isEmpty)
  }

  test("ISO-BMFF box walks are depth-capped: a nested-container bomb " +
    "degrades gracefully instead of StackOverflowError") {
    import graft.operators.Multimodal
    def u32(x: Long) = Array[Byte](((x >> 24) & 0xff).toByte,
      ((x >> 16) & 0xff).toByte, ((x >> 8) & 0xff).toByte,
      (x & 0xff).toByte)
    def box(t: String, b: Array[Byte]) =
      u32(b.length + 8L) ++ t.getBytes("US-ASCII") ++ b
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0) ++
      "isom".getBytes("US-ASCII"))
    // 200k nested 8-byte container boxes: ~1.6 MB payload whose
    // uncapped walk recurses once per box (StackOverflowError is an
    // Error the decoders' Exception handlers cannot catch)
    def bomb(container: String, depth: Int): Array[Byte] = {
      val tag = container.getBytes("US-ASCII")
      val nested = new Array[Byte](depth * 8)
      var i = 0
      while (i < depth) {
        val size = (depth - i) * 8L
        val o = i * 8
        nested(o) = ((size >> 24) & 0xff).toByte
        nested(o + 1) = ((size >> 16) & 0xff).toByte
        nested(o + 2) = ((size >> 8) & 0xff).toByte
        nested(o + 3) = (size & 0xff).toByte
        System.arraycopy(tag, 0, nested, o + 4, 4)
        i += 1
      }
      ftyp ++ nested
    }
    // both walks must return (not throw); metadata above the cap parses
    val r = Multimodal.decodeVideo(bomb("trak", 200000))
    assert(r.exists(_._1 == "isom"))
    assert(Multimodal.mp4SampleFrames(bomb("stbl", 200000), 1).isEmpty)
  }

  test("a box too short for its own header fields is skipped rather " +
    "than read into the sibling box's in-bounds bytes") {
    import graft.operators.Multimodal
    def u32(x: Long) = Array[Byte](((x >> 24) & 0xff).toByte,
      ((x >> 16) & 0xff).toByte, ((x >> 8) & 0xff).toByte,
      (x & 0xff).toByte)
    def box(t: String, b: Array[Byte]) =
      u32(b.length + 8L) ++ t.getBytes("US-ASCII") ++ b
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0) ++
      "isom".getBytes("US-ASCII"))
    // stsz declared size 8 — its fixed/count "fields" would be the
    // following stco box's size/type bytes if read unguarded
    val stsz8 = u32(8) ++ "stsz".getBytes("US-ASCII")
    val stco = box("stco", u32(0) ++ u32(1) ++ u32(9999))
    val stsc = box("stsc", u32(0) ++ u32(1) ++ u32(1) ++ u32(1) ++ u32(1))
    val v = ftyp ++ box("moov", box("trak", box("mdia", box("minf",
      box("stbl", stsz8 ++ stco ++ stsc)))))
    assert(Multimodal.mp4SampleFrames(v, 1).isEmpty)
    // an 8-byte mvhd closing the payload: the unguarded version-byte
    // read lands past the array and kills the whole decode (None);
    // guarded, the box is skipped and the brand still parses
    val v2 = ftyp ++ box("moov", u32(8) ++ "mvhd".getBytes("US-ASCII"))
    assert(Multimodal.decodeVideo(v2)
      .contains(("isom", None, None, None, 0)))
  }

  test("multimodal stub decode round-trips header + flags corrupt rows") {
    import spark.implicits._
    val good = Multimodal.encodeImageStub("jpeg", 640, 480, 10)
    val bad = Array[Byte](9, 9)
    val df = Seq((1L, good), (2L, bad)).toDF("id", "payload")
    val out = Multimodal.withImageMeta(df, "payload")
      .select("id", "meta.format", "meta.width", "meta.height", "meta.ok")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.get(2), r.get(3), r.getBoolean(4))).toMap
    assert(out(1L) == (("jpeg", 640, 480, true)))
    assert(out(2L)._4 == false && out(2L)._1 == null)
  }

  test("media attach: an input already carrying the output column " +
    "fails loudly, naming the column") {
    import spark.implicits._
    val df = Seq((1L, Multimodal.encodeImageStub("png", 4, 4, 1), 7L))
      .toDF("id", "payload", "meta")
    val e = intercept[IllegalArgumentException](
      Multimodal.withImageMeta(df, "payload"))
    assert(e.getMessage.contains("'meta'"), e.getMessage)
  }

  test("device enrichment: rate, mark count, skip-unmarked " +
    "(devices.c:238-285)") {
    val flows = flowDf(
      Seq("dev_ip", "dev_id", "input_snmp", "output_snmp", "in_bytes"),
      Seq(
        Seq(100L, 0L, 10L, 1L, 1L),  // dev A, matches 1 mark rule
        Seq(100L, 0L, 2L, 1L, 2L),   // dev A, no mark → dropped (skip)
        Seq(200L, 0L, 2L, 2L, 4L),   // dev B (by ip), rate 1000
        Seq(999L, 9L, 2L, 2L, 8L)))  // unknown device → rate 1
    val env = FilterEnv.flow(spark)
    val devices = Seq(
      Devices.Device(Some(100L), Some(0L), samplingRate = 10L,
        markRules = Seq("src ifidx 10 or 11", "dst ifidx 10 or 11"),
        skipUnmarked = true),
      Devices.Device(Some(200L), None, samplingRate = 1000L))
    val out = Devices.enrich(flows, devices, env)
      .select("in_bytes", "sampling_rate", "dev_mark")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)))).toSet
    assert(out == Set(
      (1L, 10L, Some(1L)),     // one rule matched
      (4L, 1000L, Some(0L)),   // dev B: no rules → mark 0, kept
      (8L, 1L, None)))         // unknown: default rate, null mark
  }

  test("classification: class table + labeling (classification.c)") {
    val flows = flowDf(Seq("proto", "port", "in_bytes"),
      Seq(Seq(6L, 443L, 800L), Seq(6L, 443L, 100L),
        Seq(17L, 53L, 90L), Seq(6L, 22L, 10L)))
    val nameCol = concat(col("proto").cast("string"), lit(":"),
      col("port").cast("string"))
    val classes = Classification.classTable(flows,
      Classification.Conf(Seq("proto", "port"), "octets", 90.0, nameCol),
      col("in_bytes"))
    val names = classes.select("class_name").collect()
      .map(_.getString(0)).sorted.toSeq
    // total 1000, threshold 900: (6,443)=900 enters (cum-before 0 < 900);
    // (17,53) sits exactly AT the threshold (cum-before 900) → excluded,
    // matching the reference's stop-at-crossing cut
    assert(names == Seq("6:443"))
    val labeled = Classification.label(flows, classes, Seq("proto", "port"))
      .groupBy("class0").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(labeled(Some("6:443")) == 2L)
    assert(labeled(None) == 2L) // 17:53 and 6:22 flows unclassified
  }

  test("classification FS db: user renames survive refresh " +
    "(classification.c:459-544 update_clsf_dir)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_clsf").toString
    val flows = flowDf(Seq("proto", "port", "in_bytes"),
      Seq(Seq(6L, 443L, 800L), Seq(17L, 53L, 150L), Seq(6L, 22L, 50L)))
    val nameCol = concat(col("proto").cast("string"), lit(":"),
      col("port").cast("string"))
    // threshold 900 of total 1000: keeps (6,443)=800 and (17,53)=150,
    // cuts (6,22) whose cum-before is 950
    val conf = Classification.Conf(Seq("proto", "port"), "octets",
      90.0, nameCol)
    val classes = Classification.classTable(flows, conf, col("in_bytes"))

    // first refresh: name + stats created for both top classes
    val eff1 = Classification.refreshFs(dir, "mo1", 0, classes, conf)
    val nameF = Paths.get(dir, "mo1", "0", "6-443", "name")
    val statsF = Paths.get(dir, "mo1", "0", "6-443", "stats")
    assert(Files.readString(nameF) == "6:443")
    assert(Files.readString(statsF) == "800 of 950, 84.21052631578948%\n")
    assert(eff1.select("class_name").collect().map(_.getString(0)).toSet
      == Set("6:443", "17:53"))

    // the user renames the class; a later refresh keeps the rename and
    // rewrites only stats
    Files.writeString(nameF, "web-tls")
    val eff2 = Classification.refreshFs(dir, "mo1", 0, classes, conf)
    assert(Files.readString(nameF) == "web-tls")
    assert(eff2.select("class_name").collect().map(_.getString(0)).toSet
      == Set("web-tls", "17:53"))
    // labeling uses the effective names
    val labeled = Classification.label(flows, eff2, Seq("proto", "port"))
      .groupBy("class0").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(labeled(Some("web-tls")) == 1L)
  }

  test("semanticDedup: intra-cluster eps-prune keeps smallest id; " +
    "cross-cluster twins survive (SemDeDup confinement)") {
    import graft.operators.Similarity
    import spark.implicits._
    // two well-separated directions in R^4; ids chosen so the k-means
    // md5 seeding puts both directions among the k=2 seeds. Within
    // direction +x: ids 1,2,3 are near-identical (cos ~ 1) → keep 1.
    // Direction +y: ids 10, 11 identical → keep 10. Cross-cluster
    // pairs have cos 0 < eps → never compared for pruning anyway.
    val rows = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.99f, 0.01f, 0f, 0f),
      3L -> Array(0.98f, 0.02f, 0f, 0f),
      10L -> Array(0f, 1f, 0f, 0f),
      11L -> Array(0f, 1f, 0f, 0f))
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, minSim = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(kept.map(_._1).sorted.toSeq == Seq(1L, 10L),
      s"kept ${kept.toSeq}")
    // the two survivors sit in DIFFERENT clusters
    assert(kept.map(_._2).distinct.length == 2)
    // dropping the threshold below the cross-direction cosine (0)
    // still cannot merge across clusters: with eps = -1 every
    // intra-cluster pair prunes, leaving exactly one id per cluster
    val perCluster = Similarity.semanticDedup(df, "vec_id",
        "embedding", k = 2, iters = 2, minSim = -1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(perCluster.length == 2 &&
      perCluster.map(_._2).distinct.length == 2,
      s"got ${perCluster.toSeq}")
  }

  test("semanticDedup: maxCompare skew cap is exact on a pathological " +
    "one-blob cluster and caps the pair join's left side") {
    import graft.operators.Similarity
    import spark.implicits._
    // all 64 vectors IDENTICAL (the skew case the cap exists for:
    // every centroid ties, assignment tie-breaks to the smallest cid,
    // so ONE cluster holds everything no matter what k says)
    val rows = (1L to 64L).map(i => i -> Array(1f, 0f, 0f, 0f))
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.semanticDedup(df, "vec_id", "embedding",
        k = 4, iters = 2, minSim = 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    val capped = Similarity.semanticDedup(df, "vec_id", "embedding",
        k = 4, iters = 2, minSim = 0.9, maxCompare = 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    // one blob → everything within eps of the smallest id, which is
    // always a representative: capped == exact == keep id 1 only
    assert(exact == Seq(1L), s"exact kept $exact")
    assert(capped == exact)
    // mixed case: two far-apart eps-neighborhoods that the trainer may
    // place in ONE cluster (k=1 forces it); both survive under a cap
    // that still covers the second neighborhood's representative
    val two = (Seq(1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.999f, 0.001f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(0.001f, 0.999f, 0f, 0f))).toDF("vec_id", "embedding")
    val keptTwo = Similarity.semanticDedup(two, "vec_id", "embedding",
        k = 1, iters = 1, minSim = 0.9, maxCompare = 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptTwo == Seq(1L, 3L), s"kept $keptTwo")
  }

  test("semanticDedup: zero-norm embeddings always survive (NULL cosine " +
    "is never a duplicate verdict, either side)") {
    import graft.operators.Similarity
    import spark.implicits._
    val rows = Seq(
      1L -> Array(0f, 0f, 0f, 0f), // zero vector, smallest id
      2L -> Array(0f, 0f, 0f, 0f), // identical zero vector
      3L -> Array(1f, 0f, 0f, 0f),
      4L -> Array(0.99f, 0.01f, 0f, 0f))
    val df = rows.toDF("vec_id", "embedding")
    // k=1: ONE cluster, so every pair is compared — the verdicts below
    // are pure cosine semantics, independent of seeding
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
        k = 1, iters = 1, minSim = 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    // both zero vectors kept (cosine(0,0) undefined → not duplicates,
    // and zero id 1 never drops anything); 4 pruned as 3's duplicate
    assert(kept == Seq(1L, 2L, 3L), s"kept $kept")
  }

  test("int8TopKBatch: integer ranking recovers the float-cosine top-1 " +
    "and top-10; zero-norm never ranks") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val data = emb.filter(col("vec_id") =!= 1)
    val queryF = emb.filter(col("vec_id") === 1)
    val exact = Similarity.topK(data, "vec_id", "embedding",
        queryF, "embedding", 10)
      .collect().map(_.getLong(0)).toSeq
    val qc = Similarity.quantizeInt8(data, "vec_id", "embedding")
    val qq = Similarity.quantizeInt8(queryF, "vec_id", "embedding")
      .withColumnRenamed("vec_id", "q_id")
    def ranked(corpus: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q", qq, "q_id", k)
        .orderBy(col("dot").desc, col("vec_id").asc)
        .collect().map(_.getLong(1)).toSeq
    val quant = ranked(qc, 10)
    assert(quant.head == exact.head,
      s"top-1 drifted: float ${exact.head} vs int8 ${quant.head}")
    val overlap = quant.toSet.intersect(exact.toSet).size
    assert(overlap >= 8, s"top-10 overlap only $overlap: " +
      s"float $exact vs int8 $quant")
    // zero-norm rows quantize to NULL and never rank
    val withZero = data.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((999999L, Array.fill(64)(0f)))
        .toDF("vec_id", "embedding"))
    val qz = Similarity.quantizeInt8(withZero, "vec_id", "embedding")
    assert(!ranked(qz, 1000).contains(999999L))
  }

  test("int8TopKBatch: two vectors under one q_id fail the plan; one " +
    "vector passes the guard") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val corpus = Similarity.quantizeInt8(
      emb.filter(col("vec_id") > 2), "vec_id", "embedding")
    val twoQueries = Similarity.quantizeInt8(
      emb.filter(col("vec_id") <= 2), "vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
        twoQueries.withColumn("q_id", lit(0L)), "q_id", 5).collect()
    }
    assert(ex.getMessage.contains("more than one vector") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("more than one vector")),
      s"wrong failure: $ex")
    // the guard is transparent for a well-formed single query
    val one = Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
      Similarity.quantizeInt8(emb.filter(col("vec_id") === 1),
        "vec_id", "embedding").withColumn("q_id", lit(0L)),
      "q_id", 5).collect()
    assert(one.length == 5)
  }

  test("int8TopKBatch: a singleton panel equals its slice of a 3-query " +
    "panel") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val corpus = Similarity.quantizeInt8(
      emb.filter(col("vec_id") > 3), "vec_id", "embedding")
    def panel(ids: Long*) = Similarity.quantizeInt8(
        emb.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding")
      .withColumnRenamed("vec_id", "q_id")
    val single = Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
        panel(1L), "q_id", 5)
      .orderBy(col("dot").desc, col("vec_id").asc)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(single.length == 5)
    val batch = Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
        panel(1L, 2L, 3L), "q_id", 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val forQ1 = batch.filter(_._1 == 1L)
      .sortBy(t => (-t._3, t._2)).map(t => (t._2, t._3)).toSeq
    assert(forQ1 == single, s"batch-for-q1 $forQ1 vs single $single")
    assert(batch.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
    assert(batch.groupBy(_._1).values.forall(_.length == 5))
    // a panel with two vectors under ONE q_id fails the plan instead
    // of silently mixing them into a garbage ranking
    val dup = panel(1L).unionByName(panel(2L).withColumn("q_id", lit(1L)))
    val ex = intercept[Exception] {
      Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
        dup, "q_id", 5).collect()
    }
    assert(ex.getMessage.contains("more than one vector") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("more than one vector")), s"wrong: $ex")
  }

  test("BoundedTopK.smallestK: exact k smallest per group, " +
    "duplicate-preserving, merge across partitions") {
    import graft.functions.BoundedTopK
    import spark.implicits._
    val df = Seq((1L, 5L), (1L, 3L), (1L, 9L), (1L, 3L), (1L, 1L),
        (2L, 7L), (3L, 4L), (3L, 2L))
      .toDF("g", "v").repartition(4)
    val got = df.groupBy(col("g"))
      .agg(BoundedTopK.smallestK(3)(col("v")).as("ks"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .sortBy(_._1).toList
    assert(got == List((1L, List(1L, 3L, 3L)), (2L, List(7L)),
      (3L, List(2L, 4L))))
  }

  test("imageAHash: hand-computed half-dark/half-bright PNG; duplicates " +
    "hash identically; corrupt payloads are NULL") {
    import graft.operators.Multimodal
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 8×8 with grid 8 → one pixel per cell; right half white: those
    // 32 cells beat the mean → byte 0xF0 per row → 0xF0F0F0F0F0F0F0F0
    val split = png(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF)
    assert(Multimodal.imageAHash(split) ==
      Some(0xF0F0F0F0F0F0F0F0L))
    // uniform image: no cell exceeds the mean (strict >) → hash 0
    assert(Multimodal.imageAHash(png(8, 8)((_, _) => 0x808080)) ==
      Some(0L))
    // non-multiple dims still hash (cells of unequal population);
    // determinism across encodes of the same pixels
    val odd = png(11, 7)((x, y) => if ((x + y) % 3 == 0) 0xFFFFFF else 0)
    assert(Multimodal.imageAHash(odd).isDefined)
    assert(Multimodal.imageAHash(odd) == Multimodal.imageAHash(
      png(11, 7)((x, y) => if ((x + y) % 3 == 0) 0xFFFFFF else 0)))
    // junk bytes → None
    assert(Multimodal.imageAHash(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("audioFingerprint: hand-computed quiet/loud WAV; duplicate clips " +
    "pair at distance 0 through hammingPairs; corrupt payloads are NULL") {
    import graft.operators.{Dedup, Multimodal}
    import javax.sound.sampled._
    def wav(samples: Array[Short], bigEndian: Boolean = false,
            typ: AudioFileFormat.Type = AudioFileFormat.Type.WAVE)
        : Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, 1, true, bigEndian)
      val raw = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        if (bigEndian) { raw(2 * i) = (s >> 8).toByte
          raw(2 * i + 1) = s.toByte }
        else { raw(2 * i) = s.toByte; raw(2 * i + 1) = (s >> 8).toByte }
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, typ, bos)
      bos.toByteArray
    }
    // 128 samples, one per half-bucket: first half silent, second half
    // loud → buckets 32..63 beat the mean → hex ffffffff00000000
    val clip = Array.tabulate[Short](128)(s =>
      if (s < 64) 0 else 1000)
    assert(Multimodal.audioFingerprint(wav(clip)) ==
      Some(0xFFFFFFFF00000000L))
    // the same SAMPLES through a different container/byte order must
    // fingerprint identically — the hash is of the sound, not the file
    assert(Multimodal.audioFingerprint(
      wav(clip, bigEndian = true, AudioFileFormat.Type.AIFF)) ==
      Some(0xFFFFFFFF00000000L))
    // negative amplitudes count as energy: -1000 in the loud half
    val neg = Array.tabulate[Short](128)(s =>
      if (s < 64) 0 else -1000)
    assert(Multimodal.audioFingerprint(wav(neg)) ==
      Some(0xFFFFFFFF00000000L))
    // junk → None
    assert(Multimodal.audioFingerprint(Array[Byte](1, 2, 3, 4)).isEmpty)

    // duplicate clips pair at dist 0 via the shared banded join
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val other = Array.tabulate[Short](128)(s =>
      if (s % 2 == 0) 900 else 0)
    val rows = Seq(
      Row(1L, wav(clip)), Row(2L, wav(clip)), Row(3L, wav(other)))
    val df = spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("id", LongType, false),
        StructField("payload", BinaryType, true))))
    val pairs = Dedup.hammingPairs(
        Multimodal.withAudioFingerprint(df, "payload"), "id", "afp",
        bits = 64, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pairs == Set((1L, 2L, 0L)), s"pairs $pairs")
  }

  test("hammingPairs equals brute force over random 64-bit signatures " +
    "(negatives included); NULL signatures never pair") {
    import graft.operators.Dedup
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(7L)
    val sigs: Seq[(Long, java.lang.Long)] = (1L to 40L).map { i =>
      // cluster signatures around a few anchors so distances spread
      val anchor = Seq(0L, -1L, 0x0123456789ABCDEFL)(rnd.nextInt(3))
      val flips = rnd.nextInt(12)
      val s = (0 until flips).foldLeft(anchor)((a, _) =>
        a ^ (1L << rnd.nextInt(64)))
      (i, if (i % 13 == 0) null else java.lang.Long.valueOf(s))
    }
    val df = spark.createDataFrame(
      sigs.map { case (i, s) => Row(i, s) }.asJava,
      StructType(Seq(StructField("id", LongType, false),
        StructField("sig", LongType, true))))
    for (maxDist <- Seq(0, 3, 9)) {
      val got = Dedup.hammingPairs(df, "id", "sig", 64, maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = (for {
        (a, sa) <- sigs if sa != null
        (b, sb) <- sigs if sb != null && a < b
        d = java.lang.Long.bitCount(sa ^ sb)
        if d <= maxDist
      } yield (a, b, d.toLong)).toSet
      assert(got == want, s"maxDist=$maxDist")
    }
  }

  test("hammingPairs maxBucket skew guard: hot-band pairs drop, pairs " +
    "agreeing on a cold band survive") {
    import graft.operators.Dedup
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // 2 bands over 16 bits (maxDist=1): low byte = band 0, high byte =
    // band 1. 30 "blank" signatures share band0=0 AND band1=0 except
    // for one bit — a hot bucket on both bands for most. Two outlier
    // signatures agree on a UNIQUE band-1 value (0x7f00) and differ in
    // one band-0 bit → their pair rides the cold band and must
    // survive any cap the blanks trip.
    val blanks = (1L to 30L).map(i => (i, (i % 2) << 1)) // 0 or 2
    val out = Seq(100L -> 0x7f00L, 101L -> 0x7f01L)
    val df = spark.createDataFrame(
      (blanks ++ out).map { case (i, s) => Row(i, s) }.asJava,
      StructType(Seq(StructField("id", LongType, false),
        StructField("sig", LongType, true))))
    val exact = Dedup.hammingPairs(df, "id", "sig", 16, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.hammingPairs(df, "id", "sig", 16, 1,
        maxBucket = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the outlier pair agrees on band 1 value 0x7f (population 2 ≤ 5)
    assert(capped.contains((100L, 101L)))
    assert(exact.contains((100L, 101L)))
    // blank-vs-blank pairs ran only through hot buckets → dropped
    assert(!capped.exists { case (a, b) => a <= 30 && b <= 30 })
    assert(exact.exists { case (a, b) => a <= 30 && b <= 30 })
    // the cap never ADDS pairs
    assert(capped.subsetOf(exact))
  }

  test("int8 quantization: known values, cosine ranking preserved") {
    import graft.operators.Similarity
    import spark.implicits._
    // (3,4): norm 5 → floor(3·127/5+0.5)=76, floor(4·127/5+0.5)=102
    val df = Seq((1L, Array(3f, 4f)), (2L, Array(0f, -2f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(q == Seq((1L, 1, 76L), (1L, 2, 102L),
      (2L, 1, 0L), (2L, 2, -127L)))
  }
}
