package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Pins the integer-exact quantizer: the sorted output of every public
  * k-means / PQ entry over `sf0.001/embeddings.parquet` on a grid of
  * m ∈ {1, 2, 4, 8}, iters ∈ {0, 1, 2} and nprobe ∈ {1, 2, 4}, raw and
  * residual IVF-PQ, hashed per entry. The q89/q90/q110 oracles check
  * the same code at one configuration each; this is the grid. Also
  * holds the quantizer's input contracts: a malformed vector and an
  * out-of-range parameter fail loudly instead of skewing or emptying
  * the result. */
class QuantizerSpec extends SparkTest {

  private val Dim = 64
  private val Iters = Seq(0, 1, 2)
  private val Ms = Seq(1, 2, 4, 8)

  private def emb = spark.read.parquet(
    "/root/testdata/sf0.001/embeddings.parquet")

  /** A row as one line; arrays render element by element. */
  private def render(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  /** The output of one configuration: its label, then its rows sorted. */
  private def lines(label: String, df: DataFrame): Seq[String] = {
    val rows = df.collect().map(render).sorted.toSeq
    assert(rows.nonEmpty, s"$label: empty output")
    label +: rows
  }

  private def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Entry name -> the lines of every grid configuration it runs. */
  private def grid(): Map[String, Seq[String]] = {
    val e = emb
    val kmeans = Iters.flatMap { it =>
      lines(s"it$it", Similarity.kmeansQuantized(e, "vec_id",
        "embedding", k = 8, iters = it))
    }
    val kmeansD = Iters.flatMap { it =>
      lines(s"it$it", Similarity.kmeansCentroids(e, "vec_id",
        "embedding", k = 8, iters = it))
    }
    val dedup = Iters.flatMap { it =>
      lines(s"it$it", Similarity.semanticDedup(e, "vec_id", "embedding",
        k = 8, iters = it, minSim = 0.2))
    }
    val pq = for (m <- Ms; it <- Iters) yield {
      val book = Similarity.pqTrainQuantized(e, "vec_id", "embedding",
        dim = Dim, m = m, k = 16, iters = it).localCheckpoint()
      (lines(s"m$m/it$it", book),
        lines(s"m$m/it$it", Similarity.pqEncode(e, "vec_id", "embedding",
          book, dim = Dim, m = m)),
        lines(s"m$m/it$it", Similarity.pqSearchADC(e, "vec_id",
          "embedding", book, queryId = 0L, dim = Dim, m = m, topK = 20)))
    }
    def ivf(residual: Boolean) =
      for (m <- Ms; it <- Iters; np <- Seq(1, 2, 4)) yield {
        val search =
          if (residual) Similarity.ivfPqSearchResidual _
          else Similarity.ivfPqSearch _
        lines(s"m$m/it$it/np$np", search(e, "vec_id", "embedding", 8,
          it, m, 16, it, np, 0L, Dim, 20, 1000000L))
      }
    Map(
      "kmeansQuantized" -> kmeans,
      "kmeansCentroids" -> kmeansD,
      "semanticDedup" -> dedup,
      "pqTrainQuantized" -> pq.flatMap(_._1),
      "pqEncode" -> pq.flatMap(_._2),
      "pqSearchADC" -> pq.flatMap(_._3),
      "ivfPqSearch" -> ivf(residual = false).flatten,
      "ivfPqSearchResidual" -> ivf(residual = true).flatten)
  }

  test("quantizer: every k-means/PQ entry over the sf0.001 embeddings " +
    "matches its pinned digest across the m/iters/nprobe grid") {
    val got = grid().map { case (k, ls) => k -> sha256(ls) }
    val wrong = QuantizerSpec.Digests.keys.toSeq.sorted
      .filter(k => got(k) != QuantizerSpec.Digests(k))
    assert(got.keySet == QuantizerSpec.Digests.keySet)
    assert(wrong.isEmpty, "digest mismatch: " +
      wrong.map(k => s"$k=${got(k)}").mkString(", "))
  }

  /** Ten 3-dim vectors in two clusters (near 1 and near -1), plus
    * `extra`. */
  private def vectors(extra: (Long, Seq[java.lang.Double])*): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val good = (1L to 10L).map { i =>
      val c = if (i <= 5) 1.0 else -1.0
      i -> Seq(c + i * 0.01, c, c).map(Double.box)
    }
    spark.createDataFrame((good ++ extra).map { case (i, v) =>
        Row(i, v) }.asJava,
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(DoubleType, true), true))))
  }

  private def failsNaming(id: Long)(run: => Any): Unit = {
    val ex = intercept[Exception](run)
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(s"id $id") &&
      m.contains("malformed vector")), s"wrong failure: $ex")
  }

  test("quantizer: a short vector or a NULL element fails the plan " +
    "naming its id instead of joining cluster 0") {
    val short = 11L -> Seq[java.lang.Double](0.9, 1.0)
    val nullElem = 12L -> Seq[java.lang.Double](-0.9, null, -1.0)
    val book = Similarity.pqTrainQuantized(vectors(), "vec_id",
      "embedding", dim = 3, m = 1, k = 2, iters = 2).localCheckpoint()
    for ((id, v) <- Seq(short, nullElem)) {
      failsNaming(id)(Similarity.kmeansQuantized(vectors(id -> v),
        "vec_id", "embedding", k = 2, iters = 2).collect())
      failsNaming(id)(Similarity.pqEncode(vectors(id -> v), "vec_id",
        "embedding", book, dim = 3, m = 1).collect())
    }
    // the guard is transparent for well-formed input: the two clusters
    // keep their own centroids, each point encodes to its own cluster
    val cents = Similarity.kmeansCentroids(vectors(), "vec_id",
        "embedding", k = 2, iters = 2)
      .collect().map(_.getSeq[Double](1).head.signum).toSet
    assert(cents == Set(1, -1))
    val codes = Similarity.pqEncode(vectors(), "vec_id", "embedding", book,
        dim = 3, m = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).head).toMap
    assert(codes.size == 10 &&
      (1L to 5L).map(codes).distinct.size == 1 &&
      (6L to 10L).map(codes).distinct.size == 1 &&
      codes(1L) != codes(6L))
  }

  test("quantizer: nprobe, topK and the cluster counts below 1 throw " +
    "IllegalArgumentException naming the parameter") {
    val e = emb
    def rejects(param: String)(run: => Any): Unit = {
      val ex = intercept[IllegalArgumentException](run)
      assert(ex.getMessage.contains(s"$param="), s"wrong failure: $ex")
    }
    for (search <- Seq(Similarity.ivfPqSearch _,
        Similarity.ivfPqSearchResidual _)) {
      rejects("nprobe")(search(e, "vec_id", "embedding", 4, 1, 8, 8, 1,
        0, 0L, Dim, 5, 1000000L).collect())
      rejects("topK")(search(e, "vec_id", "embedding", 4, 1, 8, 8, 1,
        2, 0L, Dim, 0, 1000000L).collect())
      rejects("coarseK")(search(e, "vec_id", "embedding", 0, 1, 8, 8, 1,
        2, 0L, Dim, 5, 1000000L).collect())
      rejects("pqK")(search(e, "vec_id", "embedding", 4, 1, 8, 0, 1,
        2, 0L, Dim, 5, 1000000L).collect())
    }
    rejects("k")(Similarity.kmeansQuantized(e, "vec_id", "embedding",
      k = 0, iters = 1).collect())
    rejects("k")(Similarity.pqTrainQuantized(e, "vec_id", "embedding",
      dim = Dim, m = 8, k = 0, iters = 1).collect())
    val book = Similarity.pqTrainQuantized(e, "vec_id", "embedding",
      dim = Dim, m = 8, k = 4, iters = 0)
    rejects("topK")(Similarity.pqSearchADC(e, "vec_id", "embedding", book,
      queryId = 0L, dim = Dim, m = 8, topK = 0).collect())
  }
}

object QuantizerSpec {
  /** SHA-256 of each entry's grid lines, recorded from the two-loop
    * implementation this path replaced. */
  val Digests: Map[String, String] = Map(
    "kmeansQuantized" ->
      "22a182af4d4228d45225c42975b41a056268e802e693907de1bac463c36e5ded",
    "kmeansCentroids" ->
      "38011eb06e946a742f6efa9766fca819590fc6c2104c13460ac630dfb154f9e9",
    "semanticDedup" ->
      "31d1aac4870e183aaf9b22aa21847a7f7c4bab7bf9e6e192b9f969f44b644efd",
    "pqTrainQuantized" ->
      "220df33cef2a24b62a0b083604a45db820219675cc8d898f6dfa6ad0e04e638d",
    "pqEncode" ->
      "febd1e19163cf806c014db7059e6056226ac832e9f939e10ca293cbba65fa572",
    "pqSearchADC" ->
      "eeef9f89b7b7fc0de7a28dfe784b4528890790b7f6c9a695fe106d66e1805e00",
    "ivfPqSearch" ->
      "adf8765734ab58d59b41727208d3c9165157eb20b111f288e8d54dc80fb40c4d",
    "ivfPqSearchResidual" ->
      "a5de8a070241649101ddc6112dcfb0636d9bcbc02621550d7408728711945a42")
}
