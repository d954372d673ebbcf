package graft

import graft.operators.Similarity
import graft.operators.Similarity.{InFlight, IvfF32, IvfForm, IvfInt8,
  IvfLifecycle, IvfSource, OnDisk}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF lifecycle matrix: ONE parameterized suite runs build /
  * append / compact / search / searchBatch / streaming ingest against
  * BOTH storage forms, and the search contracts against both list
  * sources (in-flight, on-disk), so no cell of the {f32, int8} ×
  * {in-flight, on-disk} matrix can drift from the others. */
class IvfLifecycleSpec extends SparkTest {

  private def emb = spark.read.parquet(
    "/root/testdata/sf0.001/embeddings.parquet")

  private lazy val cents = Similarity.kmeansCentroids(
    emb, "vec_id", "embedding", k = 4, iters = 2).localCheckpoint()

  /** A 2-cell coarse level over [[cents]]. */
  private lazy val coarse = Similarity.kmeansCentroids(
      emb, "vec_id", "embedding", k = 2, iters = 2)
    .select(col("cid").as("gid"), col("cv").as("gv")).localCheckpoint()

  private def tmp(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  /** Collected (id, score) rows — score stays `Any` so one comparator
    * serves f32 (Double sim) and int8 (Long dot). */
  private def search(form: IvfForm, src: IvfSource, query: DataFrame)
      : Seq[(Long, Any)] =
    IvfLifecycle.search(form, src, query, "embedding", nprobe = 2,
        k = 10)
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq

  private def search(form: IvfForm, dir: java.io.File,
                     query: DataFrame): Seq[(Long, Any)] =
    search(form, OnDisk(dir.getAbsolutePath), query)

  /** Collected (q_id, id, score) rows, sorted by (q_id, id). */
  private def panelRows(df: DataFrame): Seq[(Long, Long, Any)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def filesPerPart(base: java.io.File): Map[String, Int] =
    new java.io.File(base, "lists").listFiles()
      .filter(_.getName.startsWith("cid=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  /** `data` as a list source of the named kind, with [[coarse]]
    * attached. */
  private def source(form: IvfForm, kind: String,
                     data: DataFrame): IvfSource = {
    val src = kind match {
      case "in-flight" => IvfLifecycle.assign(form, data, "vec_id",
        "embedding", cents, "cid", "cv")
      case "on-disk" =>
        val dir = tmp(s"ivf${form}src")
        IvfLifecycle.build(form, data, "vec_id", "embedding", cents,
          "cid", "cv", dir.getAbsolutePath)
        OnDisk(dir.getAbsolutePath)
    }
    IvfLifecycle.addCoarse(src, coarse, "gid", "gv")
  }

  for (form <- Seq[IvfForm](IvfF32, IvfInt8);
       kind <- Seq("in-flight", "on-disk")) {
    test(s"$form/$kind: panel == single-search loop; exhaustive " +
      "two-level == flat") {
      val qIds = Seq(1L, 2L, 3L)
      val src = source(form, kind,
        emb.filter(!col("vec_id").isin(qIds: _*)))
      val panel = emb.filter(col("vec_id").isin(qIds: _*))
      val flat = panelRows(IvfLifecycle.searchBatch(form, src, panel,
        "vec_id", "embedding", nprobe = 2, k = 10))
      val loop = qIds.flatMap { qid =>
        search(form, src, emb.filter(col("vec_id") === qid))
          .map { case (id, s) => (qid, id, s) }
      }.sortBy(t => (t._1, t._2))
      assert(flat.nonEmpty && flat == loop, s"panel=$flat loop=$loop")
      // every coarse cell probed → level 2 ranks ALL centroids
      val exhaustive = panelRows(IvfLifecycle.searchBatch(form, src,
        panel, "vec_id", "embedding", nprobe = 2, k = 10,
        nprobeCoarse = Some(2)))
      assert(exhaustive == flat, s"exhaustive=$exhaustive flat=$flat")
      // N=0 panel is the natural empty result, not an error
      val none = IvfLifecycle.searchBatch(form, src, emb.filter(lit(false)),
        "vec_id", "embedding", nprobe = 2, k = 10)
      assert(none.columns.take(2).toSeq == Seq("q_id", "id") &&
        none.count() == 0)
      // a single search takes exactly one query row
      for (q <- Seq(panel, emb.filter(lit(false)))) {
        val e = intercept[IllegalArgumentException](
          search(form, src, q))
        assert(e.getMessage.contains("exactly one query row"))
      }
    }
  }

  for (form <- Seq[IvfForm](IvfF32, IvfInt8)) {

    test(s"$form: build half + append half searches identically to a " +
      "union-built index; probe literal still prunes partitions") {
      val query = emb.filter(col("vec_id") === 1)
      val data = emb.filter(col("vec_id") =!= 1)
      val full = tmp(s"ivf${form}full")
      val inc = tmp(s"ivf${form}inc")
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", full.getAbsolutePath)
      IvfLifecycle.build(form,
        data.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", cents, "cid", "cv", inc.getAbsolutePath)
      IvfLifecycle.append(form, inc.getAbsolutePath,
        data.filter(pmod(col("vec_id"), lit(2)) =!= 0),
        "vec_id", "embedding")
      // inverted lists are physical partitions
      val listDirs = new java.io.File(inc, "lists").listFiles()
        .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
      assert(listDirs.nonEmpty && listDirs.forall(_.matches("cid=\\d+")))
      val viaInc = IvfLifecycle.search(form, OnDisk(inc.getAbsolutePath),
        query, "embedding", nprobe = 2, k = 10)
      // append must not break the probe-literal partition pruning
      val plan = viaInc.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cid"),
        s"no partition pruning after append:\n$plan")
      val a = viaInc.collect().map(r => (r.getLong(0), r.get(1))).toSeq
      val b = search(form, full, query)
      assert(a == b, s"appended=$a full=$b")

      // compaction: append left >1 file in some partition; afterwards
      // every partition is ONE file and search is bit-identical
      assert(filesPerPart(inc).values.exists(_ > 1),
        s"append should leave multiple files: ${filesPerPart(inc)}")
      IvfLifecycle.compact(spark, inc.getAbsolutePath)
      val after = filesPerPart(inc)
      assert(after.nonEmpty && after.values.forall(_ == 1),
        s"compaction must leave one file per list: $after")
      assert(search(form, inc, query) == a,
        s"compacted=${search(form, inc, query)} appended=$a")
    }

    test(s"$form: batched search equals a per-query loop of the " +
      "single-query path; probe union still prunes partitions") {
      val dir = tmp(s"ivf${form}batch")
      val qIds = Seq(1L, 2L, 3L)
      val data = emb.filter(!col("vec_id").isin(qIds: _*))
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", dir.getAbsolutePath)
      val batch = IvfLifecycle.searchBatch(form, OnDisk(dir.getAbsolutePath),
        emb.filter(col("vec_id").isin(qIds: _*)),
        "vec_id", "embedding", nprobe = 2, k = 10)
      val plan = batch.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cid"),
        s"no partition pruning:\n$plan")
      val got = panelRows(batch)
      val want = qIds.flatMap { qid =>
        search(form, dir, emb.filter(col("vec_id") === qid))
          .map { case (id, s) => (qid, id, s) }
      }.sortBy(t => (t._1, t._2))
      assert(got == want, s"batch=$got loop=$want")
      // N=0 panel is the natural empty result, not an error
      val none = IvfLifecycle.searchBatch(form, OnDisk(dir.getAbsolutePath),
        emb.filter(lit(false)), "vec_id", "embedding", nprobe = 2, k = 10)
      assert(none.columns.take(2).toSeq == Seq("q_id", "id") &&
        none.count() == 0)
    }

    test(s"$form: streaming ingest via foreachBatch appends arriving " +
      "vectors; post-stream search equals union-built") {
      // the continuous-ingestion deployment shape: an embedding feed
      // appended to the live index per micro-batch through the stored
      // quantizer — no corpus-wide re-assignment, no index rebuild.
      // (Exactly-once contract: see IvfLifecycle.append's scaladoc —
      // MemoryStream + processAllAvailable gives it here.)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val query = emb.filter(col("vec_id") === 1)
      val data = emb.filter(col("vec_id") =!= 1)
      val full = tmp(s"ivf${form}sfull")
      val inc = tmp(s"ivf${form}sinc")
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", full.getAbsolutePath)
      // seed the streaming index with the first half...
      IvfLifecycle.build(form,
        data.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", cents, "cid", "cv", inc.getAbsolutePath)
      // ...and stream the second half in, two micro-batches
      val arriving = data.filter(pmod(col("vec_id"), lit(2)) =!= 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
      val mem = MemoryStream[(Long, Array[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding").writeStream
        .outputMode("append")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"ivf${form}ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          IvfLifecycle.append(form, inc.getAbsolutePath, b, "vec_id",
            "embedding"); ()
        }
        .start()
      try {
        val (h1, h2) = arriving.splitAt(arriving.length / 2)
        mem.addData(h1); q.processAllAvailable()
        mem.addData(h2); q.processAllAvailable()
      } finally q.stop()
      assert(search(form, inc, query) == search(form, full, query),
        s"streamed=${search(form, inc, query)} " +
          s"full=${search(form, full, query)}")
    }

    test(s"$form: refine = over-fetch by the coarse score + exact " +
      "f32 re-rank of exactly that candidate set") {
      val dir = tmp(s"ivf${form}refine")
      val idx = OnDisk(dir.getAbsolutePath)
      val qIds = Seq(1L, 2L, 3L)
      val data = emb.filter(!col("vec_id").isin(qIds: _*))
      val panel = emb.filter(col("vec_id").isin(qIds: _*))
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", dir.getAbsolutePath)
      val refined = IvfLifecycle.searchBatch(form, idx, panel, "vec_id",
          "embedding", nprobe = 2, k = 3,
          refine = Some(Similarity.Refine(overfetch = 7,
            vectors = Some((data, "vec_id", "embedding")))))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // the contract, by hand: the same search's top-7 candidate set,
      // re-ranked by exact f32 cosine, cut to 3
      val want = qIds.map { qid =>
        val cands = IvfLifecycle.searchBatch(form, idx,
            emb.filter(col("vec_id") === qid), "vec_id", "embedding",
            nprobe = 2, k = 7)
          .collect().map(_.getLong(1)).toSeq
        qid -> Similarity.topK(
            data.filter(col("vec_id").isin(cands: _*)), "vec_id",
            "embedding", emb.filter(col("vec_id") === qid),
            "embedding", 3)
          .collect().map(_.getLong(0)).toSet
      }.toMap
      assert(refined == want, s"refined=$refined want=$want")
      // single-query form agrees with the batch form
      val single = IvfLifecycle.search(form, idx,
          emb.filter(col("vec_id") === 1), "embedding", nprobe = 2, k = 3,
          refine = Some(Similarity.Refine(overfetch = 7,
            vectors = Some((data, "vec_id", "embedding")))))
        .collect().map(_.getLong(0)).toSet
      assert(single == want(1L), s"single=$single want=${want(1L)}")
      form match {
        case IvfF32 =>
          // f32 defaults to the index's own stored vectors — and since
          // the plain f32 search ALREADY ranks by exact cosine,
          // refining it is an identity on the top-k
          val plain = IvfLifecycle.search(form, idx,
              emb.filter(col("vec_id") === 1), "embedding",
              nprobe = 2, k = 3)
            .collect().map(_.getLong(0)).toSeq
          val refl = IvfLifecycle.search(form, idx,
              emb.filter(col("vec_id") === 1), "embedding",
              nprobe = 2, k = 3,
              refine = Some(Similarity.Refine(overfetch = 7)))
            .collect().map(_.getLong(0)).toSeq
          assert(refl == plain, s"refined-f32=$refl plain=$plain")
        case IvfInt8 =>
          // int8 lists are quantized: no default exact source exists
          assertThrows[IllegalArgumentException] {
            IvfLifecycle.search(form, idx,
              emb.filter(col("vec_id") === 1), "embedding",
              nprobe = 2, k = 3,
              refine = Some(Similarity.Refine(overfetch = 7)))
          }
      }
    }

    test(s"$form: ingestBatch is exactly-once — a replayed batchId " +
      "is skipped and search equals union-built; the blind-append " +
      "control proves the ledger is load-bearing") {
      val query = emb.filter(col("vec_id") === 1)
      val data = emb.filter(col("vec_id") =!= 1)
      val seed = data.filter(pmod(col("vec_id"), lit(2)) === 0)
      val arriving = data.filter(pmod(col("vec_id"), lit(2)) =!= 0)
      val h1 = arriving.filter(pmod(col("vec_id"), lit(4)) === 1)
      val h2 = arriving.filter(pmod(col("vec_id"), lit(4)) === 3)
      val full = tmp(s"ivf${form}xofull")
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", full.getAbsolutePath)

      // ledgered path: batch 0 delivered TWICE (at-least-once replay)
      val inc = tmp(s"ivf${form}xoinc")
      IvfLifecycle.build(form, seed, "vec_id", "embedding",
        cents, "cid", "cv", inc.getAbsolutePath)
      assert(IvfLifecycle.ingestBatch(form, spark,
        inc.getAbsolutePath, h1, 0L, "vec_id", "embedding"))
      assert(!IvfLifecycle.ingestBatch(form, spark,
        inc.getAbsolutePath, h1, 0L, "vec_id", "embedding"),
        "replayed batchId must be skipped")
      assert(IvfLifecycle.ingestBatch(form, spark,
        inc.getAbsolutePath, h2, 1L, "vec_id", "embedding"))
      assert(search(form, inc, query) == search(form, full, query),
        s"ledgered=${search(form, inc, query)} " +
          s"full=${search(form, full, query)}")
      // the ledger is on disk beside the index
      val markers = new java.io.File(inc, "_ingest").listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
      assert(markers == Seq("committed-0", "committed-1"), s"$markers")

      // control: the SAME replay through the blind append corrupts —
      // duplicated rows double int8 dots / duplicate f32 result rows,
      // so search no longer matches union-built (what the ledger is
      // FOR; if this ever passes, the exactly-once test above proves
      // nothing)
      val blind = tmp(s"ivf${form}xoblind")
      IvfLifecycle.build(form, seed, "vec_id", "embedding",
        cents, "cid", "cv", blind.getAbsolutePath)
      IvfLifecycle.append(form, blind.getAbsolutePath, h1, "vec_id",
        "embedding")
      IvfLifecycle.append(form, blind.getAbsolutePath, h1, "vec_id",
        "embedding") // the replay
      IvfLifecycle.append(form, blind.getAbsolutePath, h2, "vec_id",
        "embedding")
      assert(search(form, blind, query) != search(form, full, query),
        "blind-append replay should corrupt the search — the ledger " +
          "would be dead weight otherwise")
    }

    test(s"$form: ingestBatch replays idempotently across the " +
      "promote-then-crash window (marker missing, files promoted)") {
      val query = emb.filter(col("vec_id") === 1)
      val data = emb.filter(col("vec_id") =!= 1)
      val seed = data.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = data.filter(pmod(col("vec_id"), lit(2)) =!= 0)
      val full = tmp(s"ivf${form}crfull")
      val inc = tmp(s"ivf${form}crinc")
      IvfLifecycle.build(form, data, "vec_id", "embedding",
        cents, "cid", "cv", full.getAbsolutePath)
      IvfLifecycle.build(form, seed, "vec_id", "embedding",
        cents, "cid", "cv", inc.getAbsolutePath)
      assert(IvfLifecycle.ingestBatch(form, spark,
        inc.getAbsolutePath, batch, 7L, "vec_id", "embedding"))
      // simulate the crash window: promote completed (files live under
      // lists/), marker never written — the replay must re-apply to
      // the SAME deterministic names, never double
      assert(new java.io.File(inc, "_ingest/committed-7").delete())
      assert(IvfLifecycle.ingestBatch(form, spark,
        inc.getAbsolutePath, batch, 7L, "vec_id", "embedding"),
        "replay across the crash window must re-apply")
      assert(search(form, inc, query) == search(form, full, query),
        s"crash-replayed=${search(form, inc, query)} " +
          s"full=${search(form, full, query)}")
    }
  }

  test("two-level: refine composes for both forms; an empty coarse " +
    "set fails; no coarse level fails") {
    val qIds = Seq(1L, 2L)
    val data = emb.filter(!col("vec_id").isin(qIds: _*))
    val panel = emb.filter(col("vec_id").isin(qIds: _*))
    for (form <- Seq[IvfForm](IvfF32, IvfInt8)) {
      val src = source(form, "on-disk", data)
      val cands = panelRows(IvfLifecycle.searchBatch(form, src, panel,
          "vec_id", "embedding", nprobe = 2, k = 5,
          nprobeCoarse = Some(1)))
        .map(t => (t._1, t._2)).toSet
      // the re-ranked short list carries the exact cosine and stays
      // within the over-fetched candidate set
      val refined = IvfLifecycle.searchBatch(form, src, panel, "vec_id",
          "embedding", nprobe = 2, k = 3,
          refine = Some(Similarity.Refine(overfetch = 5,
            vectors = Some((data, "vec_id", "embedding")))),
          nprobeCoarse = Some(1))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(refined.nonEmpty &&
        refined.forall(t => cands.contains((t._1, t._2))),
        s"$form: refined=${refined.toSeq} not within candidates $cands")
      assert(refined.groupBy(_._1).values.forall(_.length <= 3))
    }
    val e = intercept[IllegalArgumentException](
      IvfLifecycle.addCoarse(OnDisk(tmp("ivfnocoarse").getAbsolutePath),
        coarse.filter(lit(false)), "gid", "gv"))
    assert(e.getMessage.contains("empty coarse set"))
    intercept[IllegalArgumentException](
      IvfLifecycle.searchBatch(IvfInt8, IvfLifecycle.assign(IvfInt8, data,
        "vec_id", "embedding", cents, "cid", "cv"), panel, "vec_id",
        "embedding", nprobe = 2, k = 5, nprobeCoarse = Some(1)))
  }

  test("in-flight two-level searches pin no checkpoint") {
    val qIds = Seq(1L, 2L, 3L)
    val src = source(IvfInt8, "in-flight",
      emb.filter(!col("vec_id").isin(qIds: _*)))
    val panel = emb.filter(col("vec_id").isin(qIds: _*))
    assert(src.isInstanceOf[InFlight])
    // ids, not the size: the registry holds weak references, so an
    // earlier spec's checkpoint may be collected mid-test
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned
    for (nc <- Seq(1, 2, 1))
      assert(IvfLifecycle.searchBatch(IvfInt8, src, panel, "vec_id",
        "embedding", nprobe = 2, k = 5, nprobeCoarse = Some(nc))
        .collect().nonEmpty)
    assert((pinned -- before).isEmpty, s"pinned ${pinned -- before}")
  }
}
