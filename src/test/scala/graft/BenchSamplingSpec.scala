package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench dispersion-population contract (ADVICE r14,
  * Bench.scala): the cold run is dropped BY INDEX in the raw sample
  * sequence, before errored runs are filtered — so an errored first
  * run never shifts the drop onto a warm sample. */
class BenchSamplingSpec extends AnyFunSuite {

  test("steady drops the cold run by index, not post-filter position") {
    // run 1 errored (-1), run 2 is the true cold sample. Filtering
    // first would drop 1.18 (warm-up) from position 0 of the OK list —
    // the bug: the actual cold sample would then be... here run 2 IS
    // the slow one only because run 1 never executed the query. The
    // contract is: only raw(0) is excluded.
    val raw = Seq(-1.0, 1.18, 0.16, 0.17, 0.16)
    assert(Bench.steady(raw) == Seq(1.18, 0.16, 0.17, 0.16))
    // consequence: the 1.18 outlier stays in the population and the
    // query is correctly dispersion-flagged (errored cold run means
    // run 2 paid the warm-up, and its spread is real information)
    assert(Bench.spreadExceeds(Bench.steady(raw)))
  }

  test("steady excludes the cold first sample when it ran") {
    val raw = Seq(1.18, 0.16, 0.17, 0.16, 0.16)
    assert(Bench.steady(raw) == Seq(0.16, 0.17, 0.16, 0.16))
    assert(!Bench.spreadExceeds(Bench.steady(raw)))
  }

  test("with exactly 2 raw samples the cold run still counts") {
    assert(Bench.steady(Seq(3.0, 1.0)) == Seq(3.0, 1.0))
    assert(Bench.steady(Seq(-1.0, 1.0)) == Seq(1.0))
  }

  test("errored runs are excluded from the steady population") {
    assert(Bench.steady(Seq(0.5, 0.4, -1.0, 0.41)) == Seq(0.4, 0.41))
  }

  test("spreadExceeds needs two positive samples and a 1.5x spread") {
    assert(!Bench.spreadExceeds(Seq()))
    assert(!Bench.spreadExceeds(Seq(1.0)))
    assert(!Bench.spreadExceeds(Seq(1.0, 1.4)))
    assert(Bench.spreadExceeds(Seq(1.0, 1.6)))
    assert(!Bench.spreadExceeds(Seq(0.0, 9.0))) // zero min: undefined ratio
  }

  test("vsPrevFlags: flags 3x+ jumps over the previous round, ignores " +
    "new queries, errored medians, and sub-floor noise") {
    val prev = Map("q61" -> 0.94, "q06" -> 0.10, "q88" -> 4.0,
      "qz" -> 0.0)
    val cur = Seq(
      "q61" -> 18.4,  // the r19 contention case: must flag
      "q06" -> 0.40,  // 4x but +0.3 s absolute — jitter, no flag
      "q88" -> 7.9,   // <3x — no flag
      "q99" -> 9.0,   // new this round — no prev, no flag
      "qz" -> 9.0,    // prev recorded 0/errored — no flag
      "q61b" -> -1.0) // errored now — no flag
    assert(Bench.vsPrevFlags(prev, cur) == Seq(("q61", 0.94, 18.4)))
    // boundary: exactly 3x is NOT a flag (strictly greater)
    assert(Bench.vsPrevFlags(Map("a" -> 1.0), Seq("a" -> 3.0)).isEmpty)
    assert(Bench.vsPrevFlags(Map("a" -> 1.0), Seq("a" -> 3.01)).nonEmpty)
  }

  test("parsePrevQueries: reads the DRIVER wrapper format — queries " +
    "escaped inside the truncated tail string (VERDICT r20 #1)") {
    // verbatim structural copy of the driver's BENCH_r{N}.json: a
    // wrapper {n, rc, cpus, sf, tail, parsed} whose tail is the
    // HEAD-TRUNCATED stdout line (first pair partial) and parsed is
    // null. The old parser returned empty here, so the vs_prev
    // instrument silently no-op'd against every driver artifact.
    val wrapper = """{
      "n": 19,
      "rc": 0,
      "cpus": 32,
      "sf": 0.1,
      "tail": "k\":0.157,\"q24_multimodal_meta\":0.199,\"q40_decode_netflow_v9\":0.187,\"q41_decode_pipeline\":0.268,\"q45_dup_clusters\":2.858},\"total_sec\":221.7,\"scaled_flows_per_sec_tail\":1468859.1}\n[success] Total time: 686 s\n",
      "parsed": null
    }"""
    val prev = Bench.parsePrevQueries(wrapper)
    // the truncated first pair (k":0.157) self-excludes; total_sec and
    // the flagship scalars don't match the qNN_ key shape
    assert(prev == Map(
      "q24_multimodal_meta" -> 0.199,
      "q40_decode_netflow_v9" -> 0.187,
      "q41_decode_pipeline" -> 0.268,
      "q45_dup_clusters" -> 2.858))
    // the r20 driver case the instrument missed: q41 0.268 -> 1.387
    // (5.2x, +1.1 s — past both thresholds) must flag
    assert(Bench.vsPrevFlags(prev, Seq("q41_decode_pipeline" -> 1.387))
      == Seq(("q41_decode_pipeline", 0.268, 1.387)))
    // wrapper with parsed NON-null: parsed.queries wins over the tail
    val wrapped2 = """{"n":19,"tail":"\"q01\":9.9",
      "parsed":{"queries":{"q01_fwm_agg":0.5}}}"""
    assert(Bench.parsePrevQueries(wrapped2) == Map("q01_fwm_agg" -> 0.5))
  }

  test("parsePrevQueries: the real checked-in driver artifact parses " +
    "to a full query map (instrument active against it)") {
    val f = new java.io.File("BENCH_r19.json")
    assume(f.isFile, "BENCH_r19.json not in cwd")
    val prev = Bench.parsePrevQueries(
      java.nio.file.Files.readString(f.toPath))
    assert(prev.size > 50, s"parsed only ${prev.size} queries")
    assert(prev.get("q41_decode_pipeline").contains(0.268))
  }

  test("pickPrevBench: SPARK_GRAFT_ROUND excludes the current round's " +
    "own checked-in file (ADVICE r20)") {
    val fs = Seq("BENCH_r19.json", "BENCH_r20.json", "BENCH_r21.json",
      "CORRECTNESS_r21.json", "bench.json").map(new java.io.File(_))
    // unbounded: picks the highest round present (r21 — possibly the
    // round being benched, the ADVICE r20 trap)
    assert(Bench.pickPrevBench(fs, Int.MaxValue)
      .map(_.getName).contains("BENCH_r21.json"))
    // bounded by the bench's own round: r21 is excluded, r20 wins
    assert(Bench.pickPrevBench(fs, 21)
      .map(_.getName).contains("BENCH_r20.json"))
    assert(Bench.pickPrevBench(fs, 19).isEmpty)
  }

  test("pickPrevBench: a checked-in FULL per-round copy beats the " +
    "driver's tail-truncated wrapper of the same round (VERDICT r21 #1)") {
    val fs = Seq("BENCH_r21.json", "BENCH_r22.json",
      "bench_r22_full.json", "bench.json").map(new java.io.File(_))
    // same round both shapes present: the full copy (145-query map)
    // wins over the wrapper (2000-char tail, ~76 queries survive)
    assert(Bench.pickPrevBench(fs, Int.MaxValue)
      .map(_.getName).contains("bench_r22_full.json"))
    // the round bound applies to full copies too
    assert(Bench.pickPrevBench(fs, 22)
      .map(_.getName).contains("BENCH_r21.json"))
    // a full copy alone is picked when no wrapper exists for its round
    val only = Seq("BENCH_r21.json", "bench_r23_full.json")
      .map(new java.io.File(_))
    assert(Bench.pickPrevBench(only, Int.MaxValue)
      .map(_.getName).contains("bench_r23_full.json"))
  }

  test("parsePrevQueries: reads the queries map; shape surprises and " +
    "junk yield empty instead of failing the bench") {
    val json = """{"metric":"total_query_seconds","value":1.0,
      "queries":{"q01_fwm_agg":0.5,"q02":1.25,"bad":"x"},
      "total_sec":1.0}"""
    assert(Bench.parsePrevQueries(json) ==
      Map("q01_fwm_agg" -> 0.5, "q02" -> 1.25))
    assert(Bench.parsePrevQueries("not json").isEmpty)
    assert(Bench.parsePrevQueries("""{"queries":[1,2]}""").isEmpty)
    assert(Bench.parsePrevQueries("""{"value":3}""").isEmpty)
  }

  test("parsePrevQueries: reads the contract line's q map, as the line " +
    "and as a BENCH_r{N}.json wrapper's parsed object") {
    val results = Queries.all.zipWithIndex.map { case (q, i) =>
      q.name -> (i + 1) / 1000.0 }
    val line = Bench.contractLine(1.0, results.size, 4, 0.0, results)
    val wrapper = s"""{"n":8,"rc":0,"cpus":4,"sf":0.1,
      "tail":"[success] Total time: 300 s\\n","parsed":$line}"""
    // every query number maps back to its full name
    assert(Bench.parsePrevQueries(wrapper) == results.toMap)
    assert(Bench.parsePrevQueries(line) == results.toMap)
    // a number no query has is dropped, not guessed
    assert(Bench.parsePrevQueries(
      """{"q":{"01":0.5,"9999":1.0}}""") == Map("q01_fwm_agg" -> 0.5))
  }

  test("contractLine: 150 queries fit the 2,000-char tail and parse") {
    val results = (1 to 150).map(i => f"q$i%02d_synthetic" -> 9.999)
    val total = math.rint(results.map(_._2).sum * 1000) / 1000
    val line = Bench.contractLine(total, results.size, 4, 0.0, results)
    assert(line.length <= 1900, s"${line.length} chars")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(root.get("total_sec").asDouble() == 1499.85)
    assert(root.get("n_queries").asInt() == 150)
    assert(root.get("cpus").asInt() == 4)
    assert(root.get("flagship_scaled_flows_per_sec").isNumber)
    val q = root.get("q")
    assert(q.size() == 150)
    assert(q.get("01").asDouble() == 9.999 && q.get("150").asDouble() == 9.999)
  }
}
