package graft

import graft.flow.BuiltinTables
import graft.functions.{Lpm, NetFns}

/** DuckDB-SQL fragment generators. Each fragment is derived from the SAME
  * Scala data structure the Spark side evaluates (service map, LPM tables,
  * flag names, powers-of-k), so oracle and engine cannot drift. */
object OracleSql {

  /** `(VALUES (20,'ftp-data'),...) svc(p, nm)` body, sorted by port
    * (single quotes doubled — service names are token-safe but cheap to
    * guard). */
  val servicesValues: String =
    NetFns.servicesByPort.toSeq.sortBy(_._1)
      .map { case (p, n) => s"($p, '${n.replace("'", "''")}')" }
      .mkString(", ")

  /** The PII redaction patterns, verbatim from TextAnalysis.piiPatterns
    * (RE2-safe subset, so DuckDB's regexp engine matches Java's) — the
    * oracle scrubs with EXACTLY the strings the Spark path uses. */
  val piiEmail: String = graft.operators.TextAnalysis.piiPatterns(0)._1
  val piiIp: String = graft.operators.TextAnalysis.piiPatterns(1)._1
  val piiPhone: String = graft.operators.TextAnalysis.piiPatterns(2)._1

  /** concat_ws('+', CASE...) mirroring NetFns.tfstr bit order (CWR→FIN). */
  def tfstrSql(col: String): String = {
    val bits = Seq(128 -> "CWR", 64 -> "ECE", 32 -> "URG", 16 -> "ACK",
      8 -> "PSH", 4 -> "RST", 2 -> "SYN", 1 -> "FIN")
    val args = bits.map { case (m, nm) =>
      s"CASE WHEN (($col % 256) & $m) <> 0 THEN '$nm' END" }
    s"concat_ws('+', ${args.mkString(", ")})"
  }

  /** Powers-of-k literal list, identical to NetFns.xdivL's table. */
  def powersList(k: Long): String = {
    val buf = Vector.newBuilder[Long]
    var p = 1L
    while (p <= Long.MaxValue / k) { buf += p; p *= k }
    buf += p
    buf.result().mkString("[", ", ", "]")
  }

  /** Disjoint-interval CASE for one attribute of an LPM table:
    * `CASE WHEN ip BETWEEN a AND b THEN 'v' ... ELSE '?' END`, over the
    * window [base, base + 2^32) rebased to [0, 2^32). A v4 table lies
    * wholly in the default window; for a v6 table, `base` is the NAT64
    * prefix the test addresses embed v4 in, and intervals outside the
    * window are skipped — so the oracle checks the v6 tables on the
    * embedded v4 integer, without blob arithmetic in DuckDB.
    * @param attr index into the pipe-joined record, or -1 for whole value */
  def lpmCase(table: Lpm.Table, ipExpr: String, attr: Int,
              base: BigInt = 0): String = {
    val top = base + (BigInt(1) << 32)
    val whens = (0 until table.size).flatMap { i =>
      if (table.start(i) >= base && table.end(i) < top) {
        val v =
          if (attr < 0) table.values(i)
          else table.values(i).split('|')(attr)
        Some(s"WHEN $ipExpr BETWEEN ${table.start(i) - base} " +
          s"AND ${table.end(i) - base} THEN '$v'")
      } else None
    }
    s"CASE ${whens.mkString(" ")} ELSE '?' END"
  }

  /** Proto-number → IANA name CASE (fallback: number as string). */
  def protoNameSql(col: String): String = {
    val whens = BuiltinTables.protoNames.toSeq.sortBy(_._1)
      .map { case (p, n) => s"WHEN $p THEN '$n'" }.mkString(" ")
    s"CASE $col $whens ELSE CAST($col AS VARCHAR) END"
  }

  /** Word k-shingle list mirroring Dedup.shingles: list of space-joined
    * k-grams over `string_split(textExpr, ' ')`; [] for short docs. */
  def shinglesSql(textExpr: String, k: Int): String =
    s"CASE WHEN len(string_split($textExpr, ' ')) >= $k THEN " +
      s"list_transform(range(1, len(string_split($textExpr, ' ')) " +
      s"- ${k - 1} + 1), i -> ${shingleBody(textExpr, k)}) " +
      s"ELSE [] END"

  private def shingleBody(textExpr: String, k: Int): String = {
    val w = s"string_split($textExpr, ' ')"
    (0 until k).map(o => s"$w[i + $o]").mkString(" || ' ' || ")
  }

  /** Per-bit SimHash sum columns: `SUM(CASE ... ) AS s<b>` list. */
  def simhashBitSums(hExpr: String, bits: Int): String =
    (0 until bits).map { b =>
      s"SUM(CASE WHEN (($hExpr >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")

  /** Signature assembly from the s<b> sums: Σ (s_b>0 ? 2^b : 0). */
  def simhashAssemble(bits: Int): String =
    "CAST(" + (0 until bits).map { b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ") + " AS BIGINT)"

  /** Left-to-right double dot product of two 1-based list columns,
    * mirroring Similarity.dot's aggregate order (init 0.0 + x1 ≡ x1). */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
      "(acc, x) -> acc + x)"

  /** Random-hyperplane LSH signature mirroring Similarity.lshSignature
    * bit-exactly: the md5-derived ±1 coefficients are baked as literals
    * (same Scala source of truth), and each bit's sum is the same
    * left-associated chain of `v[i] * s` doubles, so the IEEE result —
    * and therefore the sign — is identical in both engines. */
  def lshSigSql(vec: String, dim: Int, nBits: Int): String = {
    import graft.operators.Similarity.hyperplaneSign
    (0 until nBits).map { j =>
      // ±1 as INTEGER: DOUBLE * INTEGER is exact; a 1.0 literal would
      // be DECIMAL in DuckDB
      val sum = (0 until dim).map { i =>
        val s = if (hyperplaneSign(j, i) > 0) "1" else "-1"
        s"CAST($vec[${i + 1}] AS DOUBLE) * $s"
      }.mkString(" + ")
      s"(CASE WHEN ($sum) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** q16's MinHash/LSH candidate pairs as a CTE chain (shingleK=3, 16
    * hashes, 4 bands — same literals as the q16 text). The hash family
    * mirrors Dedup's 2-universal (a_j·h + b_j) mod 2^31−1 with the
    * (a_j, b_j) literals baked from the SAME Scala source
    * (Dedup.minhashCoef) — exact BIGINT math, engines cannot drift;
    * exposes `pairs(a, b)`. */
  def minhashPairsCtes: String = {
    import graft.operators.Dedup.{minhashCoef, MinhashPrime => P}
    val sigExprs = (0 until 16).map { j =>
      val (a, b) = minhashCoef(j)
      s"""list_min(list_transform(sh, s ->
                   ($a * (CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
                          % $P) + $b) % $P))"""
    }
    s"""sh AS (SELECT doc_id, ${shinglesSql("text", 3)} AS sh
             FROM documents),
      sig AS (SELECT doc_id,
               [${sigExprs.mkString(",\n                ")}] AS sig
              FROM sh WHERE len(sh) > 0),
      bands AS (SELECT doc_id, b,
                 array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '|')
                   AS bucket
                FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r
                  ON l.b = r.b AND l.bucket = r.bucket
                 AND l.doc_id < r.doc_id)"""
  }

  /** Recursive transitive closure over an `(a, b)` edge CTE — the oracle
    * counterpart of the engine's large-star/small-star loop (O(n²)
    * closure is fine at oracle scale, while the engine side stays
    * O(log n) rounds). Prefix the whole statement with `WITH RECURSIVE`;
    * exposes `cc(id, component)`, component = min reachable doc_id. */
  def closureCtes(edges: String): String =
    s"""sym AS (SELECT a, b FROM $edges
              UNION SELECT b AS a, a AS b FROM $edges),
      reach(a, b) AS (SELECT a, b FROM sym
                      UNION
                      SELECT r.a, s.b FROM reach r
                      JOIN sym s ON r.b = s.a),
      cc AS (SELECT a AS id,
               CAST(least(a, MIN(b)) AS BIGINT) AS component
             FROM reach GROUP BY a)"""

  /** Duplicate-CLUSTER oracle chain: candidate pairs + closure. */
  def dupClusterCtes: String =
    minhashPairsCtes + ",\n      " + closureCtes("pairs")

  /** Integer-quantized Lloyd k-means, unrolled to `iters` iterations —
    * mirrors Similarity.kmeansQuantized step for step (same quantize,
    * seed order, exact integer distances, floor-div means, empty-cluster
    * carry-forward), so the trained centroids match bit-for-bit.
    * Exposes `c$iters(cid, pos, cx)`. */
  def kmeansCtes(k: Int, iters: Int, dim: Int, scale: Long): String = {
    val d1 = dim + 1
    val base = s"""kvq AS (SELECT vec_id AS id,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS v
      FROM embeddings),
      kseed AS (SELECT id, v, row_number() OVER (
          ORDER BY md5(CAST(id AS VARCHAR)) ASC, id ASC) - 1 AS cid
        FROM kvq),
      c0 AS (SELECT cid, i AS pos, v[i] AS cx
        FROM kseed CROSS JOIN range(1, $d1) t(i) WHERE cid < $k)"""
    val steps = (1 to iters).map { it =>
      val p = it - 1
      s"""d$it AS (SELECT q.id, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS dist
        FROM kvq q CROSS JOIN c$p c GROUP BY q.id, c.cid),
      a$it AS (SELECT id, cid FROM (SELECT id, cid, row_number() OVER (
            PARTITION BY id ORDER BY dist ASC, cid ASC) AS rn FROM d$it)
        WHERE rn = 1),
      m$it AS (SELECT a.cid, t.i AS pos,
          CAST(floor(CAST(SUM(q.v[t.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
            AS cx
        FROM a$it a JOIN kvq q USING (id)
        CROSS JOIN range(1, $d1) t(i)
        GROUP BY a.cid, t.i),
      c$it AS (SELECT c.cid, c.pos, COALESCE(m.cx, c.cx) AS cx
        FROM c$p c LEFT JOIN m$it m
          ON c.cid = m.cid AND c.pos = m.pos)"""
    }
    (base +: steps).mkString(",\n      ")
  }

  /** Exact-Jaccard verification of the candidate pairs (mirrors
    * Dedup.jaccardVerify: distinct word n-grams, integer basis points);
    * exposes `verified(a, b)` = pairs with j_bp ≥ minBp. */
  def jaccardVerifyCtes(n: Int, minBp: Long): String =
    s"""vg AS (SELECT DISTINCT doc_id AS id,
               unnest(${shinglesSql("text", n)}) AS g
            FROM documents),
      vsz AS (SELECT id, COUNT(*) AS sz FROM vg GROUP BY id),
      vi AS (SELECT p.a, p.b, CAST(COUNT(*) AS BIGINT) AS inter
            FROM pairs p
            JOIN vg ga ON ga.id = p.a
            JOIN vg gb ON gb.id = p.b AND gb.g = ga.g
            GROUP BY 1, 2),
      verified AS (SELECT i.a, i.b FROM vi i
               JOIN vsz sa ON i.a = sa.id JOIN vsz sb ON i.b = sb.id
               WHERE (10000 * inter) // (sa.sz + sb.sz - inter)
                 >= $minBp)"""

  /** The PQ training + encode chain over a source CTE `src(id, sub,
    * v)` of already-quantized BIGINT subspace slices — shared verbatim
    * by the raw-vector replay ([[pqCtes]], src = the quantized
    * embedding slices) and the residual replay
    * ([[ivfPqResidualCtes]], src = the coarse-residual slices): one
    * recurrence text, two vector spaces. Emits pseed, pc0..pc$iters
    * (the per-subspace codebooks), pde and pcode(id, sub, cid) (every
    * source vector's code). */
  def pqTrainCtes(m: Int, k: Int, iters: Int, subDim: Int,
                  src: String): String = {
    val s1 = subDim + 1
    val base = s"""pseed AS (SELECT id, row_number() OVER (
          ORDER BY md5(CAST(id AS VARCHAR)) ASC, id ASC) - 1 AS cid
        FROM (SELECT DISTINCT id FROM $src)),
      pc0 AS (SELECT v.sub, e.cid, i AS pos, v.v[i] AS cx
        FROM pseed e JOIN $src v USING (id)
        CROSS JOIN range(1, $s1) t(i) WHERE e.cid < $k)"""
    val steps = (1 to iters).map { it =>
      val p = it - 1
      s"""pd$it AS (SELECT q.id, q.sub, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS dist
        FROM $src q JOIN pc$p c ON q.sub = c.sub
        GROUP BY q.id, q.sub, c.cid),
      pa$it AS (SELECT id, sub, cid FROM (SELECT id, sub, cid,
            row_number() OVER (PARTITION BY id, sub
              ORDER BY dist ASC, cid ASC) AS rn FROM pd$it)
        WHERE rn = 1),
      pm$it AS (SELECT a.sub, a.cid, t.i AS pos,
          CAST(floor(CAST(SUM(q.v[t.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
            AS cx
        FROM pa$it a JOIN $src q ON a.id = q.id AND a.sub = q.sub
        CROSS JOIN range(1, $s1) t(i)
        GROUP BY a.sub, a.cid, t.i),
      pc$it AS (SELECT c.sub, c.cid, c.pos, COALESCE(m.cx, c.cx) AS cx
        FROM pc$p c LEFT JOIN pm$it m
          ON c.sub = m.sub AND c.cid = m.cid AND c.pos = m.pos)"""
    }
    val encode = s"""pde AS (SELECT q.id, q.sub, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS dist
        FROM $src q JOIN pc$iters c ON q.sub = c.sub
        GROUP BY q.id, q.sub, c.cid),
      pcode AS (SELECT id, sub, cid FROM (SELECT id, sub, cid,
            row_number() OVER (PARTITION BY id, sub
              ORDER BY dist ASC, cid ASC) AS rn FROM pde)
        WHERE rn = 1)"""
    (base +: steps :+ encode).mkString(",\n      ")
  }

  /** Product quantization replay (mirrors Similarity.pqTrainQuantized /
    * pqEncode / pqSearchADC): per-subspace integer Lloyd — the SAME
    * recurrence as [[kmeansCtes]] with a `sub` grouping column — then
    * final-codebook assignment (`pcode`) and the query's ADC distance
    * table (`ptab`); exposes `padc(id, adist)`. The query is the row
    * with id = `queryId`. */
  def pqCtes(m: Int, k: Int, iters: Int, dim: Int, scale: Long,
             queryId: Long): String = {
    val s = dim / m
    val base = s"""pvq AS (SELECT vec_id AS id, t.sub,
        list_transform(list_slice(embedding, t.sub * $s + 1,
            t.sub * $s + $s),
          x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS v
      FROM embeddings CROSS JOIN range(0, $m) t(sub))"""
    val search = s"""ptab AS (SELECT c.sub, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS d
        FROM pc$iters c
        JOIN (SELECT sub, v FROM pvq WHERE id = $queryId) q
          ON c.sub = q.sub
        GROUP BY c.sub, c.cid),
      padc AS (SELECT e.id, CAST(SUM(t.d) AS BIGINT) AS adist
        FROM pcode e JOIN ptab t ON e.sub = t.sub AND e.cid = t.cid
        GROUP BY e.id)"""
    Seq(base, pqTrainCtes(m, k, iters, s, "pvq"), search)
      .mkString(",\n      ")
  }

  /** Residual IVF-PQ replay (mirrors Similarity.ivfPqSearchResidual):
    * the coarse quantizer is [[kmeansCtes]]; every vector's RESIDUAL
    * against its assigned coarse centroid feeds the shared
    * [[pqTrainCtes]] chain (identity quantization — residuals of
    * quantized vectors are already exact BIGINTs); search builds one
    * ADC distance table PER PROBED LIST from the query's per-list
    * residual and scores each candidate against its own list's table.
    * Exposes `radc(id, adist)` over the probed lists' vectors. */
  def ivfPqResidualCtes(coarseK: Int, coarseIters: Int, m: Int,
                        pqK: Int, pqIters: Int, dim: Int, scale: Long,
                        queryId: Long, nprobe: Int): String = {
    val cFin = s"c$coarseIters"
    val s = dim / m
    s"""${kmeansCtes(coarseK, coarseIters, dim, scale)},
      cfl AS (SELECT cid, list(cx ORDER BY pos) AS cv
        FROM $cFin GROUP BY cid),
      cdist AS (SELECT q.id, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS dist
        FROM kvq q CROSS JOIN $cFin c GROUP BY q.id, c.cid),
      cass AS (SELECT id, cid FROM (SELECT id, cid,
            row_number() OVER (PARTITION BY id
              ORDER BY dist ASC, cid ASC) AS rn FROM cdist)
        WHERE rn = 1),
      rsub AS (SELECT q.id, a.cid AS ccid, t.sub,
          list_transform(range(1, ${s + 1}),
            i -> q.v[t.sub * $s + i] - f.cv[t.sub * $s + i]) AS v
        FROM kvq q JOIN cass a USING (id) JOIN cfl f ON f.cid = a.cid
        CROSS JOIN range(0, $m) t(sub)),
      ${pqTrainCtes(m, pqK, pqIters, s, "rsub")},
      cprobe AS (SELECT cid FROM cdist WHERE id = $queryId
        ORDER BY dist ASC, cid ASC LIMIT $nprobe),
      qres AS (SELECT p.cid AS pcid, t.sub,
          list_transform(range(1, ${s + 1}),
            i -> q.v[t.sub * $s + i] - f.cv[t.sub * $s + i]) AS qv
        FROM cprobe p JOIN cfl f ON f.cid = p.cid
        CROSS JOIN range(0, $m) t(sub)
        CROSS JOIN (SELECT v FROM kvq WHERE id = $queryId) q),
      rtab AS (SELECT qr.pcid, c.sub, c.cid,
          SUM((qr.qv[c.pos] - c.cx) * (qr.qv[c.pos] - c.cx)) AS d
        FROM pc$pqIters c JOIN qres qr ON c.sub = qr.sub
        GROUP BY 1, 2, 3),
      radc AS (SELECT e.id, CAST(SUM(t.d) AS BIGINT) AS adist
        FROM pcode e
        JOIN cass a ON e.id = a.id
        JOIN rtab t ON t.pcid = a.cid AND t.sub = e.sub
          AND t.cid = e.cid
        GROUP BY e.id)"""
  }

  /** IVF-PQ replay (mirrors Similarity.ivfPqSearch): the coarse
    * quantizer is [[kmeansCtes]] (names kvq/c0..cN — disjoint from the
    * PQ names), assignment and probe selection are integer argmins
    * over its final centroids, and the PQ half is [[pqCtes]]; exposes
    * `ivfpq(id, adist)` = ADC distances of the vectors in the probed
    * lists. */
  def ivfPqCtes(coarseK: Int, coarseIters: Int, m: Int, pqK: Int,
                pqIters: Int, dim: Int, scale: Long, queryId: Long,
                nprobe: Int): String = {
    val cFin = s"c$coarseIters"
    s"""${kmeansCtes(coarseK, coarseIters, dim, scale)},
      ${pqCtes(m, pqK, pqIters, dim, scale, queryId)},
      cdist AS (SELECT q.id, c.cid,
          SUM((q.v[c.pos] - c.cx) * (q.v[c.pos] - c.cx)) AS dist
        FROM kvq q CROSS JOIN $cFin c GROUP BY q.id, c.cid),
      cass AS (SELECT id, cid FROM (SELECT id, cid,
            row_number() OVER (PARTITION BY id
              ORDER BY dist ASC, cid ASC) AS rn FROM cdist)
        WHERE rn = 1),
      cprobe AS (SELECT cid FROM cdist WHERE id = $queryId
        ORDER BY dist ASC, cid ASC LIMIT $nprobe),
      ivfpq AS (SELECT p.id, p.adist FROM padc p
        JOIN cass a ON p.id = a.id
        WHERE a.cid IN (SELECT cid FROM cprobe))"""
  }

  /** BPE merge-sequence replay (mirrors TextAnalysis.bpeMerges): the
    * word-frequency table collapses once, then each merge k unrolls as
    * its own CTE stage — adjacent-pair counts weighted by word
    * frequency, the deterministic winner (max count, lexicographic
    * (l, r)), and the leftmost-non-overlapping list fold applying it.
    * list_reduce seeds from the first [s] element, so single-symbol
    * words pass through untouched; an exhausted stage (no winner)
    * passes the word table through UNCHANGED (LEFT JOIN ON TRUE, NULL
    * winner → identity) so bwN always carries the last merged state —
    * the same early stop the Spark loop takes, for both the merge list
    * (empty win CTEs contribute no rows) and the q106 encoding (bwN
    * non-empty regardless of how many merges exist). Every bw$k is
    * `AS MATERIALIZED`: each stage references its predecessor TWICE
    * (pair counts + the rewrite's FROM), and DuckDB inlines
    * un-materialized CTEs per reference — at 6 stages that is a 2^6
    * expansion it absorbs, at q108's 120-stage unroll it is 2^120
    * (observed as "Too many open files" from the exploding parquet
    * scans long before the planner finishes). */
  def bpeCtes(numMerges: Int, src: String = "documents"): String = {
    val base = s"""bwords AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                x -> x <> '')) AS w
              FROM $src)
        GROUP BY 1),
      bw0 AS MATERIALIZED (SELECT freq,
          list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
        FROM bwords)"""
    val stages = (1 to numMerges).map { k =>
      val prev = s"bw${k - 1}"
      s"""bc$k AS (SELECT freq, unnest(
            CASE WHEN len(syms) >= 2 THEN
              list_transform(range(1, len(syms)), i ->
                struct_pack(l := syms[i], r := syms[i + 1]))
            ELSE CAST([] AS STRUCT(l VARCHAR, r VARCHAR)[]) END) AS p
          FROM $prev),
      bp$k AS (SELECT p.l AS l, p.r AS r,
            CAST(SUM(freq) AS BIGINT) AS cnt
          FROM bc$k GROUP BY 1, 2),
      win$k AS (SELECT l, r, cnt FROM bp$k
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      bw$k AS MATERIALIZED (SELECT freq,
          CASE WHEN win.l IS NULL THEN syms ELSE
          list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
            CASE WHEN list_extract(acc, -1) = win.l
                  AND list_extract(x, 1) = win.r
                 THEN list_append(list_slice(acc, 1, -2),
                        list_extract(acc, -1) || list_extract(x, 1))
                 ELSE list_append(acc, list_extract(x, 1)) END)
          END AS syms
          FROM $prev LEFT JOIN win$k win ON TRUE)"""
    }
    (base +: stages).mkString(",\n      ")
  }

  /** The union tail over [[bpeCtes]]'s win1..winN. */
  def bpeUnion(numMerges: Int): String =
    (1 to numMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS step, l AS "left",
          r AS "right", cnt FROM win$k"""
    }.mkString("\n      UNION ALL ")

  /** BPE APPLY replay (mirrors TextAnalysis.bpeApply /
    * functions.BpeEncoder bit-for-bit): encode `encSrc` text with the
    * merges trained by a preceding [[bpeCtes]] chain (win1..winN).
    * Canonical greedy-rank semantics as ONE recursive CTE: each
    * recursion step joins every still-mergeable word state to its
    * LOWEST-rank applicable pair (the NOT EXISTS is the argmin — no
    * window/aggregate, which recursive terms disallow) and applies
    * bpeCtes' own leftmost-non-overlapping list fold; a word leaves
    * the recursion when no listed pair remains, so `eafinal` (the
    * max-iteration row per word) is the fixpoint. Termination is
    * structural — every step shrinks `syms` by ≥1. The overall query
    * must open with WITH RECURSIVE. Exposes `eafinal(w, freq, syms)`.
    */
  def bpeApplyCtes(numMerges: Int, encSrc: String): String = {
    val pairsOf = (syms: String) =>
      s"""list_transform(range(1, len($syms)),
            i -> struct_pack(a := $syms[i], b := $syms[i + 1]))"""
    s"""bamerge AS (SELECT step, "left" AS l, "right" AS r FROM (
        ${bpeUnion(numMerges)})),
      eawords AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                x -> x <> '')) AS w
              FROM $encSrc)
        GROUP BY 1),
      eapply AS (
        SELECT w, freq,
          list_transform(range(1, len(w) + 1), i -> w[i]) AS syms,
          0 AS it
        FROM eawords
        UNION ALL
        SELECT w, freq,
          list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
            CASE WHEN list_extract(acc, -1) = l
                  AND list_extract(x, 1) = r
                 THEN list_append(list_slice(acc, 1, -2),
                        list_extract(acc, -1) || list_extract(x, 1))
                 ELSE list_append(acc, list_extract(x, 1)) END),
          it + 1
        FROM (
          SELECT e.w, e.freq, e.syms, e.it, m.l, m.r, m.step
          FROM eapply e JOIN bamerge m
            ON list_contains(${pairsOf("e.syms")},
                 struct_pack(a := m.l, b := m.r))
        ) x
        WHERE NOT EXISTS (SELECT 1 FROM bamerge m2
          WHERE m2.step < x.step AND list_contains(${pairsOf("x.syms")},
            struct_pack(a := m2.l, b := m2.r)))
      ),
      eafinal AS (SELECT w, freq, syms FROM (
        SELECT w, freq, syms,
               ROW_NUMBER() OVER (PARTITION BY w ORDER BY it DESC) AS rn
        FROM eapply) WHERE rn = 1)"""
  }

  /** Count-Min replay chain (mirrors Sketches.cmsCell / cmsSketch /
    * cmsEstimate bit-for-bit): ONE md5 per value, Kirsch–Mitzenmacher
    * cells (h1 + j·h2) mod width from two 40-bit digest slices with h2
    * forced odd — the same k-from-2 construction as the Bloom oracle,
    * and the same single source of truth rule as [[hllCtes]] (q94 and
    * q101 inlined two copies of the old per-j-salt idiom; a hash
    * change must move every replay in lockstep). Caller defines
    * `csrc(v)` (sketched values, one row per observation) and
    * `ccand(v)` (candidate values); exposes `cest(v, est)`. */
  def cmsCtes(depth: Int, width: Int): String = {
    def h1(c: String) =
      s"CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 10) AS BIGINT)"
    def h2(c: String) =
      s"(CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 11, 10) " +
        "AS BIGINT) * 2 + 1)"
    s"""cm AS (SELECT t.j,
               (${h1("v")} + t.j * ${h2("v")}) % $width AS c,
               CAST(COUNT(*) AS BIGINT) AS cnt
             FROM csrc CROSS JOIN range(0, $depth) t(j) GROUP BY 1, 2),
      cest AS (SELECT ccand.v,
                CAST(MIN(COALESCE(cm.cnt, 0)) AS BIGINT) AS est
              FROM ccand CROSS JOIN range(0, $depth) t(j)
              LEFT JOIN cm ON cm.j = t.j AND cm.c =
                (${h1("ccand.v")} + t.j * ${h2("ccand.v")}) % $width
              GROUP BY 1)"""
  }

  /** HLL replay chain (mirrors Sketches.hllRegisters/estimateFromRegisters
    * bit-for-bit): md5 60-bit hash → (reg, rho) split → register max →
    * register-ordered 2^−rho fold with the alpha·m² bias formula.
    * NULL values contribute no register, matching the operator (and
    * COUNT(DISTINCT) semantics). One definition for every HLL oracle
    * (q93/q99/q103) — the hash60 scaladoc's lockstep warning made
    * three inline copies untenable. Exposes `hest(keyCols*, n_obs,
    * est)` over CTE `src` with columns keyCols* + `hv`. */
  def hllCtes(keyCols: Seq[String], p: Int, src: String): String = {
    val m = 1 << p
    val w = 60 - p
    val keys = keyCols.mkString(", ")
    val alpha = graft.operators.Sketches.hllAlpha(p)
    s"""hh AS (SELECT $keys,
               CAST('0x' || substr(md5(CAST(hv AS VARCHAR)), 1, 15)
                 AS BIGINT) AS h
             FROM $src WHERE hv IS NOT NULL),
      hr AS (SELECT $keys, h % $m AS reg,
              CASE WHEN (h >> $p) = 0 THEN ${w + 1}
                   ELSE ${w + 1} - length(bin(h >> $p)) END AS rho
            FROM hh),
      hregs AS (SELECT $keys, reg, MAX(rho) AS rho FROM hr
                GROUP BY ALL),
      hl AS (SELECT $keys,
              list(struct_pack(reg := reg, rho := rho) ORDER BY reg)
                AS arr
            FROM hregs GROUP BY ALL),
      hest AS (SELECT $keys, CAST(len(arr) AS BIGINT) AS n_obs,
              CAST('$alpha' AS DOUBLE)
                * CAST(${m.toLong * m} AS DOUBLE) /
                (list_reduce(list_transform(arr, x ->
                   CAST(1 AS DOUBLE) /
                   CAST((CAST(1 AS BIGINT) << x.rho) AS DOUBLE)),
                 (acc, x) -> acc + x)
                 + CAST($m - len(arr) AS DOUBLE)) AS est
            FROM hl)"""
  }
}
