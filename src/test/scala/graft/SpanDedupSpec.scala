package graft

import graft.operators.SpanDedup
import org.apache.spark.sql.functions._

/** Exact duplicate-span removal (ExactSubstr, Lee et al.
  * arXiv:2107.06499): hand-computed span sets over planted overlaps,
  * both policies, island-merge edges, and the cleaned-text cut. */
class SpanDedupSpec extends SparkTest {
  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, false),
        StructField("text", StringType, false))))
  }

  private def spans(df: org.apache.spark.sql.DataFrame, l: Int,
                    keepFirst: Boolean = true): Seq[(Long, Long, Long)] =
    SpanDedup.duplicateSpans(df, "doc_id", "text", l, keepFirst)
      .orderBy(col("doc_id"), col("start_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def cleaned(df: org.apache.spark.sql.DataFrame,
                      l: Int): Seq[(Long, String)] =
    SpanDedup.removeSpans(df, "doc_id", "text", l)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("identical documents: first survives, second is one whole-doc span") {
    val df = docs(1L -> "a b c d e f", 2L -> "a b c d e f")
    assert(spans(df, 3) == Seq((2L, 1L, 6L)))
    assert(cleaned(df, 3) == Seq(1L -> "a b c d e f", 2L -> ""))
  }

  test("keepFirst=false marks every copy") {
    val df = docs(1L -> "a b c d", 2L -> "a b c d")
    assert(spans(df, 4, keepFirst = false) ==
      Seq((1L, 1L, 4L), (2L, 1L, 4L)))
  }

  test("shared block inside distinct documents: only the block spans") {
    // 8-token shared block at different offsets; L=4 windows inside it
    // all repeat, flanks are unique
    val block = "p q r s t u v w"
    val df = docs(1L -> s"x1 x2 $block y1", 2L -> s"z1 $block z2 z3")
    // doc 1: block tokens 3..10; doc 2's copy (later by doc order) is
    // the duplicate → marked windows cover tokens 2..9 in doc 2 only
    assert(spans(df, 4) == Seq((2L, 2L, 9L)))
    assert(cleaned(df, 4) == Seq(1L -> s"x1 x2 $block y1",
      2L -> "z1 z2 z3"))
  }

  test("within-document repetition is duplication") {
    val df = docs(1L -> "a b c a b c x")
    // gram "a b c" at pos 1 and 4: pos 4 marked → span [4,6]
    assert(spans(df, 3) == Seq((1L, 4L, 6L)))
    assert(cleaned(df, 3) == Seq(1L -> "a b c x"))
  }

  test("overlapping and adjacent marked windows merge; a gap splits") {
    // two separated repeated regions in one doc vs a reference doc
    val df = docs(
      1L -> "a b c d GAP1 GAP2 e f g h",
      2L -> "a b c d X1 X2 e f g h")
    // doc 2: windows [1..2](a b c / b c d → pos 1, 2... L=3: grams
    // "a b c"@1, "b c d"@2 dup; "e f g"@7, "f g h"@8 dup; middle
    // unique → two spans [1,4] and [7,10]
    assert(spans(df, 3) == Seq((2L, 1L, 4L), (2L, 7L, 10L)))
    assert(cleaned(df, 3) == Seq(
      1L -> "a b c d GAP1 GAP2 e f g h", 2L -> "X1 X2"))
  }

  test("documents shorter than L never match; empty text survives") {
    val df = docs(1L -> "a b", 2L -> "a b", 3L -> "")
    assert(spans(df, 3) == Seq())
    assert(cleaned(df, 3) ==
      Seq(1L -> "a b", 2L -> "a b", 3L -> ""))
  }

  test("global first is by (doc, pos): the earliest copy keeps its text") {
    // same gram in three docs — only doc 1 pos 1 survives
    val df = docs(3L -> "m n o p", 1L -> "m n o p", 2L -> "m n o p")
    assert(spans(df, 4) == Seq((2L, 1L, 4L), (3L, 1L, 4L)))
  }

  private def contamSpans(corpus: org.apache.spark.sql.DataFrame,
                          bench: org.apache.spark.sql.DataFrame, l: Int,
                          pad: Int): Seq[(Long, Long, Long)] =
    SpanDedup.contaminationSpans(corpus, "doc_id", "text", bench,
        "text", l, pad)
      .orderBy(col("doc_id"), col("start_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("decontamination: every collision marked (no keep-first), pad widens, clamp holds") {
    val bench = docs(100L -> "q r s t")
    // corpus doc 1: bench gram at tokens 3..6 of 8; pad=1 → [2,7]
    val corpus = docs(1L -> "a b q r s t c d")
    assert(contamSpans(corpus, bench, 4, 1) == Seq((1L, 2L, 7L)))
    // pad clamps at both document edges
    val edge = docs(2L -> "q r s t x", 3L -> "x q r s t")
    assert(contamSpans(edge, bench, 4, 3) ==
      Seq((2L, 1L, 5L), (3L, 1L, 5L)))
    // BOTH corpus copies marked — benchmark text must not survive
    val twice = docs(4L -> "q r s t", 5L -> "q r s t")
    assert(contamSpans(twice, bench, 4, 0) ==
      Seq((4L, 1L, 4L), (5L, 1L, 4L)))
  }

  test("decontamination: padded windows coalesce before clamping; cut removes them") {
    val bench = docs(100L -> "q r s t", 101L -> "u v w x")
    // two separate collisions with a 1-token gap, pad=1 bridges it
    val corpus = docs(1L -> "a q r s t GAP u v w x b")
    assert(contamSpans(corpus, bench, 4, 1) == Seq((1L, 1L, 11L)))
    assert(contamSpans(corpus, bench, 4, 0) ==
      Seq((1L, 2L, 5L), (1L, 7L, 10L)))
    val cleanedRows = SpanDedup.removeContaminated(corpus, "doc_id",
        "text", bench, "text", 4, 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(cleanedRows == Seq(1L -> "a GAP b"))
  }

  test("multi-space runs and flanking spaces follow the tokens() contract") {
    val df = docs(1L -> "  a  b c d  ", 2L -> "a b c d")
    // both tokenize to [a b c d] → doc 2 is the duplicate
    assert(spans(df, 4) == Seq((2L, 1L, 4L)))
    // cleaned text is RE-JOINED tokens (normalized whitespace)
    assert(cleaned(df, 4) == Seq(1L -> "a b c d", 2L -> ""))
  }

  test("ids beyond 2^42 (monotonically_increasing_id range) work: range precheck packs by offset") {
    // high-partition monotonically_increasing_id shape: pid 512 << 33
    val base = 512L << 33 // = 2^42, past the old absolute-value guard
    val df = docs(base + 1L -> "a b c d e f",
      base + 2L -> "a b c d e f")
    assert(spans(df, 3) == Seq((base + 2L, 1L, 6L)))
    assert(cleaned(df, 3) ==
      Seq(base + 1L -> "a b c d e f", base + 2L -> ""))
  }

  test("negative ids and a >2^42-wide range fall back to struct-min, same result") {
    // range (max-min) spans > 2^42: the packed path is impossible;
    // the precheck must pick struct-min and the answer must not change
    val df = docs(-5L -> "m n o p q", (1L << 50) -> "m n o p q")
    assert(spans(df, 4) == Seq(((1L << 50), 1L, 5L)))
  }

  test("exactGrams=true (string key) and hashed default agree") {
    val df = docs(
      1L -> "x1 x2 p q r s t u v w y1",
      2L -> "z1 p q r s t u v w z2",
      3L -> "a b c a b c x",
      4L -> "unique tokens only here nothing repeats at all")
    val hashed = spans(df, 3)
    val exact = SpanDedup.duplicateSpans(df, "doc_id", "text", 3,
        keepFirst = true, exactGrams = true)
      .orderBy(col("doc_id"), col("start_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hashed == exact)
    val bench = docs(100L -> "p q r s")
    val ch = contamSpans(df, bench, 4, 1)
    val ce = SpanDedup.contaminationSpans(df, "doc_id", "text", bench,
        "text", 4, 1, exactGrams = true)
      .orderBy(col("doc_id"), col("start_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ch == ce)
  }

  test("caller-supplied idRange: same spans without the precheck job; " +
    "an id outside the declared range fails loudly at execution") {
    val df = docs(10L -> "a b c d e", 20L -> "a b c d e")
    val withRange = SpanDedup.duplicateSpans(df, "doc_id", "text", 3,
        idRange = Some((10L, 20L)))
      .orderBy(col("doc_id"), col("start_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(withRange == Seq((20L, 1L, 5L)))
    // snapshot drift must be LOUD: id 20 is outside the declared range
    val e = intercept[Exception] {
      SpanDedup.duplicateSpans(df, "doc_id", "text", 3,
        idRange = Some((10L, 15L))).collect()
    }
    val trace = { val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw)); sw.toString }
    assert(trace.contains("packed range"),
      s"expected the packed-range raise_error, got $e")
  }

  test("gram aggregation stays HashAggregate (no SortAggregate) on the packed path") {
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    val df = docs(1L -> "a b c d e f", 2L -> "a b c d e f")
    val plan = SpanDedup.duplicateSpans(df, "doc_id", "text", 3)
      .queryExecution.executedPlan
    val sortAggs = plan.collectWithSubqueries {
      case s: SortAggregateExec => s }
    assert(sortAggs.isEmpty,
      s"packed-path plan degraded to SortAggregate:\n$plan")
  }
}
