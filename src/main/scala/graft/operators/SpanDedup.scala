package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicate-SPAN removal — the substring-level dedup a
  * document-level pass cannot do (document dedup keeps two documents
  * that share a 200-token boilerplate block; span dedup cuts the
  * block). Semantics follow the ExactSubstr approach of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better"
  * (arXiv:2107.06499), re-expressed over word tokens and relational
  * operators instead of a suffix array:
  *
  *  1. every length-`minTokens` token window (gram) of every document
  *     is an occurrence (one corpus-sized explode — the same O(corpus)
  *     row count every dedup pass here pays);
  *  2. a gram occurring more than once (anywhere — across documents
  *     or within one) marks its occurrences as duplicated; with
  *     `keepFirst` (default) the globally first occurrence by
  *     (doc, position) stays unmarked, so one copy of every
  *     duplicated region survives — drop it to mark ALL copies;
  *  3. per document, marked windows merge into maximal spans
  *     (overlapping OR adjacent), reported as 1-based inclusive token
  *     ranges; [[removeSpans]] cuts them back out of the text.
  *
  * Scale shape: the heavy key is the gram. Marking uses
  * groupBy(gram).agg(count, min(struct(doc,pos))) + a join back —
  * BOTH sides partial-aggregate map-side and the hottest gram
  * collapses to ONE row before the exchange, so a
  * boilerplate-repeated-10M-times corpus never sorts 10M rows in one
  * task (a row_number window over gram — the obvious alternative —
  * does exactly that). The join back re-shuffles on the same key, so
  * the exchange is reusable. Island-merge windows partition by
  * DOCUMENT — bounded by document length, no skew.
  *
  * Gram identity (the 100 TB knob): by DEFAULT the gram is hashed to
  * 128 bits — an (xxhash64, salted-xxhash64) pair over the L-token
  * slice — on BOTH sides of the mark/join plan, so the gram exchange
  * carries 16 bytes per window instead of the ~L× corpus token bytes
  * the raw string would (at L=8 that string is ~8× the corpus, paid
  * twice: into the group-by and into the join back). Collision odds:
  * for G distinct grams the expected number of colliding pairs is
  * G²/2^129 — at G = 10^14 (a 100 TB corpus) that is ~10^-11, i.e.
  * no collision ever; a collision's worst case is one spurious
  * marked window, not corruption. `exactGrams = true` keeps the raw
  * token string as the key (zero collision probability) for
  * oracle-parity / adjudication runs — same plan shape, heavier
  * exchange. */
object SpanDedup {

  /** THE tokenization contract — one definition, shared with every
    * text operator (drift between two copies would silently desync
    * span positions from token counts). */
  private def toks(textCol: String): Column =
    TextAnalysis.tokens(col(textCol))

  /** Salt for the second 64-bit hash stream: xxhash64 has no seed
    * parameter in the Column API, so the second stream prepends a
    * constant — xxhash64(salt, gram) and xxhash64(gram) are
    * independent for collision purposes. */
  private val HashSalt = 0x9e3779b97f4a7c15L

  /** Names of the gram-identity columns for the chosen mode. */
  private def gramKeyCols(exactGrams: Boolean): Seq[String] =
    if (exactGrams) Seq("gram") else Seq("gh1", "gh2")

  /** One (id, pos, <gram key>) row per length-L window; pos is
    * 1-based. Hashed mode emits the 128-bit pair (gh1, gh2) straight
    * off the token slice — the raw gram string is never materialized,
    * so column pruning keeps the exchange at 16 bytes per window.
    * `carryCols` ride through unchanged (the streaming path carries
    * its event-time column). Package-private: the streaming operator
    * ([[graft.streaming.StreamingSpanDedup]]) reuses THE SAME window
    * explode + hash so batch and stream mark identical gram keys. */
  private[graft] def gramOccurrences(df: DataFrame, idCol: String,
                                     textCol: String, minTokens: Int,
                                     exactGrams: Boolean,
                                     carryCols: Seq[String] = Nil)
      : DataFrame = {
    def keyed(i: Column): Seq[Column] =
      if (exactGrams)
        Seq(concat_ws(" ", slice(col("__tk"), i, lit(minTokens)))
          .as("gram"))
      else {
        val sl = slice(col("__tk"), i, lit(minTokens))
        Seq(xxhash64(sl).as("gh1"),
          xxhash64(lit(HashSalt), sl).as("gh2"))
      }
    val carry = carryCols.map(col)
    df.select((col(idCol) +: carry :+ toks(textCol).as("__tk")): _*)
      .where(size(col("__tk")) >= minTokens)
      .select((col(idCol) +: carry :+ explode(transform(
        sequence(lit(1), size(col("__tk")) - minTokens + 1),
        i => struct((i.as("pos") +: keyed(i)): _*)))
        .as("__g")): _*)
      .select((col(idCol) +: carry ++: col("__g.pos").as("pos") +:
        gramKeyCols(exactGrams).map(n => col(s"__g.$n").as(n))): _*)
  }

  /** Token-position width of the packed (id, pos) key: positions fit
    * in 21 bits (a 2M-token document is far past any training-data
    * example; enforced per window with raise_error). Ids then get the
    * remaining 42 bits. */
  private val PosBits = 21

  /** Marked (id, pos) window starts (see object doc, step 2). The
    * global-first occurrence is min over the (id, pos) order. With an
    * integral id whose RANGE fits 42 bits the pair PACKS into one
    * BIGINT — min() then runs as a primitive-buffer HashAggregate
    * with map-side partials; a struct/string min buffer is not
    * UnsafeRow-mutable and Spark silently degrades the whole
    * aggregation to per-partition-sorting SortAggregate (observed on
    * the q116 plan before this fast path).
    *
    * Path choice is a per-dataset PRECHECK: one column-pruned
    * min/max pass over the id (a 1-row action at plan-build time;
    * callers who already know their bounds pass `idRange` and skip
    * the job). Packing uses (id − minId) so the 42 bits bound the
    * range, not the absolute value — `monotonically_increasing_id`
    * output (partition id in the high bits, ≥ 2^42 from partition 512
    * on) packs fine whenever the occupied range fits; anything wider
    * (or a non-integral id) falls back to the generic struct-min
    * (documented SortAggregate cost), never an error. The precheck is
    * a SNAPSHOT — if the source is non-deterministic and an id
    * outside the snapshotted range materializes at execution, the
    * packed key would silently mis-order, so the packed branch keeps
    * a per-row raise_error for out-of-range ids (and for the one
    * genuine data contract: a ≥ 2M-token document) — drift fails
    * loudly, never silently. */
  private def markedStarts(df: DataFrame, idCol: String, textCol: String,
                           minTokens: Int, keepFirst: Boolean,
                           exactGrams: Boolean,
                           idRange: Option[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralId = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val packRange: Option[(Long, Long)] =
      if (!integralId) None
      else {
        val bounds = idRange.orElse {
          val r = df.agg(min(col(idCol).cast("long")),
            max(col(idCol).cast("long"))).head()
          if (r.isNullAt(0)) Some((0L, 0L)) // empty: packed, vacuously
          else Some((r.getLong(0), r.getLong(1)))
        }
        bounds.filter { case (lo, hi) =>
          BigInt(hi) - BigInt(lo) < (BigInt(1) << (63 - PosBits)) }
      }
    val g = gramOccurrences(df, idCol, textCol, minTokens, exactGrams)
    val occKey = packRange match {
      case Some((lo, hi)) =>
        val rawId = col(idCol).cast("long")
        val id = rawId - lo
        when(col("pos") >= (1L << PosBits) ||
          rawId < lo || rawId > hi,
          // data-dependent contract violations, not code bugs: a
          // ≥ 2M-token document, or an id that drifted outside the
          // prechecked snapshot (non-deterministic source) — fail
          // loudly instead of silently mis-ordering the packed key
          raise_error(concat(lit("SpanDedup: id/pos outside the " +
            s"packed range (ids $lo..$hi, pos < 2^$PosBits): "),
            rawId, lit("/"), col("pos"))).cast("long"))
          .otherwise(shiftleft(id, PosBits) + col("pos"))
      case None => struct(col(idCol), col("pos"))
    }
    val key = gramKeyCols(exactGrams)
    val occ = g.withColumn("__k", occKey)
    val firsts = occ.groupBy(key.map(col): _*).agg(
      count(lit(1)).as("__c"),
      min(col("__k")).as("__first"))
    val dup = occ.join(firsts, key).where(col("__c") > 1)
    val m = if (keepFirst)
      dup.where(!(col("__k") === col("__first")))
    else dup
    m.select(col(idCol), col("pos"))
  }

  /** Merge (id, __s, __e) intervals into maximal spans per id —
    * overlapping OR adjacent coalesce (prev-running-max islands).
    * Windows partition by DOCUMENT: bounded by document length, no
    * skew. */
  private def mergeIslands(intervals: DataFrame,
                           idCol: String): DataFrame = {
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("__s"))
    intervals
      .withColumn("__prev_end", max(col("__e")).over(wPrev))
      .withColumn("__gid", sum(
        when(col("__prev_end").isNull ||
          col("__s") > col("__prev_end") + 1, 1).otherwise(0))
        .over(wRun))
      .groupBy(col(idCol), col("__gid"))
      .agg(min(col("__s")).cast("long").as("start_tok"),
        max(col("__e")).cast("long").as("end_tok"))
      .drop("__gid")
  }

  /** Maximal duplicated spans per document: (id, start_tok, end_tok),
    * 1-based inclusive. `exactGrams` trades the 16-byte hashed gram
    * key for the raw token string (see object doc). `idRange` is the
    * known (min, max) id bounds — pass it to skip the plan-build
    * min/max precheck job (an extra id-only corpus pass at 100 TB);
    * ids outside it raise at execution. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Int, keepFirst: Boolean = true,
                     exactGrams: Boolean = false,
                     idRange: Option[(Long, Long)] = None): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens out of [2,∞)")
    require(idRange.forall { case (lo, hi) => lo <= hi },
      s"idRange=$idRange must be (min, max) with min <= max")
    mergeIslands(
      markedStarts(df, idCol, textCol, minTokens, keepFirst, exactGrams,
        idRange)
        .select(col(idCol), col("pos").as("__s"),
          (col("pos") + minTokens - 1).as("__e")),
      idCol)
  }

  /** Island-merge externally produced marked window starts into
    * maximal spans — the batch-side finisher for the STREAMING marker
    * ([[graft.streaming.StreamingSpanDedup]] emits (id, pos) marks;
    * a document's marks all land in its arrival micro-batch, so the
    * merge is per-batch work with no cross-batch state). Duplicate
    * marks (re-delivered input) are harmless: merging is idempotent
    * over overlapping windows. */
  def spansFromMarks(marks: DataFrame, idCol: String, posCol: String,
                     minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens out of [2,∞)")
    mergeIslands(
      marks.select(col(idCol), col(posCol).as("__s"),
        (col(posCol) + minTokens - 1).as("__e")),
      idCol)
  }

  /** Spans of the corpus that collide with a BENCHMARK set — GPT-3
    * appendix-C-style span decontamination: instead of dropping every
    * contaminated document (the [[Contamination]] operators' doc-level
    * verdicts), cut only the collision windows, widened by `pad`
    * tokens each side and clamped to the document. EVERY collision is
    * marked (no keep-first — the benchmark text must not survive
    * anywhere). The benchmark gram set rides a left_semi join: small
    * sets broadcast, and at scale the semi-join shuffles ONLY the
    * distinct-gram stream, never document bytes. */
  def contaminationSpans(df: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         minTokens: Int, pad: Int = 0,
                         exactGrams: Boolean = false): DataFrame = {
    require(minTokens >= 2, s"minTokens=$minTokens out of [2,∞)")
    require(pad >= 0, s"pad=$pad out of [0,∞)")
    val key = gramKeyCols(exactGrams)
    val benchGrams = gramOccurrences(
      bench.select(lit(0L).as("__bid"), col(benchTextCol)),
      "__bid", benchTextCol, minTokens, exactGrams)
      .select(key.map(col): _*).distinct()
    val marked = gramOccurrences(df, idCol, textCol, minTokens,
        exactGrams)
      .join(benchGrams, key, "left_semi")
      .select(col(idCol), (col("pos") - pad).as("__s"),
        (col("pos") + minTokens - 1 + pad).as("__e"))
    val lens = df.select(col(idCol),
      size(toks(textCol)).as("__n"))
    // clamp AFTER the merge: padded intervals coalesce first, then
    // the span meets the document bounds (one doc-keyed join of the
    // far-smaller span table)
    mergeIslands(marked, idCol)
      .join(lens, Seq(idCol))
      .select(col(idCol),
        greatest(col("start_tok"), lit(1L)).as("start_tok"),
        least(col("end_tok"), col("__n").cast("long")).as("end_tok"))
  }

  /** Cleaned corpus: one row per input document, duplicated spans cut
    * out (`cleaned` = surviving tokens re-joined; empty string when
    * the whole document was duplicated). The span table is doc-keyed
    * and far smaller than the corpus — the join broadcasts or
    * AQE-plans; the cut itself is a higher-order filter inside the
    * projection (spans per doc are few), no extra shuffle. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  minTokens: Int, keepFirst: Boolean = true,
                  exactGrams: Boolean = false,
                  idRange: Option[(Long, Long)] = None): DataFrame =
    cutSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, minTokens, keepFirst,
        exactGrams, idRange))

  /** [[contaminationSpans]] cut back out of the corpus (see
    * [[removeSpans]] for the cut's shape). */
  def removeContaminated(df: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         minTokens: Int, pad: Int = 0,
                         exactGrams: Boolean = false): DataFrame =
    cutSpans(df, idCol, textCol,
      contaminationSpans(df, idCol, textCol, bench, benchTextCol,
        minTokens, pad, exactGrams))

  private def cutSpans(df: DataFrame, idCol: String, textCol: String,
                       spanDf: DataFrame): DataFrame = {
    val spans = spanDf
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__tk", toks(textCol))
      .withColumn("__sp",
        coalesce(col("__spans"),
          array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")))
      // guard: sequence(1, 0) generates DESCENDING [1, 0] (and
      // element_at(_, 0) is an ANSI error) — empty docs need an
      // explicit empty index list
      .select(col(idCol), concat_ws(" ", filter(transform(
        when(size(col("__tk")) >= 1,
          sequence(lit(1), size(col("__tk"))))
          .otherwise(array().cast("array<int>")),
        i => when(!exists(col("__sp"),
          s => i >= s("start_tok") && i <= s("end_tok")),
          element_at(col("__tk"), i))),
        t => t.isNotNull)).as("cleaned"))
  }
}
