package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exponentially-decaying moving average ("mavg" in the reference).
  *
  * Per-key recurrence on each arrival (reference INTERNALS.md:144-162,
  * monit-objects-mavg.c:571-593):
  * {{{
  *   dt = t - t_prev
  *   N  = if (dt < T) N - dt/T*N + V  else V
  * }}}
  * Only {value, last-update-time} is stored per key. The reported
  * per-second rate is N/T (monit-objects-mavg.c:549).
  *
  * Batch evaluation uses the scalable secondary-sort pattern: hash
  * repartition by key, sort within partitions by (key, ts, tiebreak), one
  * forward pass per partition. No driver-side state; arbitrarily many keys.
  *
  * [[decayedFinal]] folds in integer fixed-point (`N - (dt*N) div T +
  * V`), bit-exact across engines, for the DuckDB-oracle queries. The
  * reference's double arithmetic lives in [[scalarTrace]] (the test
  * model) and in the streaming processor, [[graft.streaming.MavgStream]].
  */
object Mavg {

  /** @param keyCols  group key column names
    * @param tsCol    epoch-seconds column (LongType)
    * @param tieCol   unique tiebreak column for deterministic event order
    * @param valueCol measure column (LongType)
    * @param windowSec sliding window size T in seconds
    *                  (default 5, reference monit-objects.h:12) */
  final case class Conf(keyCols: Seq[String], tsCol: String, tieCol: String,
                        valueCol: String, windowSec: Long = 5L)

  /** Final decayed value per key after its last arrival, integer
    * fixed-point. Output: keyCols ++ (n: Long, t_last: Long). */
  def decayedFinal(df: DataFrame, conf: Conf): DataFrame =
    runFold(df, conf) { rows =>
      var n = 0L
      var tPrev = Long.MinValue
      rows.foreach { case (ts, v) =>
        val dt = ts - tPrev
        n = if (tPrev == Long.MinValue || dt >= conf.windowSec) v
            else n - (dt * n) / conf.windowSec + v
        tPrev = ts
      }
      (n, tPrev)
    }

  /** Reference scalar model for tests: fold a (t, v) trace. */
  def scalarTrace(events: Seq[(Long, Long)], windowSec: Long): Seq[Double] = {
    var n = 0.0
    var tPrev = Long.MinValue
    events.map { case (ts, v) =>
      val dt = (ts - tPrev).toDouble
      n = if (tPrev == Long.MinValue || dt >= windowSec) v.toDouble
          else n - dt / windowSec * n + v
      tPrev = ts
      n
    }
  }

  // ------------------------------------------------------------------ impl

  private def runFold(df: DataFrame, conf: Conf)(
      foldFn: Iterator[(Long, Long)] => (Long, Long)): DataFrame = {
    val keyCols = conf.keyCols
    val nKeys = keyCols.length
    val proj = df.select(
      (keyCols.map(col) :+ col(conf.tsCol).cast(LongType) :+
        col(conf.tieCol).cast(LongType) :+
        col(conf.valueCol).cast(LongType)): _*)

    val sorted = proj
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions(
        (keyCols.map(col) :+ col(conf.tsCol) :+ col(conf.tieCol)): _*)

    val inSchema = proj.schema
    val outSchema = StructType(
      keyCols.map(k => inSchema(k)) ++
        Seq(StructField("n", LongType, false),
          StructField("t_last", LongType, false)))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder
      .encoderFor(outSchema))

    sorted.mapPartitions { it =>
      new Iterator[Row] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val first = buf.head
          val key = (0 until nKeys).map(first.get)
          val events = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
          while (buf.hasNext &&
                 (0 until nKeys).forall(i => buf.head.get(i) == key(i))) {
            val r = buf.next()
            events += ((r.getLong(nKeys), r.getLong(nKeys + 2)))
          }
          val (n, tLast) = foldFn(events.iterator)
          Row.fromSeq(key ++ Seq(n, tLast))
        }
      }
    }(enc)
  }

  /** Per-key limits file: CSV rows `keyfield1,...,limit1[,limit2...]`
    * with '#' comments (reference CONFIG.md:438-469,
    * monit-objects-mavg-limfile.c:106-161). Returns key→limits. */
  def parseLimitsCsv(text: String, nKeys: Int): Map[Seq[String], Seq[Double]] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split(",").map(_.trim).toSeq
        (parts.take(nKeys), parts.drop(nKeys).map(_.toDouble))
      }
      .toMap
}
