package graft.sinks

import org.apache.spark.sql.DataFrame

/** mavg debug dump: periodic text dump of decay-corrected per-key values
  * and their limits (reference monit-objects-mavg-dump.c:34-315 — the
  * `.d` value dump and `.a` per-key-limit override files operators use
  * for inspection, STEP-BY-STEP.md:888-919).
  *
  * The input is the bounded output of `Mavg.decayedFinal` (or a state
  * snapshot from the streaming processor), so a driver-side render is
  * the per-window-dump analog of the reference's file write.
  */
object MavgDump {

  // dumps are a machine-parsed comma-separated format: the decimal
  // separator must be '.' regardless of the JVM's default locale (the
  // f interpolator uses Locale.getDefault — a German locale would
  // render 5.0 as "5,000" and corrupt the field count)
  private def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** `.d`-style dump: one line per key, fields comma-separated, the
    * decayed per-second value last (value = n / windowSec). */
  def dumpD(decayed: DataFrame, keyCols: Seq[String],
            windowSec: Long): String = {
    val rows = decayed.select((keyCols :+ "n").map(
      org.apache.spark.sql.functions.col): _*).collect()
    rows.map { r =>
      val keys = keyCols.indices.map(i => String.valueOf(r.get(i)))
      // n is LongType from the integer fixed-point path and DoubleType
      // from a streaming-state snapshot — accept both (a bare getLong
      // ClassCastExceptions on the latter)
      val n = r.get(keyCols.length) match {
        case l: java.lang.Long   => l.toDouble
        case d: java.lang.Double => d.doubleValue
        case x                   => String.valueOf(x).toDouble
      }
      val perSec = n / windowSec
      (keys :+ d3(perSec)).mkString(",")
    }.sorted.mkString("\n")
  }

  /** `.a`-style limits dump: key fields then each limit value. */
  def dumpA(limits: Map[Seq[String], Seq[Double]]): String =
    limits.toSeq.sortBy(_._1.mkString(","))
      .map { case (k, ls) =>
        (k ++ ls.map(d3)).mkString(",")
      }.mkString("\n")

  /** `.d` dump of a LIVE (or stopped) [[graft.streaming.MavgStream]]
    * query, rendered straight from its checkpoint state store
    * (reference monit-objects-mavg-dump.c:34-315 writes the file every
    * N seconds from the shared value tables; here the state-store
    * READER is the shared table, so the dump is an out-of-band call
    * on any cadence that never touches the query). Each key's stored
    * `n` is decay-corrected to `atNs` with the processor's own law, so
    * the rendered per-second rates are what the reference would print
    * at that instant. Requires the session's state-store provider conf
    * to match the checkpoint. */
  def dumpDFromCheckpoint(spark: org.apache.spark.sql.SparkSession,
                          ckptDir: String, windowSec: Long,
                          atNs: Long): String = {
    import org.apache.spark.sql.functions.col
    val windowNs = windowSec * 1_000_000_000L
    val rows = spark.read.format("statestore").load(ckptDir)
      .select(col("key.value").cast("string"),
        col("value.groupState.n").cast("double"),
        col("value.groupState.tLast").cast("long"))
      .collect()
    rows.map { r =>
      val (key, n, tLast) = (r.getString(0), r.getDouble(1), r.getLong(2))
      val decayed =
        if (tLast == Long.MinValue || atNs > tLast + windowNs) 0.0
        else if (atNs <= tLast) n // dump instant at/before last event
        else n - (atNs - tLast).toDouble / windowNs * n
      s"$key,${d3(decayed / windowSec)}"
    }.sorted.mkString("\n")
  }
}
