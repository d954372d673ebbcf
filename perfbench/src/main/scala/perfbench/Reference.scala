package perfbench

import perfbench.Gen.Flow

/** Independent result checker: expected fwm top-N+others, mavg,
  * classification, window and alert results computed from the
  * generator's flow list with plain collections — never through the
  * engine. Every compare returns the number of units checked and the
  * number that mismatched; mismatches feed `failed`.
  */
object Reference {

  /** One output row: key values (empty for the others row) and the
    * measure. */
  final case class FwmRow(keys: Seq[Long], value: Long)

  final case class Tally(attempted: Long, failed: Long,
                         firstMismatch: Option[String] = None) {
    def +(o: Tally): Tally = Tally(attempted + o.attempted,
      failed + o.failed, firstMismatch.orElse(o.firstMismatch))
  }
  val NoTally: Tally = Tally(0, 0)

  private def lexLess(a: Seq[Long], b: Seq[Long]): Boolean =
    a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }

  /** Expected fwm section output by window start: groups in declared
    * order (measure desc, keys asc), top-N plus one others row holding
    * the rest when there are more than N groups. */
  def fwm(flows: Iterable[Flow], rate: Int => Long, s: Mo.Fwm,
          bucketOf: Flow => Long): Map[Long, Seq[FwmRow]] =
    flows.groupBy(bucketOf).map { case (w, fs) =>
      val groups = fs.groupMapReduce(f => s.keys.map(_.of(f)))(f =>
        s.measure.of(f) * s.measure.scale * rate(f.exp))(_ + _)
      val sorted = groups.toSeq.sortWith { case ((ka, va), (kb, vb)) =>
        if (va != vb) va > vb else lexLess(ka, kb)
      }.map { case (k, v) => FwmRow(k, v) }
      w -> (s.limit match {
        case Some(n) if sorted.size > n =>
          sorted.take(n) :+ FwmRow(Nil, sorted.drop(n).map(_.value).sum)
        case _ => sorted
      })
    }

  def compareFwm(what: String, expected: Map[Long, Seq[FwmRow]],
                 got: Map[Long, Seq[FwmRow]]): Tally = {
    val windows = expected.keySet ++ got.keySet
    val bad = windows.toSeq.sorted.filter(w =>
      expected.get(w) != got.get(w))
    Tally(windows.size, bad.size, bad.headOption.map(w =>
      s"$what window $w: expected ${expected.get(w).map(_.take(3))} " +
        s"got ${got.get(w).map(_.take(3))}"))
  }

  /** Batch mavg (`Mavg.decayedFinal`, integer fixed point): final
    * decayed value and last arrival second per key. Arrivals within one
    * second only add, so their order does not matter. */
  def mavgFinal(flows: Iterable[Flow], rate: Int => Long,
                m: Mo.Mavg): Map[Long, (Long, Long)] =
    flows.groupBy(m.key.of).map { case (k, fs) =>
      var n = 0L
      var tPrev = Long.MinValue
      fs.toSeq.sortBy(_.ts).foreach { f =>
        val v = m.measure.of(f) * m.measure.scale * rate(f.exp)
        val dt = f.ts - tPrev
        n = if (tPrev == Long.MinValue || dt >= m.timeSec) v
            else n - (dt * n) / m.timeSec + v
        tPrev = f.ts
      }
      k -> ((n, tPrev))
    }

  def compareMap[K, V](what: String, expected: Map[K, V],
                       got: Map[K, V]): Tally = {
    val keys = expected.keySet ++ got.keySet
    val bad = keys.filter(k => expected.get(k) != got.get(k))
    Tally(keys.size, bad.size, bad.headOption.map(k =>
      s"$what key $k: expected ${expected.get(k)} got ${got.get(k)}"))
  }

  /** Classification class table: classes in measure-desc / key-asc
    * order, kept while the running total before them is under topPct%
    * of the grand total (the crossing class is kept). */
  def classes(flows: Iterable[Flow], rate: Int => Long,
              c: Mo.Cls): Map[Long, Long] = {
    val sums = flows.groupMapReduce(c.key.of)(f =>
      c.measure.of(f) * c.measure.scale * rate(f.exp))(_ + _)
    val total = sums.values.sum
    var cum = 0L
    sums.toSeq.sortBy { case (k, v) => (-v, k) }.filter { case (_, v) =>
      val keep = cum.toDouble < total.toDouble * c.topPct / 100.0
      cum += v
      keep
    }.toMap
  }

  /** Streaming mavg over one key: keys whose decayed per-second rate
    * reaches the limit on some arrival (the alert-start condition of
    * `MavgStream`, double arithmetic, arrivals in second order). */
  def alertKeys(arrivals: Iterable[(Long, Long, Double)], // key, sec, v
                windowSec: Long, limit: Double): Set[Long] =
    arrivals.groupBy(_._1).collect { case (k, evs) if {
      var n = 0.0
      var tPrev = Long.MinValue
      evs.toSeq.sortBy(_._2).exists { case (_, t, v) =>
        val dt = (t - tPrev).toDouble
        n = if (tPrev == Long.MinValue || dt >= windowSec) v
            else n - dt / windowSec * n + v
        tPrev = t
        n / windowSec >= limit
      }
    } => k }.toSet

  def dotted(ip: Long): String =
    Seq(24, 16, 8, 0).map(s => (ip >> s) & 0xff).mkString(".")
}
