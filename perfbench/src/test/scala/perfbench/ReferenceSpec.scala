package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Reference.FwmRow

class ReferenceSpec extends AnyFunSuite {

  private val cap = Gen.capture(5, Gen.batchDims, 60, 120)
  private val rate = cap.sampling _
  private val section = Mo.netflowTree.fwm.head
  private def bucket(f: Gen.Flow) = f.ts - f.ts % section.timeSec

  test("fwm reference: top-N in declared order plus one others row") {
    val exp = Reference.fwm(cap.flows, rate, section, bucket)
    exp.values.foreach { rows =>
      val (head, others) = rows.partition(_.keys.nonEmpty)
      assert(head.size <= section.limit.get)
      assert(head.map(_.value) == head.map(_.value).sortBy(-_))
      assert(others.size <= 1)
    }
    val total = cap.flows.map(f => f.bytes * rate(f.exp)).sum
    assert(exp.values.flatten.map(_.value).sum == total)
  }

  test("a perturbed fwm result is caught") {
    val exp = Reference.fwm(cap.flows, rate, section, bucket)
    assert(Reference.compareFwm("s", exp, exp).failed == 0)
    val (w, rows) = exp.head
    val bumped = exp.updated(w, rows.updated(0,
      rows.head.copy(value = rows.head.value + 1)))
    val t = Reference.compareFwm("s", exp, bumped)
    assert(t.failed == 1 && t.firstMismatch.isDefined)
    val missing = exp - w
    assert(Reference.compareFwm("s", exp, missing).failed == 1)
    val swapped = exp.updated(w, rows.reverse)
    assert(Reference.compareFwm("s", exp, swapped).failed == 1)
  }

  test("a perturbed mavg or classification result is caught") {
    val m = Mo.netflowTree.mavg.head
    val mv = Reference.mavgFinal(cap.flows, rate, m)
    val (k, (n, t)) = mv.head
    assert(Reference.compareMap("m", mv, mv.updated(k, (n + 1, t)))
      .failed == 1)
    val cl = Reference.classes(cap.flows, rate, Mo.netflowTree.cls.head)
    assert(cl.nonEmpty)
    assert(Reference.compareMap("c", cl, cl - cl.head._1).failed == 1)
  }

  test("mavg reference follows the integer decay recurrence") {
    val m = Mo.Mavg("m", Mo.dstHost, Mo.octets, 5, 0)
    def f(ts: Long, bytes: Long) =
      Gen.Flow(0, ts, 1, 42, 1, 1, 6, bytes, 1, 1, 1)
    val got = Reference.mavgFinal(Seq(f(10, 100), f(12, 50), f(12, 10),
      f(20, 7)), _ => 1L, m)
    // 100 → 100 - 2*100/5 + 50 + 10 = 120; dt 8 ≥ 5 → 7
    assert(got == Map(42L -> ((7L, 20L))))
    val got2 = Reference.mavgFinal(Seq(f(10, 100), f(12, 50)), _ => 1L, m)
    assert(got2 == Map(42L -> ((110L, 12L))))
  }

  test("alert keys are the ones whose decayed rate reaches the limit") {
    val arrivals = Seq((1L, 0L, 100.0), (1L, 1L, 100.0), (2L, 0L, 1000.0))
    assert(Reference.alertKeys(arrivals, 5, 30.0) == Set(1L, 2L))
    assert(Reference.alertKeys(arrivals, 5, 100.0) == Set(2L))
    assert(Reference.alertKeys(arrivals, 5, 1000.0) == Set.empty)
  }

  test("window rows compare equal after the order-insensitive sort") {
    val a = Seq(FwmRow(Seq(2L), 5), FwmRow(Seq(1L), 7))
    assert(StreamAlerts.sortRows(a) == StreamAlerts.sortRows(a.reverse))
  }
}
