package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 focused spec for the host-factor-scaled suspect predicate
  * (VERDICT r16 #2): one definition of "this number is probably noise"
  * drives the artifact's suspect list, the targeted re-measure sweep and
  * the degraded flag, so its arithmetic gets its own test. The live
  * injected-regression check (q109 at 3× rounds on a scratch edit
  * entered the sweep; 11.76 s vs best 5.21 flags at factor 1, absorbs at
  * the measured 1.48) is recorded in OPTIMIZATION_r17.md. */
class BenchSuspectSpec extends AnyFunSuite {

  private val history = Map("qa" -> 5.0, "qb" -> 2.0, "qc" -> 0.4)

  test("factor 1 keeps the pre-r17 predicate: > 2x best and > 1 s") {
    val res = Map("qa" -> 11.0, "qb" -> 3.9, "qc" -> 0.9, "qd" -> 50.0)
    // qa 2.2x flags; qb 1.95x does not; qc is above 2x but under the 1 s
    // absolute floor; qd has no history
    assert(Bench.suspectsOf(res, history, 1.0) == Seq("qa"))
  }

  test("a uniform host band under the factor no longer flags") {
    // the r16 failure mode: everything ~2.2x best on a slow host
    val res = Map("qa" -> 11.0, "qb" -> 4.4)
    assert(Bench.suspectsOf(res, history, 1.0).size == 2)
    assert(Bench.suspectsOf(res, history, 1.7).isEmpty)
  }

  test("a real outlier still flags through the loosened bar") {
    // 4x best stands out even on a 1.7x host (bar = 3.4x)
    val res = Map("qa" -> 20.0, "qb" -> 4.4)
    assert(Bench.suspectsOf(res, history, 1.7) == Seq("qa"))
  }

  test("the session-floor bar absorbs additive floor inflation") {
    // sub-second-best queries on a slow session: 0.3 s best reading
    // 1.4 s is 4.7x — multiplicatively damning, additively just the
    // session's per-query floor. With floorBar = 2x a measured 0.7 s
    // floor they clear; a genuinely slow 3.1 s entry still flags.
    val h = Map("qf" -> 0.3, "qg" -> 0.35, "qh" -> 0.3)
    val res = Map("qf" -> 1.4, "qg" -> 1.3, "qh" -> 3.1)
    assert(Bench.suspectsOf(res, h, 1.5).size == 3)            // old bar
    assert(Bench.suspectsOf(res, h, 1.5, 1.4) == Seq("qh"))    // floor bar
    // the floor bar never drops below the historical 1 s absolute arm
    val tiny = Map("qf" -> 1.2)
    assert(Bench.suspectsOf(tiny, h, 1.0, 0.4) == Seq("qf"))
  }

  test("a query far above its best flags even under a high floor bar") {
    // 0.3 s best reading 1.9 s: 6.3x best, yet under the 2 s floor bar
    // and under the 2 x best x factor bar at factor 3.5 — the 6x arm
    // catches it; 5.5x (1.65 s) stays unflagged, and so does a 0.1 s
    // best at 0.9 s (9x, but under the historical 1 s)
    val h = Map("qs" -> 0.3, "qt" -> 0.3, "qu" -> 0.1)
    val res = Map("qs" -> 1.9, "qt" -> 1.65, "qu" -> 0.9)
    assert(Bench.suspectsOf(res, h, 3.5, 2.0) == Seq("qs"))
  }

  test("the probe median of two readings is the smaller one") {
    assert(Bench.lowerMedian(Seq(2.4, 1.1)) == 1.1)
    assert(Bench.lowerMedian(Seq(1.3, 3.0, 1.7)) == 1.7)
    assert(Bench.lowerMedian(Seq(0.9)) == 0.9)
  }

  test("a host factor above 2 warns") {
    assert(Bench.hostFactorWarning(1.0).isEmpty)
    assert(Bench.hostFactorWarning(2.0).isEmpty)
    assert(Bench.hostFactorWarning(2.27).exists(_.contains("2.27")))
  }
}
