package graft

import org.scalatest.funsuite.AnyFunSuite

/** The over-budget/contended classifier on synthetic timings — the
  * done-criterion of VERDICT r18 #1 ("a BenchSpec case proving the
  * classifier on synthetic timings"). No Spark session: BenchGate is
  * pure arithmetic, which is the point — the adjudication logic is
  * checkable without running a sweep.
  */
class BenchGateSpec extends AnyFunSuite {

  private val Ref = Budgets.CalibRefMs // 386.0

  test("under the host-normalized threshold is Ok, whatever the at-trip reading") {
    // budget 1.0 s, start scale 1.0 -> threshold 2.0 s
    assert(BenchGate.classify(1.9, 1.0, 1.0, None) == BenchGate.Ok)
    assert(BenchGate.classify(1.9, 1.0, 1.0, Some((10 * Ref, 10 * Ref))) == BenchGate.Ok)
    // the start scale moves the threshold (scale 1.5 -> 3.0 s)
    assert(BenchGate.classify(2.5, 1.0, 1.5, None) == BenchGate.Ok)
  }

  test("a trip without an at-trip reading stays OverBudget (conservative)") {
    assert(BenchGate.classify(2.5, 1.0, 1.0, None) == BenchGate.OverBudget)
  }

  test("a trip the at-trip probe explains multiplicatively is Contended") {
    // 2.5 s on a 1.0 s budget trips the start scale 1.0 gate, but the
    // at-trip probe read 1.3x the reference: 2 * 1.0 * 1.3 = 2.6 >= 2.5
    assert(BenchGate.classify(2.5, 1.0, 1.0,
      Some((1.3 * Ref, 1.3 * Ref))) == BenchGate.Contended)
  }

  test("a trip the at-trip probe does NOT explain is OverBudget — regressions stay visible") {
    // at-trip scale 1.05 (a quiet probe) cannot explain 2.5x budget
    assert(BenchGate.classify(2.5, 1.0, 1.0,
      Some((1.05 * Ref, 1.05 * Ref))) == BenchGate.OverBudget)
    // nor can it explain the r18-style 148x blowup
    assert(BenchGate.classify(29.7, 0.1, 1.18,
      Some((1.05 * Ref, 1.05 * Ref))) == BenchGate.OverBudget)
  }

  test("a probe beyond ContendedProbeScale adjudicates the window itself") {
    // the r18 class: a 253x blowup no multiplicative quota explains,
    // but the probe ITSELF read 5x the reference — the host was in a
    // contention window and the timing is not plan evidence
    assert(BenchGate.classify(319.0, 4.7, 1.18,
      Some((5.0 * Ref, 5.0 * Ref))) == BenchGate.Contended)
    // boundary: exactly at the threshold is NOT beyond it
    val at = BenchGate.ContendedProbeScale * Ref
    assert(BenchGate.classify(319.0, 4.7, 1.18,
      Some((at, at))) == BenchGate.OverBudget)
  }

  test("the parallel reading participates: worse-of-two rule") {
    // single-thread probe quiet, parallel probe at 1.4x (the CPU-quota
    // signature) — the quota explains a 2.7x-budget reading
    assert(BenchGate.classify(2.7, 1.0, 1.0,
      Some((1.0 * Ref, 1.4 * Ref))) == BenchGate.Contended)
  }

  test("contended_run: a contended trip, or a start calibration beyond ContendedProbeScale") {
    val quiet = Seq(BenchGate.Ok, BenchGate.OverBudget)
    assert(!BenchGate.contendedRun(1.1 * Ref, 1.2 * Ref, quiet))
    assert(BenchGate.contendedRun(1.1 * Ref, 1.2 * Ref, quiet :+ BenchGate.Contended))
    // a synthetic high-calibration run with no trips at all: the gate
    // scale clamps at 2.0, the flag reads the raw scale
    assert(BenchGate.gateScale(1.0 * Ref, 4.0 * Ref) == 2.0)
    assert(BenchGate.contendedRun(1.0 * Ref, 4.0 * Ref, Nil))
    assert(BenchGate.contendedRun(4.0 * Ref, 1.0 * Ref, Seq(BenchGate.Ok)))
    // boundary: exactly at the threshold is NOT beyond it
    val at = BenchGate.ContendedProbeScale * Ref
    assert(!BenchGate.contendedRun(at, at, Nil))
  }

  test("gateScale clamps to [0.5, 2.0]; rawScale only floors") {
    assert(BenchGate.gateScale(0.1 * Ref, 0.1 * Ref) == 0.5)
    assert(BenchGate.gateScale(5 * Ref, 5 * Ref) == 2.0)
    assert(math.abs(BenchGate.gateScale(1.2 * Ref, 1.5 * Ref) - 1.5) < 1e-9)
    assert(math.abs(BenchGate.rawScale(5 * Ref, 5 * Ref) - 5.0) < 1e-9)
    assert(BenchGate.rawScale(0.1 * Ref, 0.1 * Ref) == 0.5)
  }
}
