package graft

/** Host-contention adjudication for [[Bench]]'s over-budget gate
  * (VERDICT r18 #1). The r18 driver sweep carried 47 over-budget
  * entries the artifact could not defend: calibration ran ONCE at
  * sweep start (reading 409/454 ms, scale 1.18), then a mid-sweep
  * contention window inflated untouched trivial projections 17–253x —
  * alphabetically contiguous, the signature of a wall-clock window,
  * not a plan change — and the gate had no way to say so. The fix is
  * a SECOND calibration reading taken at the moment a query trips its
  * host-normalized 2x budget: a trip whose at-trip probe explains it
  * is reported under `contended`, not `over_budget`, and every trip
  * carries its at-trip probe readings so the artifact adjudicates
  * itself.
  *
  * Pure functions, no I/O — BenchSpec proves the classifier on
  * synthetic timings (the done-criterion of VERDICT r18 #1).
  */
object BenchGate {

  /** At-trip probe scale above which the probe ITSELF proves a
    * contention window regardless of whether it fully explains the
    * query's excursion: the reference-class hosts read 0.98–1.5x and
    * the r18 quota'd host 1.52x, while a starved window inflates a
    * register-only burn loop arbitrarily. When the host cannot give
    * even the probe its cycles, no timing from that window is
    * evidence about a plan — the severest r18 blowups (253x on a
    * 0.2 s projection) are far beyond any quota a calibration could
    * "explain" multiplicatively, and this rule is what classifies
    * them. 3.0 is deliberately above the gate clamp (2.0): a host
    * that merely drifted slow trips neither rule. */
  val ContendedProbeScale = 3.0

  /** How long an at-trip calibration reading stays reusable:
    * contention windows last minutes (the r18 window spanned whole
    * query families) and one probe pair costs ~2.5 s, so trips
    * arriving in a burst share one reading instead of paying a probe
    * each. */
  val AtTripCacheNanos: Long = 60L * 1000000000L

  /** UNclamped host-speed scale: worse of single-thread speed and
    * parallel throughput vs the pinned pricing-host reference. The
    * floor mirrors the gate clamp's lower bound (a probe reading
    * cannot make budgets tighter than 2x the pinned table); there is
    * no upper clamp — this form is for REPORTING and at-trip
    * adjudication, where the measured value is the evidence. */
  def rawScale(calibMs: Double, calibParMs: Double): Double =
    math.max(0.5, math.max(calibMs, calibParMs) / Budgets.CalibRefMs)

  /** The gate's threshold scale: [[rawScale]] clamped to [0.5, 2.0]
    * so one bad start-of-sweep calibration reading can neither neuter
    * nor more-than-double the whole run's gate. */
  def gateScale(calibMs: Double, calibParMs: Double): Double =
    math.min(2.0, rawScale(calibMs, calibParMs))

  /** Run-level flag for history consumers (VERDICT r18 #2): a run is
    * not a clean observation when ANY trip was classified
    * [[Contended]], or when its start-of-sweep calibration is itself
    * beyond [[ContendedProbeScale]] (VERDICT r20 #1: the gate scale is
    * clamped at 2.0, so a contended window that trips no query could
    * never set the flag from trips alone). bench_compare.py and budget
    * re-bases exclude such runs mechanically. */
  def contendedRun(calibMs: Double, calibParMs: Double, verdicts: Seq[Verdict]): Boolean =
    rawScale(calibMs, calibParMs) > ContendedProbeScale || verdicts.contains(Contended)

  sealed trait Verdict
  /** Under the host-normalized 2x budget. */
  case object Ok extends Verdict
  /** Over budget and the at-trip calibration does NOT explain it —
    * evidence of a plan regression. */
  case object OverBudget extends Verdict
  /** Over budget but adjudicated host contention: either the at-trip
    * probe's (unclamped) scale explains the reading multiplicatively,
    * or the probe itself is beyond [[ContendedProbeScale]]. */
  case object Contended extends Verdict

  /** Classify one query's final best-of-N reading.
    *
    * @param sec        the query's reported (minimum) wall seconds
    * @param budget     its pinned sf0.1 budget (Budgets.seconds)
    * @param startScale the run's start-of-sweep [[gateScale]]
    * @param atTrip     (calib_ms, calib_par_ms) probed when the
    *                   minimal sample tripped; None when no at-trip
    *                   reading exists (legacy path / probe failure),
    *                   which conservatively stays OverBudget
    */
  def classify(sec: Double, budget: Double, startScale: Double,
      atTrip: Option[(Double, Double)]): Verdict =
    if (sec <= 2 * budget * startScale) Ok
    else atTrip match {
      case Some((c, p)) =>
        val at = rawScale(c, p)
        if (sec <= 2 * budget * at || at > ContendedProbeScale) Contended
        else OverBudget
      case None => OverBudget
    }
}
