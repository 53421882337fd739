package graft

/** Host-contention self-defense for the bench (r15 verdict task 6).
  *
  * Round 15's driver-side 32-slot bench ran during a co-tenant load
  * window: 295/310 queries read as "regressed" — 74% of them FASTER
  * at 8 slots, physically impossible for a healthy measurement — and
  * its cpu probe (0.964 s) was the slowest on record, but nothing in
  * the JSON flagged the run, so diagnosing it cost the judge a full
  * cross-file investigation. The probe data was already there; this
  * object turns it into a recorded verdict: compare the run's probes
  * (start AND end of the measured window) against a pinned reference
  * from clean committed runs and flag deviation beyond a tolerance.
  *
  * Flags are RECORDED, not exit-coded — a contended host still
  * produces numbers, they just carry their own health label.
  */
object BenchGuard {

  /** Pinned single-thread cpu-probe reference (seconds): the fastest
    * clean observations across committed round benches on this host
    * class — BENCH_FULL_r14.json 0.776 s, BENCH_FULL_r15.json
    * 0.776 s, the r15 builder's re-run 0.886 s; the poisoned r15
    * driver run read 0.964 s. 0.78 with the 20% tolerance draws the
    * flag line at ~0.94 — below the one known-poisoned observation,
    * above every known-clean one. Overridable per host via
    * SPARK_GRAFT_PROBE_REF.
    */
  val RefCpuProbeSec: Double = 0.78

  /** The probe reference to compare against: `raw` (the
    * SPARK_GRAFT_PROBE_REF value) when it is a positive finite number
    * of seconds, else [[RefCpuProbeSec]] with a warning on stderr. It
    * is read after every query has run, so a bad value must not throw.
    */
  def probeRef(raw: Option[String]): Double =
    raw.fold(RefCpuProbeSec) { s =>
      s.trim.toDoubleOption.filter(v => v > 0 && !v.isInfinite).getOrElse {
        System.err.println(s"[bench] ignoring SPARK_GRAFT_PROBE_REF='$s' " +
          s"(not a positive number of seconds); using $RefCpuProbeSec")
        RefCpuProbeSec
      }
    }

  /** Relative deviation beyond which a probe observation marks the
    * run contended. One-sided: a probe FASTER than the reference is
    * a healthier host, not a measurement problem.
    */
  val Tolerance: Double = 0.20

  /** True when `probe` deviates more than `tol` above `ref`. A failed
    * probe (negative sentinel) or degenerate reference never flags —
    * absence of evidence is not evidence of contention.
    */
  def contended(probe: Double, ref: Double,
      tol: Double = Tolerance): Boolean =
    probe > 0 && ref > 0 && probe > ref * (1.0 + tol)

  /** 1-minute load average, or -1 where unavailable. Recorded beside
    * the probes: a load snapshot far above the slot count corroborates
    * a contention flag with an independent, OS-level observation.
    */
  def loadAvg1(): Double =
    try {
      val v = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (v.isNaN) -1.0 else v
    } catch { case _: Throwable => -1.0 }
}
