package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's host-contention flag (r15 verdict task 6): the r15
  * driver run's poisoned probe must flag, every known-clean committed
  * probe must not, and failed-probe sentinels must stay silent.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("known-poisoned r15 driver probe flags at the pinned reference") {
    // BENCH_DRIVER_r15.json host probe: cpu_s = 0.964 on the run where
    // 74% of queries measured faster at 8 slots than at 32
    assert(BenchGuard.contended(0.964, BenchGuard.RefCpuProbeSec))
  }

  test("known-clean committed probes do not flag") {
    // r14/r15 canonical composites (0.776) and the r15 builder's
    // slower-but-clean re-run (0.886) all sit inside the tolerance
    for (clean <- Seq(0.776, 0.80, 0.886))
      assert(!BenchGuard.contended(clean, BenchGuard.RefCpuProbeSec),
        s"clean probe $clean must not flag")
  }

  test("a faster-than-reference probe is a healthier host, not a flag") {
    assert(!BenchGuard.contended(0.5, BenchGuard.RefCpuProbeSec))
  }

  test("failed probes and degenerate references never flag") {
    assert(!BenchGuard.contended(-1.0, BenchGuard.RefCpuProbeSec))
    assert(!BenchGuard.contended(0.964, -1.0))
    assert(!BenchGuard.contended(-1.0, -1.0))
  }

  test("tolerance boundary: exactly ref*(1+tol) does not flag, above does") {
    val ref = 1.0
    assert(!BenchGuard.contended(1.2, ref))
    assert(BenchGuard.contended(1.2000001, ref))
  }

  test("probeRef: a good override is used; empty, non-numeric and non-positive fall back") {
    assert(BenchGuard.probeRef(None) == BenchGuard.RefCpuProbeSec)
    assert(BenchGuard.probeRef(Some("0.9")) == 0.9)
    assert(BenchGuard.probeRef(Some(" 1.25 ")) == 1.25)
    for (bad <- Seq("", "  ", "fast", "0.9s", "NaN", "Infinity", "0", "-0.5"))
      assert(BenchGuard.probeRef(Some(bad)) == BenchGuard.RefCpuProbeSec,
        s"'$bad' must fall back to the pinned reference")
  }

  test("loadAvg1 returns a finite value or the -1 sentinel") {
    val v = BenchGuard.loadAvg1()
    assert(v == -1.0 || (v >= 0.0 && !v.isNaN && !v.isInfinite))
  }
}
