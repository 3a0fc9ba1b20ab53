package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PhaseTimer

class BenchSpec extends AnyFunSuite {

  test("timed passes: a throwing query is only in failed; phases come from each query's min pass") {
    var pass = 0
    // the phase runs inside the query, so the 20 ms pass is the min and
    // the 300 ms phase of the last pass must not be reported
    val phaseMs = Seq(600L, 20L, 300L)
    val t = Bench.timePasses(Seq(
      "a_build" -> (() => { pass += 1; PhaseTimer.time("a_build", "build")(Thread.sleep(phaseMs(pass - 1))) }),
      "b_ok" -> (() => ()),
      "c_throws" -> (() => throw new IllegalStateException("boom")),
      "d_flaky" -> (() => if (pass == 2) throw new RuntimeException("second pass"))),
      passes = 3)
    assert(t.times.keySet == Set("a_build", "b_ok"))
    assert(t.failed == Map(
      "c_throws" -> "IllegalStateException: boom",
      "d_flaky" -> "RuntimeException: second pass"))
    assert(t.phases.keySet == Set("a_build.build"))
    assert(t.phases("a_build.build") <= t.times("a_build"))
    assert(t.phases("a_build.build") < 0.3)
    assert(t.passTotals.size == 3)
  }
}
