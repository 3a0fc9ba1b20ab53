package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("union of intervals counts overlaps once and clips to the bounds") {
    assert(Trace.unionLength(Seq((10L, 30L), (20L, 50L), (70L, 80L)), 0L, 100L) === 50L)
    assert(Trace.unionLength(Seq((-5L, 10L), (90L, 120L)), 0L, 100L) === 20L)
    assert(Trace.unionLength(Nil, 0L, 100L) === 0L)
    assert(Trace.unionLength(Seq((0L, 100L), (10L, 20L)), 0L, 100L) === 100L)
  }

  test("self time is duration minus the part children cover") {
    // 1 [0,100] has children 2 [10,30] and 3 [20,50]; 3 has child 4 [25,45]
    val self = Trace.selfTimes(Seq(
      (1, 0, 0L, 100L), (2, 1, 10L, 30L), (3, 1, 20L, 50L), (4, 3, 25L, 45L)))
    assert(self === Map(1 -> 60L, 2 -> 20L, 3 -> 10L, 4 -> 20L))
  }

  test("recorded spans nest under the open span and share its request") {
    val t = new Trace
    t.enabled = true
    t.request = "r1"
    t.span("outer") { t.span("inner")(Thread.sleep(5)); Thread.sleep(5) }
    val spans = t.all
    val outer = spans.find(_.name == "outer").get
    val inner = spans.find(_.name == "inner").get
    assert(inner.parent === outer.id && outer.parent === 0)
    assert(spans.forall(_.request == "r1"))
    val self = t.selfNs
    assert(self(outer.id) === outer.durNs - inner.durNs)
    assert(self(inner.id) === inner.durNs)
  }

  test("a disabled trace records nothing") {
    val t = new Trace
    assert(t.span("x")(42) === 42)
    assert(t.all.isEmpty)
  }
}
