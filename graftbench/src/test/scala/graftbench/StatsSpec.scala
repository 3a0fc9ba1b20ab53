package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the reported high percentile keeps at least ten samples beyond it") {
    assert(Stats.highestPercentile(100) === Some(90))
    assert(Stats.highestPercentile(1000) === Some(99))
    assert(Stats.highestPercentile(200) === Some(95))
    assert(Stats.highestPercentile(20) === Some(50))
    assert(Stats.highestPercentile(19) === None)
    for (n <- 20 to 500; p <- Stats.highestPercentile(n)) {
      assert(n - math.ceil(p / 100.0 * n).toInt >= 10, s"n=$n p=$p")
      assert(p == 99 || n - math.ceil((p + 1) / 100.0 * n).toInt < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("summary: median, high percentile and sample count") {
    val s = Stats.summarize((1 to 100).map(_.toDouble).reverse)
    assert(s.n === 100)
    assert(s.p50 === 50.5)
    assert(s.hiPct === Some(90))
    assert(s.hi === Some(90.0))
    val few = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(few.n === 3 && few.p50 === 2.0 && few.hi.isEmpty)
    assert(Stats.summarize(Nil).n === 0)
  }
}
