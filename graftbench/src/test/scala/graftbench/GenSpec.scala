package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed gives the same vectors, another seed other vectors") {
    val a = new Gen.Mixture(7, 64, 100)
    val b = new Gen.Mixture(7, 64, 100)
    val c = new Gen.Mixture(8, 64, 100)
    assert(a.vecs(0, 0, 50).map(_.toSeq).toSeq === b.vecs(0, 0, 50).map(_.toSeq).toSeq)
    assert(a.vec(0, 3).toSeq !== c.vec(0, 3).toSeq)
    assert(a.vec(0, 3).toSeq !== a.vec(1, 3).toSeq, "streams are independent")
  }

  test("a vector depends only on (seed, stream, id), not on generation order") {
    val m = new Gen.Mixture(11, 8, 10)
    val forward = m.vecs(2, 100, 20)
    val single = (100L until 120L).reverse.map(m.vec(2, _)).reverse
    assert(forward.map(_.toSeq).toSeq === single.map(_.toSeq))
  }

  test("cluster sizes are Zipf-skewed") {
    val m = new Gen.Mixture(3, 4, 20)
    val nearest = m.vecs(0, 0, 4000).map { v =>
      m.centers.indices.minBy(c => Oracle.l2sq(v, m.centers(c)))
    }
    val sizes = nearest.groupBy(identity).values.map(_.length).toSeq.sorted.reverse
    assert(sizes.head > 4 * sizes(sizes.size / 2))
  }

  test("the same seed gives the same corpus, with its planted families") {
    val a = Gen.corpus(5, 2000)
    val b = Gen.corpus(5, 2000)
    assert(a.texts.toSeq === b.texts.toSeq)
    assert(a.nearPairs.toSeq === b.nearPairs.toSeq)
    assert(Gen.corpus(6, 2000).texts.toSeq !== a.texts.toSeq)
    val frac = a.nearPairs.length.toDouble / a.texts.length
    assert(frac > 0.05 && frac < 0.15, s"near-duplicate fraction $frac")
    a.nearPairs.foreach { case (o, c) =>
      val (x, y) = (a.texts(o.toInt).split(" "), a.texts(c.toInt).split(" "))
      assert(x.length === y.length)
      assert(x.zip(y).count { case (p, q) => p != q } <= math.round(x.length * 0.04))
    }
    a.exactPairs.foreach { case (o, c) => assert(a.texts(o.toInt) === a.texts(c.toInt)) }
  }
}
