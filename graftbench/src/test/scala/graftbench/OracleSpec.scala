package graftbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {
  test("a copy of a copy belongs to the family of the first original") {
    val c = Gen.Corpus(Array("a", "b", "a'", "a'", "c"), nearPairs = Array(0L -> 2L),
      exactPairs = Array(2L -> 3L))
    assert(Oracle.families(c).toSeq === Seq(0L, 1L, 0L, 0L, 4L))
  }

  test("joining two families in one component counts as one over-merge") {
    val family = Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 3L, 4L -> 4L)
    val right = Seq(0L -> 0L, 2L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 4L)
    assert(Oracle.overMerged(right, family) === 0)
    val wrong = Seq(0L -> 0L, 2L -> 0L, 1L -> 0L, 3L -> 3L, 4L -> 3L)
    assert(Oracle.overMerged(wrong, family) === 2)
  }

  test("the exact top-k breaks ties toward the smaller id") {
    val vecs = Array(Array(1f), Array(-1f), Array(2f))
    assert(Oracle.topK(Array(0f), Array(5L, 3L, 9L), vecs, 2).map(_._2).toSeq === Seq(3L, 5L))
  }
}
