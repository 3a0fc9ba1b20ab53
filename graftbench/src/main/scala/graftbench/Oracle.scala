package graftbench

/**
 * The benchmark's own exact answers, in plain Scala over the live
 * vector set: none of graft's kernels, heaps or plans are used, so a
 * defect there cannot hide in the reference it is checked against.
 */
object Oracle {

  /** squared L2 in double precision */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** exact k nearest (distance, id) of `q` among `ids` / `vecs`, best
    * first, ties broken toward the smaller id */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Array[(Double, Long)] = {
    // bounded max-heap on (distance, id): its head is the worst kept
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    var i = 0
    while (i < ids.length) {
      val d = l2sq(q, vecs(i))
      if (heap.size < k) heap.enqueue((d, ids(i)))
      else if (ord.lt((d, ids(i)), heap.head)) { heap.dequeue(); heap.enqueue((d, ids(i))) }
      i += 1
    }
    heap.dequeueAll.reverse.toArray
  }

  /** one query's answer as returned by graft: labels best first with
    * their reported distances */
  final case class Answer(labels: Array[Long], dists: Array[Double])

  /** recall@k with ties: a returned label counts when its exact
    * distance is within the k-th exact distance, so any of several
    * equidistant neighbours is a hit */
  def recall(ans: Answer, exact: Array[(Double, Long)], dist: Long => Double, k: Int): Double = {
    if (exact.isEmpty) return 1.0
    val kth = exact(math.min(k, exact.length) - 1)._1
    val hits = ans.labels.distinct.take(k).count(l => dist(l) <= kth * (1 + 1e-6) + 1e-9)
    hits.toDouble / math.min(k, exact.length)
  }

  /**
   * Checks that hold for any correct k-NN answer, approximate or not:
   * at most k results, no repeated label, every label allowed and
   * present, distances sorted and equal to the true distance of the
   * label. Returns the first violation.
   */
  def violations(
      ans: Answer, k: Int, allowed: Long => Boolean, vecOf: Long => Option[Array[Float]],
      q: Array[Float]): Option[String] = {
    if (ans.labels.length > k) return Some(s"${ans.labels.length} results for k=$k")
    if (ans.labels.distinct.length != ans.labels.length) return Some("repeated label")
    var i = 0
    while (i < ans.labels.length) {
      val l = ans.labels(i)
      if (!allowed(l)) return Some(s"label $l is not allowed (filtered out or removed)")
      val v = vecOf(l).getOrElse(return Some(s"label $l is not in the live set"))
      val d = l2sq(q, v)
      if (math.abs(d - ans.dists(i)) > 1e-3 * math.max(1.0, d))
        return Some(f"label $l reported at distance ${ans.dists(i)}%.6f, true distance $d%.6f")
      if (i > 0 && ans.dists(i) < ans.dists(i - 1) - 1e-9)
        return Some("distances not sorted best first")
      i += 1
    }
    None
  }

  /** the planted family of each document: a near copy belongs to its
    * original, an exact copy to the family of the document it copies */
  def families(c: Gen.Corpus): Array[Long] = {
    val fam = Array.tabulate(c.texts.length)(_.toLong)
    val src = (c.nearPairs ++ c.exactPairs).map { case (o, d) => d -> o }.toMap
    for (i <- fam.indices) src.get(i.toLong).foreach(o => fam(i) = fam(o.toInt))
    fam
  }

  /** families a clustering joined wrongly: over the (document,
    * component) pairs, the distinct families of each component beyond
    * its first */
  def overMerged(members: Iterable[(Long, Long)], family: Long => Long): Int =
    members.groupBy(_._2).valuesIterator.map(_.map(m => family(m._1)).toSet.size - 1).sum
}
