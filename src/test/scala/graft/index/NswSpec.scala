package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the layered (hierarchical) NSW graph — no Spark. */
class NswSpec extends AnyFunSuite {

  private def randomPoints(n: Int, dim: Int, seed: Long): Array[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 10f)))
  }

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i).toDouble - b(i).toDouble; d += t * t; i += 1 }
    d
  }

  private def bruteTopK(pts: Array[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    pts.map { case (l, v) => (l2sq(q, v), l) }.sortBy(identity).take(k).map(_._2).toSeq

  test("layered graph materializes upper layers on a non-trivial corpus") {
    val pts = randomPoints(4000, 8, seed = 7L)
    val g = Nsw.build(pts, m = 16, efConstruction = 96)
    assert(g.maxLevel >= 1, "4000 points should produce at least one upper layer")
    // geometric thinning: each upper layer is much smaller than layer 0
    val perLevel = g.levels.groupBy(identity).view.mapValues(_.length).toMap
    assert(perLevel.getOrElse(0, 0) > perLevel.getOrElse(1, 0))
    // the entry point lives on the top layer
    assert(g.levels(g.entry) === g.maxLevel)
  }

  test("recall@10 stays tight on a 4k random corpus (layered descent + beam)") {
    val pts = randomPoints(4000, 8, seed = 11L)
    val g = Nsw.build(pts, m = 16, efConstruction = 128)
    val rnd = new scala.util.Random(99L)
    val queries = Array.fill(50)(Array.fill(8)(rnd.nextFloat() * 10f))
    val recall = queries.map { q =>
      val want = bruteTopK(pts, q, 10).toSet
      val got = Nsw.search(g, q, 10, efSearch = 128).map(_._2).toSet
      got.intersect(want).size.toDouble / want.size
    }.sum / queries.length
    assert(recall >= 0.9, s"recall $recall")
  }

  test("duplicate collapse: 100x-replicated corpus keeps recall@5 (walk can't stall in zero-distance clusters)") {
    // 40 distinct points replicated 100x with distinct labels — before
    // the collapse, greedy descent stalled inside a duplicate cluster
    // and recall collapsed (the 1M-vector baseline finding)
    val base = randomPoints(40, 8, seed = 31L)
    val pts = (0 until 100).flatMap(c =>
      base.map { case (l, v) => (c * 1000L + l, v) }).toArray
    val g = Nsw.build(pts, m = 16, efConstruction = 96)
    // one node per DISTINCT vector; every label retained across dups
    assert(g.labels.length === 40)
    assert(g.dups.map(_.length).sum === 4000)
    val rnd = new scala.util.Random(37L)
    val recall = (0 until 20).map { _ =>
      val q = Array.fill(8)(rnd.nextFloat() * 10f)
      val want = bruteTopK(pts, q, 5).toSet
      val got = Nsw.search(g, q, 5, efSearch = 64).map(_._2).toSet
      assert(got.size === 5, "k results even through collapsed nodes")
      got.intersect(want).size.toDouble / want.size
    }.sum / 20
    assert(recall >= 0.9, s"recall $recall on the replicated corpus")
    // tie-break parity: expansion orders (dist, label) exactly like brute force
    val q0 = base(0)._2
    assert(Nsw.search(g, q0, 5, 64).map(_._2).toSeq === bruteTopK(pts, q0, 5))
  }

  test("selector search through collapsed duplicates filters per-label, not per-node") {
    val base = randomPoints(30, 4, seed = 41L)
    val pts = (0 until 10).flatMap(c =>
      base.map { case (l, v) => (c * 100L + l, v) }).toArray
    val g = Nsw.build(pts, m = 8, efConstruction = 64)
    val L2SQ = graft.functions.VectorMath.L2SQ
    // each node carries labels c * 100 + l for c in 0..9: the selector
    // passes half of every node's labels, so only a per-label filter holds
    val res = Nsw.search(g, Array.fill(4)(5.0f), 6, 64, L2SQ, _ / 100 % 2 == 0)
    assert(res.forall(_._2 / 100 % 2 == 0), "disallowed label leaked from a collapsed node")
    assert(res.length === 6)
  }

  test("graph construction is deterministic (hash-derived levels, no RNG)") {
    val pts = randomPoints(1000, 4, seed = 3L)
    val g1 = Nsw.build(pts, m = 8, efConstruction = 64)
    val g2 = Nsw.build(pts, m = 8, efConstruction = 64)
    assert(g1.maxLevel === g2.maxLevel)
    assert(g1.entry === g2.entry)
    assert(g1.levels.toSeq === g2.levels.toSeq)
    assert(g1.adj.map(_.map(_.toSeq).toSeq).toSeq === g2.adj.map(_.map(_.toSeq).toSeq).toSeq)
    val q = Array.fill(4)(5.0f)
    assert(Nsw.search(g1, q, 5, 64).toSeq === Nsw.search(g2, q, 5, 64).toSeq)
  }

  test("empty and single-point graphs search safely") {
    assert(Nsw.search(Nsw.build(Array.empty, 8, 64), Array(1f, 2f), 3, 32).isEmpty)
    val g1 = Nsw.build(Array((42L, Array(1f, 2f))), 8, 64)
    val r = Nsw.search(g1, Array(0f, 0f), 3, 32)
    assert(r.map(_._2).toSeq === Seq(42L))
  }

  test("selector search: only allowed labels surface, traversal keeps connectivity") {
    val pts = randomPoints(2000, 8, seed = 17L)
    val g = Nsw.build(pts, m = 16, efConstruction = 96)
    val L2SQ = graft.functions.VectorMath.L2SQ
    val rnd = new scala.util.Random(23L)
    var hits = 0; var total = 0
    for (_ <- 0 until 20) {
      val q = Array.fill(8)(rnd.nextFloat() * 10f)
      val res = Nsw.search(g, q, 10, 128, L2SQ, _ % 2 == 0)
      assert(res.forall(_._2 % 2 == 0), "odd label leaked through the selector")
      assert(res.length === 10, "half the corpus is allowed; k must fill")
      // distances ascend (best first)
      assert(res.map(_._1).toSeq === res.map(_._1).sorted.toSeq)
      val truth = bruteTopK(pts.filter(_._1 % 2 == 0), q, 10).toSet
      hits += res.count(r => truth(r._2)); total += 10
    }
    assert(hits.toDouble / total >= 0.85,
      s"filtered recall@10 degraded to ${hits.toDouble / total}")
  }

  test("selector search with a singleton selector finds the one allowed point") {
    val pts = randomPoints(500, 4, seed = 5L)
    val g = Nsw.build(pts, m = 8, efConstruction = 64)
    val L2SQ = graft.functions.VectorMath.L2SQ
    // the sole allowed node is FAR from the query — only a traversal
    // that keeps full connectivity while collecting every visited
    // allowed node can still surface it at high ef
    val res = Nsw.search(g, Array(0f, 0f, 0f, 0f), 3, 500, L2SQ, _ == 499L)
    assert(res.map(_._2).toSeq === Seq(499L))
  }

  test("selector allowing everything equals the plain search") {
    val pts = randomPoints(1000, 8, seed = 29L)
    val g = Nsw.build(pts, m = 16, efConstruction = 96)
    val L2SQ = graft.functions.VectorMath.L2SQ
    val q = Array.fill(8)(3.3f)
    val plain = Nsw.search(g, q, 10, 96, L2SQ).toSeq
    val sel = Nsw.search(g, q, 10, 96, L2SQ, _ => true).toSeq
    assert(sel === plain)
  }

  test("merged beam matches the separate plain and selector beams it replaced") {
    val VM = graft.functions.VectorMath
    val rnd = new scala.util.Random(53L)
    val base = randomPoints(40, 6, seed = 61L)
    val graphs = Seq(
      "random" -> randomPoints(600, 6, seed = 59L),
      // 40 distinct vectors x 5 labels each, plus 100 unique points
      "collapsed" -> ((0 until 5).flatMap(c => base.map { case (l, v) => (c * 1000L + l, v) }) ++
        randomPoints(100, 6, seed = 67L).map { case (l, v) => (50000L + l, v) }).toArray,
      "single" -> Array((42L, Array.fill(6)(1f))),
      "empty" -> Array.empty[(Long, Array[Float])])
    val selectors: Seq[(String, Long => Boolean)] = Seq(
      "all" -> (_ => true), "even" -> (_ % 2 == 0), "singleton" -> (_ == 17L),
      // passes only non-minimum labels of a collapsed node
      "later copies" -> (_ / 1000 % 2 == 1), "none" -> (_ => false))
    var compared = 0
    for (metric <- Seq(VM.L2SQ, VM.IP, VM.COSINE); (gName, pts) <- graphs) {
      val g = Nsw.build(pts, m = 8, efConstruction = 48, metricId = metric)
      if (gName == "collapsed") assert(g.labels.length === 140)
      val queries = Array.fill(12)(Array.fill(6)(rnd.nextFloat() * 10f - 2f))
      for (q <- queries; k <- Seq(1, 5, 12); ef <- Seq(1, 24, 80)) {
        val ctx = s"metric=$metric graph=$gName k=$k ef=$ef"
        assert(Nsw.search(g, q, k, ef, metric).toSeq ===
          ReferenceBeams.search(g, q, k, ef, metric).toSeq, ctx)
        for ((sName, sel) <- selectors) {
          assert(Nsw.search(g, q, k, ef, metric, sel).toSeq ===
            ReferenceBeams.searchSel(g, q, k, ef, metric, sel).toSeq, s"$ctx selector=$sName")
          compared += 1
        }
      }
    }
    assert(compared === 3 * 4 * 12 * 3 * 3 * 5)
  }
}

/** The HNSW beams as they stood before the selector moved into
  * `Nsw.searchLayer`: a plain layer-0 beam and a separate selector beam
  * that also queues every visited allowed node. Kept verbatim (greedy
  * descent and expansion included) as the reference the merged beam
  * must reproduce result for result. */
private object ReferenceBeams {
  import scala.collection.mutable
  import graft.functions.VectorMath
  import Nsw.Graph

  private def rawDist(metricId: Int, a: Array[Float], b: Array[Float]): Double = {
    val VM = VectorMath
    def l2sq(a: Array[Float], b: Array[Float]) = VM.distArr(VM.L2SQ, a, b, 0.0)
    def ip(a: Array[Float], b: Array[Float]) = VM.distArr(VM.IP, a, b, 0.0)
    metricId match {
      case VM.L2SQ => l2sq(a, b)
      case VM.L2 => math.sqrt(l2sq(a, b))
      case VM.IP => ip(a, b)
      case VM.COSINE =>
        val num = ip(a, b)
        val den = math.sqrt(ip(a, a)) * math.sqrt(ip(b, b))
        if (den == 0.0) 1.0 else 1.0 - num / den
    }
  }

  private def key(metricId: Int, a: Array[Float], b: Array[Float]): Double = {
    val d = rawDist(metricId, a, b)
    if (VectorMath.smallerIsCloser(metricId)) d else -d
  }

  private def greedyClosest(
      vecs: Array[Array[Float]], adj: Array[Array[Array[Int]]],
      layer: Int, start: Int, q: Array[Float], metricId: Int): Int = {
    var cur = start
    var curD = key(metricId, q, vecs(cur))
    var improved = true
    while (improved) {
      improved = false
      val nbs = adj(cur)(layer)
      var i = 0
      while (i < nbs.length) {
        val nb = nbs(i)
        val d = key(metricId, q, vecs(nb))
        if (d < curD) { curD = d; cur = nb; improved = true }
        i += 1
      }
    }
    cur
  }

  private def searchLayer(
      vecs: Array[Array[Float]], adj: Int => scala.collection.Seq[Int],
      labelOf: Int => Long, nNodes: Int,
      start: Int, q: Array[Float], k: Int, ef: Int, metricId: Int): Array[(Double, Int)] = {
    if (nNodes == 0) return Array.empty
    val visited = new java.util.BitSet(nNodes)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
    val resOrd: Ordering[(Double, Int)] =
      Ordering.by { case (d, idx) => (d, labelOf(idx)) }
    val res = mutable.PriorityQueue.empty[(Double, Int)](resOrd)
    val d0 = key(metricId, q, vecs(start))
    cand.enqueue((d0, start)); res.enqueue((d0, start)); visited.set(start)
    val width = math.max(ef, k)
    while (cand.nonEmpty) {
      val (d, node) = cand.dequeue()
      if (d > res.head._1 && res.size >= width) {
        cand.clear()
      } else {
        val neighbors = adj(node)
        var i = 0
        while (i < neighbors.length) {
          val nb = neighbors(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val dn = key(metricId, q, vecs(nb))
            if (res.size < width || resOrd.lt((dn, nb), res.head)) {
              cand.enqueue((dn, nb))
              res.enqueue((dn, nb))
              if (res.size > width) res.dequeue()
            }
          }
          i += 1
        }
      }
    }
    res.dequeueAll.reverse.take(k).toArray
  }

  def search(g: Graph, q: Array[Float], k: Int, efSearch: Int,
      metricId: Int): Array[(Double, Long)] = {
    if (g.labels.isEmpty) return Array.empty
    var ep = g.entry
    var l = g.maxLevel
    while (l > 0) { ep = greedyClosest(g.vecs, g.adj, l, ep, q, metricId); l -= 1 }
    val nodes = searchLayer(
      g.vecs, i => scala.collection.immutable.ArraySeq.unsafeWrapArray(g.adj(i)(0)),
      g.labels(_), g.labels.length, ep, q, k, math.max(efSearch, k), metricId)
    val out = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    nodes.foreach { case (kd, idx) =>
      val rd = rawDist(metricId, q, g.vecs(idx))
      g.dups(idx).foreach(l => out += ((kd, rd, l)))
    }
    out.sortBy { case (kd, _, l) => (kd, l) }.take(k)
      .map { case (_, rd, l) => (rd, l) }.toArray
  }

  def searchSel(g: Graph, q: Array[Float], k: Int, efSearch: Int,
      metricId: Int, allowedLabel: Long => Boolean): Array[(Double, Long)] = {
    if (g.labels.isEmpty) return Array.empty
    var ep = g.entry
    var l = g.maxLevel
    while (l > 0) { ep = greedyClosest(g.vecs, g.adj, l, ep, q, metricId); l -= 1 }
    val vecs = g.vecs
    val adj = g.adj
    val nNodes = g.labels.length
    val visited = new java.util.BitSet(nNodes)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
    val beamOrd: Ordering[(Double, Int)] =
      Ordering.by { case (d, idx) => (d, g.labels(idx)) }
    val beam = mutable.PriorityQueue.empty[(Double, Int)](beamOrd)
    val sel = mutable.PriorityQueue.empty[(Double, Int)](beamOrd)
    val width = math.max(efSearch, k)
    def visit(idx: Int, d: Double): Unit = {
      val ls = g.dups(idx)
      var i = 0
      var any = false
      while (i < ls.length && !any) { any = allowedLabel(ls(i)); i += 1 }
      if (any) {
        sel.enqueue((d, idx))
        if (sel.size > width) sel.dequeue()
      }
    }
    val d0 = key(metricId, q, vecs(ep))
    cand.enqueue((d0, ep)); beam.enqueue((d0, ep)); visited.set(ep); visit(ep, d0)
    while (cand.nonEmpty) {
      val (d, node) = cand.dequeue()
      if (d > beam.head._1 && beam.size >= width) cand.clear()
      else {
        val neighbors = adj(node)(0)
        var i = 0
        while (i < neighbors.length) {
          val nb = neighbors(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val dn = key(metricId, q, vecs(nb))
            visit(nb, dn)
            if (beam.size < width || beamOrd.lt((dn, nb), beam.head)) {
              cand.enqueue((dn, nb))
              beam.enqueue((dn, nb))
              if (beam.size > width) beam.dequeue()
            }
          }
          i += 1
        }
      }
    }
    val out = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    sel.dequeueAll.reverse.take(k).foreach { case (kd, idx) =>
      val rd = rawDist(metricId, q, vecs(idx))
      g.dups(idx).foreach(l => if (allowedLabel(l)) out += ((kd, rd, l)))
    }
    out.sortBy { case (kd, _, l) => (kd, l) }.take(k)
      .map { case (_, rd, l) => (rd, l) }.toArray
  }
}
