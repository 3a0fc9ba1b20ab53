package graft.index

import scala.collection.mutable

import graft.functions.Hash64

/**
 * Layered navigable-small-world graph (HNSW proper), built and searched
 * inside one partition. Distribution model: each partition owns an
 * independent graph over its shard; a query greedily searches every
 * shard graph in parallel and the per-shard top-k merge globally —
 * the standard sharded-HNSW architecture (and the only one that
 * scales: graph edges can't cross executors cheaply).
 *
 * Layer assignment follows the HNSW paper (Malkov & Yashunin 2016):
 * level ~ floor(-ln(U) * mL) with mL = 1/ln(m), but U derives from a
 * hash of the LABEL, so shard graphs are deterministic functions of
 * their rows (rebuilds after save/load or repartition stay stable per
 * shard content, no RNG state). Upper layers hold geometrically
 * thinning subsets; search greedily descends them to a good layer-0
 * entry, cutting hops on large shards vs a flat NSW.
 *
 * Mirrors the reference's `IDMap,HNSW32` factory surface with
 * `efConstruction` / `efSearch` parameters (duckdb-faiss-ext README
 * "faiss_create_params").
 */
object Nsw {

  final case class Graph(
      labels: Array[Long],
      vecs: Array[Array[Float]],
      levels: Array[Int],
      adj: Array[Array[Array[Int]]], // adj(node)(layer), layer <= levels(node)
      entry: Int,
      maxLevel: Int,
      // ALL labels each node carries: byte-identical vectors collapse to
      // one graph node at build (the greedy walk would otherwise stall
      // inside zero-distance clusters on replicated corpora — recall
      // collapsed at the 1M baseline rung), expanded back at emit
      dups: Array[Array[Long]])

  // loops identical to VectorMath.distArr's scalar hot paths, so
  // delegating costs nothing and picks up the opt-in SIMD gate for
  // graph build + traversal (same declared reassociation contract)
  @inline private def l2sq(a: Array[Float], b: Array[Float]): Double =
    graft.functions.VectorMath.distArr(graft.functions.VectorMath.L2SQ, a, b, 0.0)

  @inline private def ip(a: Array[Float], b: Array[Float]): Double =
    graft.functions.VectorMath.distArr(graft.functions.VectorMath.IP, a, b, 0.0)

  /** metrics the graph supports (FAISS HNSW: L2/IP; cosine and true
    * euclidean are monotone friends); validated at index create */
  def supportsMetric(metricId: Int): Boolean =
    metricId == graft.functions.VectorMath.L2SQ || metricId == graft.functions.VectorMath.L2 ||
      metricId == graft.functions.VectorMath.IP || metricId == graft.functions.VectorMath.COSINE

  /** raw metric distance, reported in results */
  @inline private def rawDist(metricId: Int, a: Array[Float], b: Array[Float]): Double = {
    val VM = graft.functions.VectorMath
    metricId match {
      case VM.L2SQ => l2sq(a, b)
      case VM.L2 => math.sqrt(l2sq(a, b))
      case VM.IP => ip(a, b)
      case VM.COSINE =>
        val num = ip(a, b)
        val den = math.sqrt(ip(a, a)) * math.sqrt(ip(b, b))
        if (den == 0.0) 1.0 else 1.0 - num / den
      case other => throw new IllegalArgumentException(s"HNSW does not support metric id $other")
    }
  }

  /** canonical ascending ordering key (larger-is-better metrics negate) */
  @inline private def key(metricId: Int, a: Array[Float], b: Array[Float]): Double = {
    val d = rawDist(metricId, a, b)
    if (graft.functions.VectorMath.smallerIsCloser(metricId)) d else -d
  }

  private val maxLevelCap = 16

  /** deterministic geometric level from the label hash (not an RNG) */
  private def levelFor(label: Long, mL: Double): Int = {
    val u = ((Hash64.mix(label) >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    math.min(maxLevelCap, (-math.log(u) * mL).toInt)
  }

  /** hill-climb to the closest node on one layer (ef=1 descent step) */
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

  /**
   * best-first beam search on one layer from `start`; returns up to k
   * (dist, idx) best-first. `labelOf` breaks distance ties (matching
   * exact search's deterministic (dist, label) ordering) so shard
   * results merge consistently.
   *
   * With a node selector (`allowed` non-null — FAISS
   * `SearchParametersHNSW::sel`) the beam still TRAVERSES the full
   * graph (skipping disallowed nodes would sever connectivity), and a
   * second bounded queue keeps the best `width` ALLOWED visited nodes;
   * that queue is the result. Every visited allowed node is a
   * candidate, not only beam survivors, so a selective filter degrades
   * recall no faster than FAISS's own selector path. Without a
   * selector (plain search, graph build) the loop does no selector work.
   */
  private def searchLayer(
      vecs: Array[Array[Float]], adj: Int => scala.collection.Seq[Int],
      labelOf: Int => Long, nNodes: Int,
      start: Int, q: Array[Float], k: Int, ef: Int, metricId: Int,
      allowed: Int => Boolean = null): Array[(Double, Int)] = {
    if (nNodes == 0) return Array.empty
    val visited = new java.util.BitSet(nNodes)
    // candidates: min-heap by distance; results: bounded max-heap on (dist, label)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
    val resOrd: Ordering[(Double, Int)] =
      Ordering.by { case (d, idx) => (d, labelOf(idx)) }
    val res = mutable.PriorityQueue.empty[(Double, Int)](resOrd)
    val sel = if (allowed == null) null else mutable.PriorityQueue.empty[(Double, Int)](resOrd)
    val width = math.max(ef, k)
    @inline def visit(d: Double, idx: Int): Unit =
      if (sel != null && allowed(idx)) {
        sel.enqueue((d, idx))
        if (sel.size > width) sel.dequeue()
      }
    val d0 = key(metricId, q, vecs(start))
    cand.enqueue((d0, start)); res.enqueue((d0, start)); visited.set(start); visit(d0, start)
    while (cand.nonEmpty) {
      val (d, node) = cand.dequeue()
      if (d > res.head._1 && res.size >= width) {
        cand.clear() // frontier strictly worse than the worst retained result
      } else {
        val neighbors = adj(node)
        var i = 0
        while (i < neighbors.length) {
          val nb = neighbors(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val dn = key(metricId, q, vecs(nb))
            visit(dn, nb)
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
    (if (sel == null) res else sel).dequeueAll.reverse.take(k).toArray
  }

  /** incremental insert-based construction, one layer stack per node.
    * Byte-identical vectors (raw float bits) collapse into ONE node
    * carrying all their labels; representative label = the group MIN,
    * so levels and tie-breaks stay deterministic regardless of arrival
    * order. Dup-free inputs take the identical code path as before. */
  def build(items: Array[(Long, Array[Float])], m: Int, efConstruction: Int,
      metricId: Int = graft.functions.VectorMath.L2SQ): Graph = {
    val idx = mutable.HashMap.empty[Seq[Int], Int]
    val groupVecs = mutable.ArrayBuffer.empty[Array[Float]]
    val groupLabels = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Long]]
    items.foreach { case (lbl, v) =>
      val bits = new Array[Int](v.length)
      var i = 0
      while (i < v.length) { bits(i) = java.lang.Float.floatToRawIntBits(v(i)); i += 1 }
      val k = scala.collection.immutable.ArraySeq.unsafeWrapArray(bits)
      idx.get(k) match {
        case Some(g) => groupLabels(g) += lbl
        case None =>
          idx(k) = groupVecs.length
          groupVecs += v
          groupLabels += mutable.ArrayBuffer(lbl)
      }
    }
    if (groupVecs.length < items.length)
      buildNodes(
        Array.tabulate(groupVecs.length)(i => (groupLabels(i).min, groupVecs(i))),
        Array.tabulate(groupVecs.length)(i => groupLabels(i).toArray.sorted),
        m, efConstruction, metricId)
    else
      buildNodes(items, items.map(it => Array(it._1)), m, efConstruction, metricId)
  }

  private def buildNodes(items: Array[(Long, Array[Float])], dups: Array[Array[Long]],
      m: Int, efConstruction: Int, metricId: Int): Graph = {
    val n = items.length
    if (n == 0)
      return Graph(Array.empty, Array.empty, Array.empty, Array.empty, -1, -1, Array.empty)
    val labels = items.map(_._1)
    val vecs = items.map(_._2)
    val mL = 1.0 / math.log(math.max(2, m).toDouble)
    val levels = labels.map(levelFor(_, mL))
    val maxDegree0 = 2 * m
    val adjB = Array.tabulate(n)(i => Array.fill(levels(i) + 1)(mutable.ArrayBuffer.empty[Int]))
    // frozen array view for greedyClosest during construction
    def adjView(node: Int)(layer: Int): mutable.ArrayBuffer[Int] = adjB(node)(layer)
    var entry = 0
    var maxLevel = levels(0)
    var i = 1
    while (i < n) {
      val li = levels(i)
      var ep = entry
      // ef=1 greedy descent through layers the new node does not reach
      var lc = maxLevel
      while (lc > li) {
        var cur = ep
        var curD = key(metricId, vecs(i), vecs(cur))
        var improved = true
        while (improved) {
          improved = false
          val nbs = adjView(cur)(lc)
          var j = 0
          while (j < nbs.length) {
            val nb = nbs(j)
            val d = key(metricId, vecs(i), vecs(nb))
            if (d < curD) { curD = d; cur = nb; improved = true }
            j += 1
          }
        }
        ep = cur
        lc -= 1
      }
      // beam-insert on every layer the node lives on
      var l = math.min(li, maxLevel)
      while (l >= 0) {
        val near = searchLayer(
          vecs, node => adjView(node)(l), labels(_), i, ep, vecs(i), m, efConstruction, metricId)
        val cap = if (l == 0) maxDegree0 else m
        near.foreach { case (_, nb) =>
          adjB(i)(l) += nb
          adjB(nb)(l) += i
          if (adjB(nb)(l).length > cap) {
            // prune to the m closest neighbors (simple heuristic)
            val pruned = adjB(nb)(l).map(x => (key(metricId, vecs(nb), vecs(x)), x))
              .sortBy(_._1).take(m).map(_._2)
            adjB(nb)(l).clear(); adjB(nb)(l) ++= pruned
          }
        }
        if (near.nonEmpty) ep = near(0)._2
        l -= 1
      }
      if (li > maxLevel) { maxLevel = li; entry = i }
      i += 1
    }
    Graph(labels, vecs, levels, adjB.map(_.map(_.toArray)), entry, maxLevel, dups)
  }

  /** top-k labels for a query: greedy descent to layer 0, then beam.
    * Returns (RAW metric distance, label) — the ordering key negates
    * larger-is-better metrics internally. A non-null `allowed` is the
    * label selector applied inside the layer-0 beam (see searchLayer);
    * a collapsed node is a candidate when ANY of its labels passes, and
    * disallowed labels are dropped at expansion. */
  def search(g: Graph, q: Array[Float], k: Int, efSearch: Int,
      metricId: Int = graft.functions.VectorMath.L2SQ,
      allowed: Long => Boolean = null): Array[(Double, Long)] = {
    if (g.labels.isEmpty) return Array.empty
    var ep = g.entry
    var l = g.maxLevel
    while (l > 0) { ep = greedyClosest(g.vecs, g.adj, l, ep, q, metricId); l -= 1 }
    val allowedNode: Int => Boolean = if (allowed == null) null else { idx =>
      val ls = g.dups(idx)
      var i = 0
      var any = false
      while (i < ls.length && !any) { any = allowed(ls(i)); i += 1 }
      any
    }
    val nodes = searchLayer(
      g.vecs, i => scala.collection.immutable.ArraySeq.unsafeWrapArray(g.adj(i)(0)),
      g.labels(_), g.labels.length, ep, q, k, math.max(efSearch, k), metricId, allowedNode)
    expand(g, q, nodes, k, metricId, allowed)
  }

  /** top-k NODES → top-k (dist, label) pairs, re-inflating collapsed
    * duplicate labels (only the `allowed` ones, when a selector is
    * given). k nodes provably suffice: every node ranked before a top-k
    * label's node contributes at least one candidate that sorts
    * earlier, so the label's node is within the first k. */
  private def expand(g: Graph, q: Array[Float], nodes: Array[(Double, Int)], k: Int,
      metricId: Int, allowed: Long => Boolean): Array[(Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double, Long)] // (key, raw, label)
    nodes.foreach { case (kd, idx) =>
      val rd = rawDist(metricId, q, g.vecs(idx))
      g.dups(idx).foreach(l => if (allowed == null || allowed(l)) out += ((kd, rd, l)))
    }
    out.sortBy { case (kd, _, l) => (kd, l) }.take(k)
      .map { case (_, rd, l) => (rd, l) }.toArray
  }
}
