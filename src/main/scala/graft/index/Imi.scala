package graft.index

/**
 * Inverted multi-index coarse quantizer — the FAISS `IMI2x<n>` factory
 * family (Babenko & Lempitsky 2012, "The Inverted Multi-Index"; the
 * reference accepts the factory string verbatim by delegating to
 * faiss::index_factory, reference src/faiss_extension.cpp:155 region).
 * The coarse space is the PRODUCT of two codebooks, one per half of
 * the dimensions, K = 2^n centroids each → nlist = K² cells, with
 * assignment cost 2·K·(d/2) instead of K²·d. Cell id is the FAISS
 * convention `i·K + j` (first-half code is the high digit).
 *
 * L2 decomposes over disjoint dim ranges, so:
 * - top-1 assignment = (argmin half₁) · K + (argmin half₂), EXACTLY
 *   the flat argmin over the K² concatenated product centroids;
 * - probing enumerates cells in increasing d₁(i)+d₂(j) order via the
 *   multi-sequence algorithm (the paper's §3.1) — exact probe order,
 *   not a heuristic.
 * Coarse distance is always L2 (the FAISS IMI convention; inner-
 * product metric is rejected at create).
 */
object Imi {

  /** train the two half-space codebooks: k-means per half over the
    * sample — deterministic in (pts, k, seed) like every trainer here */
  def train(pts: Array[Array[Float]], k: Int, seed: Long, maxIter: Int = 10)
      : Array[Array[Array[Float]]] = {
    require(pts.nonEmpty, "IMI training needs a non-empty sample")
    val dim = pts(0).length
    require(dim % 2 == 0, s"IMI2x needs an even dim, got $dim")
    val half = dim / 2
    val lo = pts.map(_.slice(0, half))
    val hi = pts.map(_.slice(half, dim))
    val kk = math.min(k, pts.length)
    Array(
      Pq.localKMeans(lo, kk, seed, maxIter),
      Pq.localKMeans(hi, kk, seed + 7919, maxIter))
  }

  /** concatenated product centroids in cell-id order (i·K + j) — the
    * K² virtual coarse table, materialized for the shared IVF save
    * layout. Bounded by the create-time cap on n (IMI2x8 → 65 536
    * cells ≈ the IVF65536 table). */
  def productCentroids(books: Array[Array[Array[Float]]]): Array[Array[Float]] = {
    val Array(b1, b2) = books
    val k2 = b2.length
    Array.tabulate(b1.length * k2) { cell =>
      val i = cell / k2
      val j = cell % k2
      b1(i) ++ b2(j)
    }
  }

  private def halfDists(q: Array[Float], book: Array[Array[Float]], off: Int): Array[Double] = {
    val out = new Array[Double](book.length)
    val simd = graft.functions.VectorMath.Simd.active // opt-in, reassociated sums
    var c = 0
    while (c < book.length) {
      val cen = book(c)
      if (simd) out(c) = graft.functions.SimdKernels.l2sqOff(q, off, cen)
      else {
        var d = 0.0
        var i = 0
        while (i < cen.length) { val t = q(off + i).toDouble - cen(i); d += t * t; i += 1 }
        out(c) = d
      }
      c += 1
    }
    out
  }

  /** top-1 cell — the assignment hot path: two half argmins, no heap.
    * NaN halves (all distances NaN) yield no assignment, matching
    * NearestCentroids' all-NaN convention. */
  def assignCell(q: Array[Float], books: Array[Array[Array[Float]]]): Int = {
    val Array(b1, b2) = books
    val half = b1(0).length
    val simd = graft.functions.VectorMath.Simd.active // IMI assignment is per corpus row
    var best1 = -1; var bd1 = Double.MaxValue
    var c = 0
    while (c < b1.length) {
      val cen = b1(c)
      var d = 0.0
      if (simd) d = graft.functions.SimdKernels.l2sqOff(q, 0, cen)
      else {
        var i = 0
        while (i < half) { val t = q(i).toDouble - cen(i); d += t * t; i += 1 }
      }
      if (!java.lang.Double.isNaN(d) && d < bd1) { bd1 = d; best1 = c }
      c += 1
    }
    var best2 = -1; var bd2 = Double.MaxValue
    c = 0
    while (c < b2.length) {
      val cen = b2(c)
      var d = 0.0
      if (simd) d = graft.functions.SimdKernels.l2sqOff(q, half, cen)
      else {
        var i = 0
        while (i < cen.length) { val t = q(half + i).toDouble - cen(i); d += t * t; i += 1 }
      }
      if (!java.lang.Double.isNaN(d) && d < bd2) { bd2 = d; best2 = c }
      c += 1
    }
    if (best1 < 0 || best2 < 0) -1 else best1 * b2.length + best2
  }

  /**
   * Multi-sequence enumeration (Babenko & Lempitsky §3.1): the nprobe
   * cells with the smallest d₁(i)+d₂(j), visited in exact ascending
   * order. Each half's distances are sorted once (2·K log K), then a
   * frontier heap expands (i+1, j) and (i, j+1) from each popped pair —
   * O(nprobe·log nprobe) pops, never the K² table.
   */
  def probeCells(q: Array[Float], books: Array[Array[Array[Float]]], nprobe: Int): Seq[Int] = {
    val Array(b1, b2) = books
    val half = b1(0).length
    val d1 = halfDists(q, b1, 0)
    val d2 = halfDists(q, b2, half)
    val k2 = b2.length
    val ord1 = d1.indices.sortBy(d1(_)).toArray // rank -> centroid id
    val ord2 = d2.indices.sortBy(d2(_)).toArray
    val n = math.min(nprobe, d1.length * k2)
    val out = new Array[Int](n)
    // frontier of (rank1, rank2) pairs keyed by summed distance; ties
    // broken by (rank1, rank2) for a deterministic probe order
    val heap = new java.util.PriorityQueue[(Double, Int, Int)](
      (a: (Double, Int, Int), b: (Double, Int, Int)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c
        else {
          val c1 = Integer.compare(a._2, b._2)
          if (c1 != 0) c1 else Integer.compare(a._3, b._3)
        }
      })
    val seen = new java.util.HashSet[Long]()
    def push(r1: Int, r2: Int): Unit =
      if (r1 < ord1.length && r2 < ord2.length && seen.add(r1.toLong * k2 + r2))
        heap.add((d1(ord1(r1)) + d2(ord2(r2)), r1, r2))
    push(0, 0)
    var filled = 0
    while (filled < n && !heap.isEmpty) {
      val (_, r1, r2) = heap.poll()
      out(filled) = ord1(r1) * k2 + ord2(r2)
      filled += 1
      push(r1 + 1, r2)
      push(r1, r2 + 1)
    }
    out.take(filled).toSeq
  }
}
