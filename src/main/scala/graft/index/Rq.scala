package graft.index

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Residual (additive) quantization — the FAISS `RQ<m>x8` factory
 * family (Chen, Guan & Wang 2010, "Approximate Nearest Neighbor Search
 * by Residual Vector Quantization"): `m` FULL-dimension codebooks of
 * 256 centroids each, trained greedily stage by stage on the residual
 * of the previous stages; a vector encodes to the m byte ids whose
 * codebook SUM best approximates it. Same m-byte footprint as PQ, but
 * stages refine the whole vector instead of slicing it, which wins
 * when dimensions are correlated (PQ's independence assumption fails).
 *
 * Search is asymmetric: decode the additive approximation inside the
 * distance loop and take exact L2 to the query (the SQ shape, not
 * PQ's LUT — an RQ LUT needs cross-term tables; decode-in-loop is
 * exact w.r.t. the stored approximation and keeps the kernel shared
 * between the row and packed plans, which is what the bit-equality
 * parity rests on). Exact re-rank on raw vectors follows, as for
 * every coded index here.
 */
object Rq {

  /** codebooks(stage)(centroid)(dim) — greedy residual training:
    * stage j's k-means runs on what stages 0..j-1 left unexplained */
  def train(
      samples: Array[Array[Float]], m: Int, seed: Long,
      maxIter: Int = 8): Array[Array[Array[Float]]] = {
    require(samples.nonEmpty, "RQ training needs a non-empty sample")
    val dim = samples(0).length
    val residuals = samples.map(_.clone())
    val books = new Array[Array[Array[Float]]](m)
    var stage = 0
    while (stage < m) {
      val book = Pq.localKMeans(residuals, math.min(256, residuals.length), seed + stage, maxIter)
      books(stage) = book
      // subtract each residual's nearest centroid (the same argmin rule
      // encodeOne replays, so training and encoding agree on stages)
      var p = 0
      while (p < residuals.length) {
        val r = residuals(p)
        val best = nearestIn(book, r)
        val cen = book(best)
        var i = 0
        while (i < dim) { r(i) -= cen(i); i += 1 }
        p += 1
      }
      stage += 1
    }
    books
  }

  private def nearestIn(book: Array[Array[Float]], v: Array[Float]): Int = {
    // opt-in SIMD (encode is per-corpus-row at build time — the
    // additive family's scale cost); argmin flips only on sub-1e-15
    // near-ties, the declared contract, and the default stays scalar
    if (graft.functions.VectorMath.Simd.active)
      return graft.functions.SimdKernels.nearestL2(book, v)
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cen = book(c)
      var d = 0.0; var i = 0
      // early abandon: d only grows (identical argmin, ~2x fewer flops)
      while (i < v.length && d < bestD) {
        val t = v(i).toDouble - cen(i); d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** greedy encode: stage j picks the centroid nearest the running
    * residual, exactly the training-time rule */
  def encodeOne(v: ArrayData, books: Array[Array[Array[Float]]]): Array[Byte] = {
    val dim = books(0)(0).length
    val r = new Array[Float](dim)
    var i = 0
    while (i < dim) { r(i) = v.getFloat(i); i += 1 }
    val out = new Array[Byte](books.length)
    var stage = 0
    while (stage < books.length) {
      val book = books(stage)
      val best = nearestIn(book, r)
      val cen = book(best)
      var j = 0
      while (j < dim) { r(j) -= cen(j); j += 1 }
      out(stage) = best.toByte
      stage += 1
    }
    out
  }

  /** additive decode: the stored approximation is the SUM of the m
    * chosen centroids (float accumulation in stage order — the one
    * canonical order both plans share) */
  def decodeOne(code: Array[Byte], books: Array[Array[Array[Float]]]): Array[Float] =
    decodeAt(code, 0, code.length, books)

  private def decodeAt(
      code: Array[Byte], off: Int, width: Int,
      books: Array[Array[Array[Float]]]): Array[Float] = {
    val dim = books(0)(0).length
    val out = new Array[Float](dim)
    var stage = 0
    while (stage < width) {
      val cen = books(stage)(code(off + stage) & 0xff)
      var i = 0
      while (i < dim) { out(i) += cen(i); i += 1 }
      stage += 1
    }
    out
  }

  /** asymmetric L2^2 of the additive approximation of the code at
    * code[off, off + width) — identical decode + accumulation order for
    * every slice, so distances are bit-equal between the row and packed
    * plans */
  def l2DistanceAt(
      code: Array[Byte], off: Int, width: Int, q: Array[Float],
      books: Array[Array[Array[Float]]]): Double =
    l2DistanceAt(code, off, width, q, books, new Array[Float](books(0)(0).length))

  /** [[l2DistanceAt]] decoding into a caller-owned scratch buffer
    * (length >= dim) — the hot packed-scan path scores millions of
    * candidates per task and a fresh dim-length float array per
    * candidate is pure GC pressure; expression eval is single-threaded
    * per task, so a per-scorer scratch is safe. The additive decode
    * runs stage-by-stage into the scratch in EXACTLY the order of the
    * allocating overload (float accumulation, stage order, then the
    * double L2 pass), so distances stay bit-equal across all plans. */
  def l2DistanceAt(
      code: Array[Byte], off: Int, width: Int, q: Array[Float],
      books: Array[Array[Array[Float]]], scratch: Array[Float]): Double = {
    // opt-in SIMD twin (graft.functions.SimdKernels.rqL2, shared by LSQ,
    // whose codes decode additively like RQ's): the additive decode runs
    // per-lane in stage order — decoded values BIT-equal to this scratch
    // loop — and only the distance sum is lane-reassociated; registers
    // replace the scratch entirely. OFF by default, same gate as distArr.
    if (graft.functions.VectorMath.Simd.active)
      return graft.functions.SimdKernels.rqL2(code, off, width, q, books)
    val dim = books(0)(0).length
    java.util.Arrays.fill(scratch, 0, dim, 0.0f)
    var stage = 0
    while (stage < width) {
      val cen = books(stage)(code(off + stage) & 0xff)
      var i = 0
      while (i < dim) { scratch(i) += cen(i); i += 1 }
      stage += 1
    }
    var d = 0.0
    var i = 0
    while (i < dim) { val t = q(i).toDouble - scratch(i); d += t * t; i += 1 }
    d
  }
}
