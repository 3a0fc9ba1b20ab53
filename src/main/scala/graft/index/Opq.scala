package graft.index

/**
 * OPQ pre-transform for factory strings like `OPQ8,PQ8` (FAISS
 * index_factory OPQ prefix; the reference passes factory strings
 * straight to faiss::index_factory, /root/reference/src/
 * faiss_extension.cpp:155). Learns an orthogonal rotation R that
 * minimizes PQ quantization error (Ge et al., "Optimized Product
 * Quantization", CVPR 2013 — the non-parametric alternation):
 *
 *   repeat: rotate sample -> train/encode PQ -> procrustes-refit R
 *   where argmin_R ||X R - Y||_F s.t. R'R = I  is  R = U V'
 *   for the SVD  X' Y = U S V'.
 *
 * The rotation is stored in the SAME (mean, comps) shape as the PCA
 * transform (mean = 0, comps = R rows), so OPQ and PCA share one
 * pretransform body: `IndexCatalog.OpqKind` differs from `PcaKind`
 * only in how it trains the transform, and projection (PcaProject),
 * the inner index's training in the projected space, the PcaBuilt
 * wrapper and the `pca` save part are one code path (the inner
 * index's trained parts, a graph coarse's adjacency included, save as
 * they do at top level). A rotation is an isometry, so L2/IP/cosine
 * search through it is exact up to the inner index's own approximation.
 *
 * Training is driver-side on the usual bounded sample, seeded and
 * chunk-deterministic (localKMeans); the per-iteration PQ re-trains use
 * few Lloyd's iterations — the alternation only needs a descent
 * direction, the FINAL codebooks are trained afterwards by the normal
 * inner-index path on fully-rotated points.
 */
object Opq {

  /** returns comps: comps(j)(i) = R(i)(j), i.e. the PCA-compatible
    * row-basis form where y_j = comps(j) . x */
  def train(
      samples: Array[Array[Float]], m: Int,
      iters: Int = 3, seed: Long = 42L): Array[Array[Float]] = {
    require(samples.nonEmpty, "OPQ training needs a non-empty sample")
    val dim = samples(0).length
    require(dim % m == 0, s"dim $dim not divisible by OPQ m=$m")
    // the alternation converges on a couple thousand points; cap so each
    // iteration's per-subspace kmeans stays cheap (quality is gated by
    // OpqSpec's reconstruction-error-improvement assertion)
    val pts = if (samples.length > 2048) samples.take(2048) else samples
    val n = pts.length
    // FAISS-style init: a seeded RANDOM rotation, not identity — the
    // identity is a fixed point of the alternation whenever the PQ
    // reconstruction is near-symmetric in X (procrustes of an almost-
    // PSD X'Y returns ~I), so starting there can leave cross-subspace
    // correlation untouched
    var r = randomRotation(dim, seed)
    var it = 0
    while (it < iters) {
      // Y = X R  (row-vector convention)
      val rotated = pts.map(applyRot(_, r))
      val books = Pq.train(rotated, m, seed + it, maxIter = 3)
      // reconstructions of the rotated points
      val recon = rotated.map(reconstruct(_, books))
      // M = X' Yhat  (dim x dim)
      val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      var s = 0
      while (s < n) {
        val x = pts(s); val y = recon(s)
        var i = 0
        while (i < dim) {
          val xi = x(i).toDouble
          var j = 0
          while (j < dim) { mMat(i, j) += xi * y(j); j += 1 }
          i += 1
        }
        s += 1
      }
      val svd = breeze.linalg.svd(mMat)
      val u = svd.U; val vt = svd.Vt
      // R = U V'
      val next = Array.ofDim[Double](dim, dim)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          var k = 0; var acc = 0.0
          while (k < dim) { acc += u(i, k) * vt(k, j); k += 1 }
          next(i)(j) = acc
          j += 1
        }
        i += 1
      }
      r = next
      it += 1
    }
    // PCA-compatible comps rows: y_j = sum_i x_i * R(i)(j)
    Array.tabulate(dim)(j => Array.tabulate(dim)(i => r(i)(j).toFloat))
  }

  /** seeded random orthogonal matrix: QR of a gaussian matrix, signs
    * fixed so the factorization is unique (R-diagonal positive) */
  private def randomRotation(dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val g = breeze.linalg.DenseMatrix.tabulate[Double](dim, dim)((_, _) => rnd.nextGaussian())
    val breeze.linalg.qr.QR(q, rr) = breeze.linalg.qr(g)
    Array.tabulate(dim, dim)((i, j) => if (rr(j, j) < 0) -q(i, j) else q(i, j))
  }

  private def applyRot(v: Array[Float], r: Array[Array[Double]]): Array[Float] = {
    val dim = v.length
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += v(i) * r(i)(j); i += 1 }
      out(j) = acc.toFloat
      j += 1
    }
    out
  }

  /** nearest-sub-centroid encode + decode in one pass */
  private[index] def reconstruct(
      v: Array[Float], books: Array[Array[Array[Float]]]): Array[Float] = {
    val m = books.length
    val dsub = books(0)(0).length
    val out = new Array[Float](m * dsub)
    var sub = 0
    while (sub < m) {
      val book = books(sub)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var d = 0.0; var i = 0
        while (i < dsub) { val t = v(sub * dsub + i).toDouble - cen(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      System.arraycopy(books(sub)(best), 0, out, sub * dsub, dsub)
      sub += 1
    }
    out
  }
}
