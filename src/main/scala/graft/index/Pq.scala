package graft.index

import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.Hash64

/**
 * Product quantization: vectors compress to `m` bytes (one codebook of
 * 256 centroids per dim/m-sized subspace), searches run Asymmetric
 * Distance Computation against per-query lookup tables. The Spark
 * twin of FAISS's `PQm` factory indexes (duckdb-faiss-ext README
 * "index_factory"): at 100 TB, PQ is what makes the vector column
 * fit — 64 floats (256 B) become 8 bytes, and a scan computes
 * distances with m table lookups instead of dim multiplies.
 */
object Pq {

  /** codebooks(sub)(centroid)(dimWithinSub); trained per-subspace */
  def train(
      samples: Array[Array[Float]], m: Int, seed: Long, maxIter: Int = 8): Array[Array[Array[Float]]] = {
    require(samples.nonEmpty, "PQ training needs a non-empty sample")
    val dim = samples(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // subspace codebooks are independent: train them concurrently (the
    // per-subspace sample is usually too small for localKMeans's own
    // chunk parallelism to engage)
    val books = new Array[Array[Array[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { sub =>
      val subPts = samples.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      books(sub) = localKMeans(subPts, math.min(256, subPts.length), seed + sub, maxIter)
    }
    books
  }

  /**
   * Plain Lloyd's on a small in-memory sample (deterministic seeded
   * init). The O(n*k*dim) assignment step runs chunk-parallel on the
   * driver's cores; per-chunk partial sums merge in fixed chunk order,
   * and the chunking is a pure function of pts.length (fixed 2048-point
   * chunks, capped at 64) — NOT of the host's core count — so trained
   * centroids are machine-independent, not just run-to-run stable.
   */
  private[index] def localKMeans(
      pts: Array[Array[Float]], k: Int, seed: Long, maxIter: Int): Array[Array[Float]] = {
    val dim = pts(0).length
    val centers = Array.tabulate(k)(i => pts(((Hash64.mix(seed + i) >>> 1) % pts.length).toInt).clone())
    val assign = new Array[Int](pts.length)
    val nChunks = math.max(1, math.min(64, pts.length / 2048))
    val chunkSize = (pts.length + nChunks - 1) / nChunks
    val chunkMoved = new Array[Boolean](nChunks)
    val chunkSums = Array.ofDim[Double](nChunks, k, dim)
    val chunkCounts = Array.ofDim[Int](nChunks, k)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { chunk =>
        val lo = chunk * chunkSize
        val hi = math.min(lo + chunkSize, pts.length)
        val sums = chunkSums(chunk)
        val counts = chunkCounts(chunk)
        var c0 = 0
        while (c0 < k) { java.util.Arrays.fill(sums(c0), 0.0); counts(c0) = 0; c0 += 1 }
        var anyMoved = false
        val simd = graft.functions.VectorMath.Simd.active // training is driver-bounded but pays k x dim per point x iter
        var p = lo
        while (p < hi) {
          val v = pts(p)
          var best = 0; var bestD = Double.MaxValue
          if (simd) best = graft.functions.SimdKernels.nearestF(centers, k, v)
          else {
            var c = 0
            while (c < k) {
              val cen = centers(c)
              var d = 0.0; var i = 0
              while (i < dim) { val t = v(i) - cen(i); d += t * t; i += 1 }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
          }
          if (assign(p) != best) { assign(p) = best; anyMoved = true }
          counts(best) += 1
          val s = sums(best); var i = 0
          while (i < dim) { s(i) += v(i); i += 1 }
          p += 1
        }
        chunkMoved(chunk) = anyMoved
      }
      moved = chunkMoved.exists(identity)
      var c = 0
      while (c < k) {
        var cnt = 0
        var chunk = 0
        while (chunk < nChunks) { cnt += chunkCounts(chunk)(c); chunk += 1 }
        if (cnt > 0) {
          var i = 0
          while (i < dim) {
            var s = 0.0
            var ch = 0
            while (ch < nChunks) { s += chunkSums(ch)(c)(i); ch += 1 }
            centers(c)(i) = (s / cnt).toFloat
            i += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  def encodeOne(v: ArrayData, codebooks: Array[Array[Array[Float]]]): Array[Byte] = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // materialize once: the argmin loop reads each element 256 times,
    // and per-read ArrayData dispatch dominated the 100M-vector encode
    val vf = new Array[Float](m * dsub)
    var vi = 0
    while (vi < vf.length) { vf(vi) = v.getFloat(vi); vi += 1 }
    val out = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val book = codebooks(sub)
      val base = sub * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var d = 0.0; var i = 0
        // early abandon: d only grows, so bailing past the current best
        // cannot change the argmin (identical codes, ~2x fewer flops)
        while (i < dsub && d < bestD) {
          val t = vf(base + i).toDouble - cen(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(sub) = best.toByte
      sub += 1
    }
    out
  }

  /** decode codes back to the concatenated codebook centroids (FAISS
    * sa_decode/reconstruct semantics — the approximation ADC scores) */
  def decodeOne(code: Array[Byte], codebooks: Array[Array[Array[Float]]]): Array[Float] = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Float](m * dsub)
    var sub = 0
    while (sub < m) {
      val cen = codebooks(sub)(code(sub) & 0xff)
      System.arraycopy(cen, 0, out, sub * dsub, dsub)
      sub += 1
    }
    out
  }

  /** per-query ADC lookup table: lut(sub * 256 + code) = partial L2^2 */
  def lutFor(q: Array[Float], codebooks: Array[Array[Array[Float]]]): Array[Float] = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val lut = new Array[Float](m * 256)
    var sub = 0
    while (sub < m) {
      val book = codebooks(sub)
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var d = 0.0; var i = 0
        while (i < dsub) { val t = q(sub * dsub + i).toDouble - cen(i); d += t * t; i += 1 }
        lut(sub * 256 + c) = d.toFloat
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** ADC distance of the code at code[off, off + width): the sum of
    * per-subspace LUT entries in subspace order (the row plan passes
    * off = 0, the packed scan a chunk slice — bit-equal either way) */
  def adcDistanceAt(code: Array[Byte], off: Int, width: Int, lut: Array[Float]): Double = {
    var d = 0.0
    var sub = 0
    while (sub < width) {
      d += lut(sub * 256 + (code(off + sub) & 0xff))
      sub += 1
    }
    d
  }
}
