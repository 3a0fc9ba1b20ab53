package graft.index

/**
 * Local-search additive quantizer — the FAISS `LSQ<m>x8` factory
 * family (Martinez, Clement, Hoos & Little 2016, "Revisiting additive
 * quantization"; the reference accepts the factory string verbatim by
 * delegating to faiss::index_factory, src/faiss_extension.cpp:155
 * region). Same additive model as RQ — m FULL-dimension codebooks
 * whose SUM approximates the vector, same m-byte codes, same
 * decode-in-loop asymmetric L2 search — but both halves of training
 * are globally optimized instead of greedy:
 *
 * - ENCODING is iterated conditional modes (ICM): start from the
 *   greedy RQ assignment, then cycle the stages, re-picking each
 *   stage's code against the residual of ALL OTHER stages until a
 *   fixpoint (bounded rounds). Each ICM move strictly decreases
 *   reconstruction error, so LSQ codes are never worse than RQ codes
 *   under the same books (spec-pinned).
 * - CODEBOOKS are refit by regularized least squares over the encoded
 *   sample: with B the one-hot stage-assignment matrix, solve
 *   (BᵀB + λI) W = BᵀX by an in-place Cholesky (mK ≤ 2048 unknowns at
 *   m=8 — a bounded driver-side solve, like every trainer here), then
 *   alternate encode/refit a few outer iterations.
 *
 * Deterministic in (sample, m, seed): greedy init is Rq.train, ICM
 * visits stages in fixed order with ties to the lowest code, and the
 * LS solve is a fixed-order Cholesky. Search-side plumbing (coded
 * layout, packed scan, save/load via pq_codebooks, incremental
 * append) is CodedBuilt's, shared with every codec; LsqCodec differs
 * from RqCodec only in train/encode.
 */
object Lsq {

  /** ICM rounds per encode (fixpoint usually hits in 2-3) */
  final val IcmRounds = 4
  /** outer encode/refit alternations */
  final val OuterIters = 3
  /** ridge term for the normal equations (PD even with unused codes) */
  final val Ridge = 1e-3

  def train(samples: Array[Array[Float]], m: Int, seed: Long): Array[Array[Array[Float]]] = {
    require(samples.nonEmpty, "LSQ training needs a non-empty sample")
    val dim = samples(0).length
    var books = Rq.train(samples, m, seed) // greedy additive init
    // objective-guarded alternation (the LSQ++ discipline): the normal
    // equations are near-singular whenever the sample is small relative
    // to m·K unknowns (ridge keeps the solve finite, but an overfit
    // refit can still RAISE the objective) — and the objective that
    // matters is the FRESH-ENCODE MSE, because index-build encodes
    // from scratch (ICM re-inits from greedy under the new books, so
    // "re-encode only improves" does NOT hold across a refit). Accept
    // a candidate only if its fresh-encode MSE beats the incumbent's;
    // the guard's encode pass doubles as the next refit's codes, so
    // each outer iteration still costs exactly one ICM pass. Output is
    // therefore never worse than the greedy init, by construction.
    var codes = samples.map(encodeArr(_, books))
    var mse = fixedCodesMse(samples, codes, books) // == fresh-encode MSE of `books`
    var iter = 0
    var improving = true
    while (iter < OuterIters && improving) {
      val cand = leastSquaresUpdate(samples, codes, books, dim)
      val finite = cand.forall(_.forall(_.forall(f => !f.isNaN && !f.isInfinite)))
      if (finite) {
        val candCodes = samples.map(encodeArr(_, cand))
        val candMse = fixedCodesMse(samples, candCodes, cand)
        if (candMse < mse) { books = cand; codes = candCodes; mse = candMse }
        else improving = false
      } else improving = false
      iter += 1
    }
    books
  }

  private def fixedCodesMse(
      samples: Array[Array[Float]], codes: Array[Array[Byte]],
      books: Array[Array[Array[Float]]]): Double = {
    var s = 0.0
    var p = 0
    while (p < samples.length) {
      val v = samples(p)
      val dec = Rq.decodeOne(codes(p), books)
      var i = 0
      while (i < v.length) { val t = v(i).toDouble - dec(i); s += t * t; i += 1 }
      p += 1
    }
    s / samples.length
  }

  /** mean squared reconstruction error of `books` over `samples`
    * under ICM encoding — the training objective, exposed for specs */
  def reconstructionMse(samples: Array[Array[Float]], books: Array[Array[Array[Float]]]): Double = {
    var s = 0.0
    samples.foreach { v =>
      val dec = Rq.decodeOne(encodeArr(v, books), books)
      var i = 0
      while (i < v.length) { val t = v(i).toDouble - dec(i); s += t * t; i += 1 }
    }
    s / samples.length
  }

  /** ICM encode over a primitive array (training + spec path) */
  def encodeArr(v: Array[Float], books: Array[Array[Array[Float]]]): Array[Byte] =
    encodeArrRounds(v, books)._1

  /** encode + the number of EFFECTIVE ICM rounds (rounds that changed
    * at least one stage — the fixpoint observation the replay oracle
    * unrolls to, instead of the [[IcmRounds]] worst case; rounds past a
    * vector's fixpoint re-pick identical codes, so replaying only the
    * observed max over a corpus is hash-identical by construction) */
  def encodeArrRounds(
      v: Array[Float], books: Array[Array[Array[Float]]]): (Array[Byte], Int) = {
    val dim = books(0)(0).length
    val m = books.length
    // greedy init (identical rule to Rq.encodeOne)
    val code = new Array[Int](m)
    val approx = new Array[Float](dim)
    val rounds = run(v, books, code, approx, dim, m)
    (code.map(_.toByte), rounds)
  }

  private def run(
      v: Array[Float], books: Array[Array[Array[Float]]],
      code: Array[Int], approx: Array[Float], dim: Int, m: Int): Int = {
    // greedy pass: stage j picks the centroid nearest the running residual
    val r = new Array[Float](dim)
    System.arraycopy(v, 0, r, 0, dim)
    var stage = 0
    while (stage < m) {
      val best = nearestTo(r, books(stage))
      code(stage) = best
      val cen = books(stage)(best)
      var i = 0
      while (i < dim) { r(i) -= cen(i); approx(i) += cen(i); i += 1 }
      stage += 1
    }
    // ICM: re-pick each stage against the residual of all OTHER stages
    var round = 0
    var changed = true
    var lastChange = -1 // last round index that moved any stage
    val u = new Array[Double](dim) // hoisted residual-without-stage-j
    while (round < IcmRounds && changed) {
      changed = false
      var j = 0
      while (j < m) {
        val cur = books(j)(code(j))
        // residual without stage j: u = v - (approx - cur). The term is
        // candidate-INVARIANT, so hoisting it out of the 256-candidate
        // loop is bit-exact ((a-(b-c))-d evaluates u first either way)
        // and removes 2 of the 3 inner-loop subtractions
        var i = 0
        while (i < dim) {
          u(i) = v(i).toDouble - (approx(i).toDouble - cur(i).toDouble)
          i += 1
        }
        var best = -1
        var bestD = Double.MaxValue
        val book = books(j)
        if (graft.functions.VectorMath.Simd.active) {
          // gated SIMD argmin (per-term double ops replayed per lane,
          // sum lane-reassociated — the declared near-tie contract)
          best = graft.functions.SimdKernels.nearestL2D(book, u)
          bestD = 0.0 // unused past selection
        } else {
          var c = 0
          while (c < book.length) {
            val cen = book(c)
            var d = 0.0
            i = 0
            while (i < dim && d < bestD) {
              val t = u(i) - cen(i)
              d += t * t
              i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
        }
        // best = -1 (all-NaN distances: NaN residual or codebook) keeps
        // the current assignment on BOTH paths — the scalar loop and
        // nearestL2D share the -1 init, so there is no NaN divergence
        if (best >= 0 && best != code(j)) {
          val nb = book(best)
          var i = 0
          while (i < dim) { approx(i) += nb(i) - cur(i); i += 1 }
          code(j) = best
          changed = true
        }
        j += 1
      }
      if (changed) lastChange = round
      round += 1
    }
    lastChange + 1 // effective rounds: 0 when the greedy init was already a fixpoint
  }

  private def nearestTo(v: Array[Float], book: Array[Array[Float]]): Int = {
    // same opt-in SIMD argmin as Rq.nearestIn (greedy init shares the
    // rule); the ICM re-pick above has its own gated twin (nearestL2D,
    // the hoisted-double-residual shape)
    if (graft.functions.VectorMath.Simd.active)
      return graft.functions.SimdKernels.nearestL2(book, v)
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cen = book(c)
      var d = 0.0
      var i = 0
      while (i < v.length && d < bestD) { val t = v(i).toDouble - cen(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** regularized LS refit of all codebooks given fixed codes: solve
    * (BᵀB + λI) W = BᵀX with one dense Cholesky (mK ≤ 2048) */
  private def leastSquaresUpdate(
      samples: Array[Array[Float]], codes: Array[Array[Byte]],
      books: Array[Array[Array[Float]]], dim: Int): Array[Array[Array[Float]]] = {
    val m = books.length
    val sizes = books.map(_.length)
    val offs = sizes.scanLeft(0)(_ + _)
    val n = offs(m) // total unknowns
    val ata = Array.ofDim[Double](n, n)
    val atx = Array.ofDim[Double](n, dim)
    var s = 0
    while (s < samples.length) {
      val x = samples(s)
      val cd = codes(s)
      var j = 0
      while (j < m) {
        val rj = offs(j) + (cd(j) & 0xff)
        var k = 0
        while (k < m) {
          ata(rj)(offs(k) + (cd(k) & 0xff)) += 1.0
          k += 1
        }
        val row = atx(rj)
        var i = 0
        while (i < dim) { row(i) += x(i); i += 1 }
        j += 1
      }
      s += 1
    }
    // ridge scaled to the mean usage count: the absolute constant is
    // vanishing against big samples and meaningless against small ones;
    // proportional damping keeps the solve conditioned in both regimes
    var trace = 0.0
    var d = 0
    while (d < n) { trace += ata(d)(d); d += 1 }
    val lambda = math.max(Ridge, 1e-2 * trace / n)
    d = 0
    while (d < n) { ata(d)(d) += lambda; d += 1 }
    // in-place Cholesky LLᵀ (fixed order — deterministic)
    val L = ata
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var sum = L(i)(j)
        var k = 0
        while (k < j) { sum -= L(i)(k) * L(j)(k); k += 1 }
        if (i == j) L(i)(i) = math.sqrt(sum)
        else L(i)(j) = sum / L(j)(j)
        j += 1
      }
      i += 1
    }
    // forward/back substitution per output dim
    val w = Array.ofDim[Double](n)
    val out = Array.tabulate(m)(j => Array.ofDim[Float](sizes(j), dim))
    var c = 0
    while (c < dim) {
      i = 0
      while (i < n) {
        var sum = atx(i)(c)
        var k = 0
        while (k < i) { sum -= L(i)(k) * w(k); k += 1 }
        w(i) = sum / L(i)(i)
        i += 1
      }
      i = n - 1
      while (i >= 0) {
        var sum = w(i)
        var k = i + 1
        while (k < n) { sum -= L(k)(i) * w(k); k += 1 }
        w(i) = sum / L(i)(i)
        var j = 0
        while (j < m) {
          if (i >= offs(j) && i < offs(j + 1)) out(j)(i - offs(j))(c) = w(i).toFloat
          j += 1
        }
        i -= 1
      }
      c += 1
    }
    out
  }
}

/** Distributed max over task-side observations (AccumulatorV2): records
  * the LARGEST effective-ICM-round count seen across every vector an
  * encode touched. Task retries/speculation can only re-observe the same
  * values, so max is retry-safe; the replay oracle unrolls exactly this
  * many rounds (extra rounds past a vector's fixpoint are idempotent). */
class MaxAccumulator extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private val cur = new java.util.concurrent.atomic.AtomicLong(0L)
  override def isZero: Boolean = cur.get == 0L
  override def copy(): MaxAccumulator = {
    val a = new MaxAccumulator; a.cur.set(cur.get); a
  }
  override def reset(): Unit = cur.set(0L)
  override def add(v: Long): Unit = cur.getAndAccumulate(v, math.max(_, _))
  override def merge(other: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
    add(other.value)
  override def value: Long = cur.get
}
