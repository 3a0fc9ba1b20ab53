package graftbench

/**
 * Seeded input generators. Every input of a run comes from here and
 * depends only on the seed and the sizes, so the same seed gives the
 * same inputs on every machine, JDK and commit. The generator is its
 * own SplitMix64 (not java.util.Random), and every vector is a pure
 * function of (seed, stream, id), so executors can generate a corpus
 * in parallel while the oracle regenerates the same vectors on the
 * driver.
 */
object Gen {

  /** SplitMix64 finalizer: a bijective 64-bit mix */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** SplitMix64 stream with Box-Muller normals */
  final class Rng(seed: Long) {
    private var state = mix64(seed)
    def nextLong(): Long = { state += 0x9e3779b97f4a7c15L; mix64(state) }
    /** uniform in [0, 1) */
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def nextGaussian(): Double = {
      val u = 1.0 - nextDouble() // (0, 1]: log is finite
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
    }
  }

  /** Zipf(s) cumulative weights over ranks 1..n */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** index of the first cdf entry >= u (u uniform in [0, 1)) */
  def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Gaussian mixture in `dim` dimensions whose cluster sizes are
    * Zipf(1)-skewed, so the inverted lists an IVF index trains on it
    * are unbalanced the way lists over real embeddings are. */
  final class Mixture(seed: Long, val dim: Int, val clusters: Int) extends Serializable {
    val centers: Array[Array[Float]] = {
      val r = new Rng(seed)
      Array.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    private val cdf = zipfCdf(clusters, 1.0)
    private val spread = 0.45

    /** vector `id` of stream `stream`: streams keep the corpus, query
      * and ingest inputs independent */
    def vec(stream: Int, id: Long): Array[Float] = {
      val r = new Rng(seed * 0x100000001b3L + stream * 0x9e3779b97f4a7c15L + id)
      val c = centers(sample(cdf, r.nextDouble()))
      Array.tabulate(dim)(d => (c(d) + r.nextGaussian() * spread).toFloat)
    }

    def vecs(stream: Int, from: Long, n: Int): Array[Array[Float]] =
      Array.tabulate(n)(i => vec(stream, from + i))
  }

  /** a document corpus with planted duplicate families */
  final case class Corpus(
      texts: Array[String],
      /** (original, copy) ids: the copy is the original with a few of
        * its tokens replaced */
      nearPairs: Array[(Long, Long)],
      /** (original, copy) ids with identical text */
      exactPairs: Array[(Long, Long)])

  /** the head of the vocabulary: real function words, so the quality
    * score's stopword component sees a natural rate */
  val FunctionWords: Array[String] = Array(
    "the", "of", "and", "to", "a", "in", "is", "that", "it", "for", "was", "on",
    "with", "as", "be", "by", "at", "this", "from", "or", "an", "are", "not", "but")

  /**
   * `n` documents (ids 0 until n) of `meanLen` ± 20 Zipf-distributed
   * tokens. With probability `dupFrac` a document is a near copy of an
   * earlier original with `editFrac` of its tokens replaced, and with
   * probability `exactFrac` an exact copy of an earlier document.
   */
  def corpus(
      seed: Long, n: Int, meanLen: Int = 120, vocab: Int = 20000,
      dupFrac: Double = 0.10, exactFrac: Double = 0.01,
      editFrac: Double = 0.04): Corpus = {
    val rnd = new Rng(seed ^ 0x5deece66dL)
    val words = FunctionWords ++ Array.tabulate(vocab - FunctionWords.length) { i =>
      val len = 3 + rnd.nextInt(7)
      val sb = new StringBuilder
      while (sb.length < len) sb += ('a' + rnd.nextInt(26)).toChar
      sb.append(i % 10).toString // the digit keeps short words from colliding often
    }
    val cdf = zipfCdf(words.length, 1.05)
    def word(): String = words(sample(cdf, rnd.nextDouble()))

    val texts = new Array[String](n)
    val originals = new Array[Array[String]](n) // tokens of documents that are not copies
    val near = Array.newBuilder[(Long, Long)]
    val exact = Array.newBuilder[(Long, Long)]
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      val src = if (i > 0) rnd.nextInt(i) else 0
      if (i > 0 && u < dupFrac && originals(src) != null) {
        val t = originals(src).clone()
        val edits = math.max(1, math.round(t.length * editFrac).toInt)
        for (_ <- 0 until edits) t(rnd.nextInt(t.length)) = word()
        texts(i) = t.mkString(" ")
        near += ((src.toLong, i.toLong))
      } else if (i > 0 && u >= dupFrac && u < dupFrac + exactFrac) {
        texts(i) = texts(src)
        exact += ((src.toLong, i.toLong))
      } else {
        originals(i) = Array.fill(meanLen - 20 + rnd.nextInt(41))(word())
        texts(i) = originals(i).mkString(" ")
      }
      i += 1
    }
    Corpus(texts, near.result(), exact.result())
  }
}
