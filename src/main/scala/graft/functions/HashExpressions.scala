package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic 64-bit hashing primitives for the dedup/sketch family
 * (MinHash, SimHash, rolling fingerprints). All hashes are seeded
 * splitmix64/FNV mixes — engine-independent, reproducible across
 * partitions and runs (no java hashCode, no Random).
 */
object Hash64 {
  /** FNV-1a offset basis: the hash of no bytes */
  final val FnvBasis = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L
  private final val Golden = 0x9e3779b97f4a7c15L

  /** FNV-1a state `h` continued over the string's UTF-8 bytes, read in
    * place at the string's base offset (no byte-array copy) */
  def fnv1a(h: Long, s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var acc = h
    var i = 0
    while (i < n) { acc = (acc ^ (Platform.getByte(base, off + i) & 0xffL)) * FnvPrime; i += 1 }
    acc
  }

  /** splitmix64 finalizer — good avalanche for deriving hash families */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** lane j of the MinHash family: sig(j) = min(sig(j), mix(base ^ (seed + GOLDEN*j))) */
  def foldLanes(sig: Array[Long], base: Long, seed: Long): Unit = {
    var j = 0
    while (j < sig.length) {
      val h = mix(base ^ (seed + Golden * j))
      if (h < sig(j)) sig(j) = h
      j += 1
    }
  }

  /**
   * `minhash(shingles(toks, k))` in one pass: each k-token window is
   * hashed in place as the bytes the nested
   * `concat_ws(" ", concat_ws(" ", t0, t1), t2)...` chain would build —
   * null tokens skipped, the first two joined by a space only when both
   * are present, every later present token preceded by one — and
   * folded into all lanes. No gram string is built and no distinct is
   * taken: a repeated gram cannot change a min. Below k tokens (or a
   * null array) every lane keeps the Long.MaxValue sentinel; with
   * k = 1 a null token is a null gram, which minhash skips.
   */
  def minhashShingles(toks: ArrayData, k: Int, numHashes: Int, seed: Long): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = if (toks == null) 0 else toks.numElements()
    if (n >= k) {
      val ts = Array.tabulate(n)(toks.getUTF8String)
      var i = 0
      while (i + k <= n) {
        if (k > 1 || ts(i) != null) {
          var h = FnvBasis
          var j = 0
          while (j < k) {
            val t = ts(i + j)
            if (t != null) {
              if (j >= 2 || (j == 1 && ts(i) != null)) h = (h ^ ' '.toLong) * FnvPrime
              h = fnv1a(h, t)
            }
            j += 1
          }
          foldLanes(sig, h, seed)
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /**
   * LSH band keys of a MinHash signature: band b folds lanes
   * [b*rows, (b+1)*rows) with acc = rotl(acc, 7) ^ lane from the golden
   * constant (rotate-xor — no overflowing multiply); lanes past the end
   * of a short signature leave acc as it is. The sentinel signature of
   * a shingle-less document (lane 0 = Long.MaxValue) gets no bands:
   * every stub document shares it, so banding it would pair all stubs.
   */
  def bandBuckets(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    if (n == 0 || sig.getLong(0) == Long.MaxValue)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = Golden
      var i = b * rows
      val end = math.min(n, i + rows)
      while (i < end) { acc = java.lang.Long.rotateLeft(acc, 7) ^ sig.getLong(i); i += 1 }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * MinHash signature over an array<string> of shingles:
 * sig[i] = min over shingles of mix(fnv1a(shingle) ^ seed_i).
 * One pass over the shingles computes all `numHashes` lanes.
 * Returns array<bigint> of length numHashes (empty input → Long.MaxValue lanes).
 */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash needs array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) Hash64.foldLanes(sig, Hash64.fnv1a(Hash64.FnvBasis, s), seed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * MinHash signature of a document's word k-shingles straight from its
 * token array: `minhash_signature(shingles(toks, k), numHashes, seed)`
 * lane for lane, without building the shingle strings (see
 * [[Hash64.minhashShingles]]). Never null: a null or short token array
 * gives the all-Long.MaxValue sentinel. One static call in the
 * generated code, so the projection stays in whole-stage codegen.
 */
case class MinHashShingles(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_shingles needs array<string>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    Hash64.minhashShingles(child.eval(input).asInstanceOf[ArrayData], k, numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.functions.Hash64.minhashShingles(
      |  ${c.isNull} ? null : ${c.value}, $k, $numHashes, ${seed}L);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * MinHash signature (array<bigint>, no null lanes) -> array<bigint> of
 * `bands` LSH bucket keys (see [[Hash64.bandBuckets]]); empty for the
 * shingle-less sentinel signature, null for a null signature.
 */
case class BandBuckets(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  require(bands >= 1 && rows >= 1, s"bands and rows must be >= 1, got $bands and $rows")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"band_buckets needs array<bigint> without nulls, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Hash64.bandBuckets(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.Hash64.bandBuckets($s, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * MinHash signature over PRE-HASHED shingles (array<bigint>):
 * sig[i] = min over bases of mix(base ^ seed_i). Same hash family as
 * [[MinHashSignature]] but the per-shingle base hash is taken from the
 * input instead of recomputed from the string — so one
 * tokenize+shingle+hash pass can feed both the LSH banding and an
 * exact-jaccard verify stage (duplicates in the input cannot change a
 * min, so the multiset array is as good as the set).
 */
case class MinHashFromHashes(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_from_hashes needs array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) Hash64.foldLanes(sig, arr.getLong(i), seed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 64-bit SimHash over an array<string> of tokens: per-token FNV hash
 * votes +-1 on each bit; the sign of each bit's tally forms the
 * fingerprint. Near-duplicate texts land within small hamming distance.
 */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash needs array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val tally = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = Hash64.mix(Hash64.fnv1a(Hash64.FnvBasis, s) ^ seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (tally(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit FNV-1a rolling fingerprint of a string (whole-document hash). */
case class Fingerprint64(child: Expression)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fingerprint64 needs string, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Hash64.fnv1a(Hash64.FnvBasis, input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * DEFLATE-compressed byte size of a UTF-8 string (java.util.zip,
 * RFC 1951, fixed level) — the compressibility quality signal (Gopher
 * uses compression ratios to catch boilerplate/repetition: text that
 * deflates far below ~1:2 is degenerate). Deterministic for a fixed
 * JDK deflater, but not replayable in the oracle engine → consumers
 * gate rows-only with replay specs. Per-row cost is O(len); the
 * Deflater is allocated per call (a thread-local would leak native
 * memory on executor churn for a negligible win at typical doc sizes).
 */
case class DeflateSize(child: Expression)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "deflate_size"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"deflate_size needs string, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Random-hyperplane LSH bucket ids for cosine similarity over
 * array<float>: `bands` buckets, each from `bitsPerBand` signed
 * projections. Hyperplane weights are pseudo-random Rademacher (+-1)
 * derived from (seed, band, bit, dim) via splitmix64 — no stored
 * model, identical on every executor.
 */
case class HyperplaneBuckets(child: Expression, bands: Int, bitsPerBand: Int, seed: Long)
    extends UnaryExpression
    with CodegenFallback {
  // the band tag lives at bit 48; wider buckets would overlap it and
  // silently create cross-band collisions (false LSH candidates)
  require(bitsPerBand >= 1 && bitsPerBand <= 48, s"bitsPerBand must be in [1,48], got $bitsPerBand")
  require(bands >= 1 && bands <= 32767, s"bands must be in [1,32767], got $bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hyperplane_buckets needs array<float>, got ${t.catalogString}")
  }

  // per-executor cache of the derived hyperplane weights (bands x bits x dim)
  @transient private var wCache: Array[Double] = _
  @transient private var wDim: Int = -1

  private def weights(dim: Int): Array[Double] = synchronized {
    if (wDim != dim) {
      val w = new Array[Double](bands * bitsPerBand * dim)
      var i = 0
      var band = 0
      while (band < bands) {
        var bit = 0
        while (bit < bitsPerBand) {
          var d = 0
          while (d < dim) {
            w(i) = if ((Hash64.mix(seed ^ (band.toLong << 40) ^ (bit.toLong << 20) ^ d) & 1L) == 0L) 1.0 else -1.0
            i += 1; d += 1
          }
          bit += 1
        }
        band += 1
      }
      wCache = w; wDim = dim
    }
    wCache
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val w = weights(dim)
    val out = new Array[Long](bands)
    var wi = 0
    var band = 0
    while (band < bands) {
      var bucket = 0L
      var bit = 0
      while (bit < bitsPerBand) {
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += w(wi) * v.getFloat(d); wi += 1; d += 1 }
        if (dot >= 0) bucket |= (1L << bit)
        bit += 1
      }
      // disambiguate band id into the bucket key so bands never collide
      out(band) = bucket | (band.toLong << 48)
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of elements in an array<bigint> that hit a serialized Bloom
 * filter — the map-side screen of the broadcast-Bloom contamination
 * pattern: the small side (eval-set shingles) folds to a few MB of
 * filter shipped in the task closure, and the 100 TB side is scanned
 * WITHOUT shuffling a single shingle. Blooms have no false negatives,
 * so `hits = 0` exactly rules a row out; positives are re-verified by
 * an exact join over the (tiny) surviving candidate set.
 */
case class BloomHitCount(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_hit_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bloom_hit_count needs array<bigint>, got ${t.catalogString}")
  }

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var hits = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && bloom.mightContainLong(arr.getLong(i))) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * DISTINCT xxhash64 k-gram hashes of an array<string>, byte-identical
 * to `transform(array_distinct(zip_with-shingles), s => xxhash64(s))`:
 * each k-token window joins with concat_ws(" ") semantics (null parts
 * skipped) and hashes XXH64(utf8-bytes, seed) — the exact bytes and
 * hash the declarative chain produces, so every downstream join/count
 * is unchanged. One compiled pass per row replaces a 7-reference
 * zip_with tree whose every reference of a RAW token expression is a
 * fresh regex split when predicate pushdown re-substitutes it into a
 * scan Filter (measured: the contamination screen's shingle stage went
 * ~50 s -> ~5 s at the 100x rung). Distinctness is per-HASH in
 * first-occurrence order — identical to per-string distinct unless two
 * distinct grams of one document collide in 64 bits, the same identity
 * assumption every hash-keyed join in the engine already makes.
 */
case class ShingleHashesXx(child: Expression, k: Int, seed: Long = 42L)
    extends UnaryExpression
    with CodegenFallback {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_xx"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes_xx needs array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val toks = Array.tabulate(n)(arr.getUTF8String)
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(i + j); j += 1 }
      // concatWs skips null parts — concat_ws(" ", ...) semantics
      val gram = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(gram.getBaseObject, gram.getBaseOffset, gram.numBytes, seed)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Scalar Bloom membership test over ONE bigint — the per-shingle twin
 * of [[BloomHitCount]]. Applied ABOVE an explode (the condition
 * references the generated column), it cannot be pushed below the
 * Generate, so the shingle projection feeding the explode is evaluated
 * exactly once per row; the array-level form in a Filter gets pushed
 * into the scan and re-substituted per conjunct (measured 4
 * evaluations of the full shingle chain per document at the 100x
 * rung).
 */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain needs bigint, got ${t.catalogString}")
  }

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Exact membership-hit count against a closure-shipped SORTED long
 * array: for each element of an array<bigint> input, one binary search —
 * the exact-verify complement of [[BloomHitCount]] when the reference
 * set is small enough to ship whole (an eval/benchmark suite's distinct
 * shingle hashes). Counts occurrences, not distinct hits, mirroring the
 * explode+join+count shape of the batch contamination screen. Stateless,
 * so it is safe in any streaming projection.
 */
case class SortedSetHitCount(child: Expression, sortedSet: Array[Long])
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_set_hit_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_set_hit_count needs array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var hits = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) &&
        java.util.Arrays.binarySearch(sortedSet, arr.getLong(i)) >= 0) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * md5-prefix shingle hashes: for each k-token window of an
 * array<string>, hash the space-joined shingle with MD5 and keep the
 * first 15 hex digits as a positive BIGINT. Unlike the splitmix hash
 * family this replays digit-for-digit in ANSI SQL (DuckDB
 * md5/substring/hex-cast), so fingerprint pipelines built on it keep
 * EXACT cross-engine oracles. Null tokens are skipped inside a shingle
 * (concat_ws semantics); below k tokens the result is empty.
 */
case class ShingleHashes15(child: Expression, k: Int)
    extends UnaryExpression
    with CodegenFallback {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes15"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes15 needs array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = Array.tabulate(n) { i =>
      val s = arr.getUTF8String(i)
      if (s == null) null else s.toString
    }
    val out = new Array[Long](n - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) { // concat_ws(" "): null parts skipped, no double sep
        val t = toks(i + j)
        if (t != null) { if (sb.length() > 0) sb.append(' '); sb.append(t) }
        j += 1
      }
      md.reset()
      val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex digits = high 60 bits of the digest, always positive
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken '03, the
 * MOSS scheme) over a pre-hashed array<bigint>: each w-window's MINIMUM
 * hash is kept, distinct in first-occurrence order. Any shared run of
 * >= w hashes (= k+w-1 tokens upstream) yields a shared fingerprint at
 * ~2/(w+1) selection density. Sequences shorter than w collapse to one
 * global-min window; empty input selects nothing.
 */
case class WinnowSelect(child: Expression, w: Int)
    extends UnaryExpression
    with CodegenFallback {
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_select"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_select needs array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val hs = Array.tabulate(n)(arr.getLong)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < w) {
      var m = hs(0); var i = 1
      while (i < n) { if (hs(i) < m) m = hs(i); i += 1 }
      seen.add(m)
    } else {
      var i = 0
      while (i <= n - w) {
        var m = hs(i); var j = 1
        while (j < w) { if (hs(i + j) < m) m = hs(i + j); j += 1 }
        seen.add(m)
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column DSL for the hashing family. */
object hashes {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  def minhash(shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    col(MinHashSignature(ex(shingles), numHashes, seed))
  def minhashFromHashes(shingleHashes: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    col(MinHashFromHashes(ex(shingleHashes), numHashes, seed))
  def minhashShingles(tokens: Column, k: Int, numHashes: Int = 128, seed: Long = 42L): Column =
    col(MinHashShingles(ex(tokens), k, numHashes, seed))
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    col(BandBuckets(ex(sig), bands, rows))
  def bloomHitCount(hashArray: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    col(BloomHitCount(ex(hashArray), bos.toByteArray))
  }
  def bloomMightContain(hash: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    col(BloomMightContain(ex(hash), bos.toByteArray))
  }
  def sortedSetHitCount(hashArray: Column, sortedSet: Array[Long]): Column =
    col(SortedSetHitCount(ex(hashArray), sortedSet))
  def simhash(tokens: Column, seed: Long = 42L): Column =
    col(SimHash64(ex(tokens), seed))
  def fingerprint64(text: Column): Column =
    col(Fingerprint64(ex(text)))
  def deflateSize(text: Column): Column =
    col(DeflateSize(ex(text)))
  def hyperplaneBuckets(vector: Column, bands: Int = 16, bitsPerBand: Int = 16, seed: Long = 42L): Column =
    col(HyperplaneBuckets(ex(vector), bands, bitsPerBand, seed))
}
