package graft.index

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Scalar quantization (FAISS `SQ8`/`SQ4`/`SQfp16`, cf. duckdb-faiss-ext
 * README: the factory string goes straight to index_factory): each
 * dimension maps to a fixed-width code — uint8 against per-dim trained
 * [min, max] bounds (4x compression), a packed 4-bit nibble (8x), or a
 * raw IEEE half (2x, no training dependency) — the FAISS
 * ScalarQuantizer QT_8bit / QT_4bit / QT_fp16 family. Asymmetric
 * search decodes per-element inside the distance loop (no materialized
 * decode column).
 */
object Sq {

  /** code width variant, parsed from the factory's SQ token */
  sealed abstract class Variant(val name: String)
  case object V8 extends Variant("8")      // 1 byte/dim, 255 levels
  case object V4 extends Variant("4")      // 2 dims/byte, 15 levels
  case object Fp16 extends Variant("fp16") // 2 bytes/dim, IEEE half

  // ---- IEEE 754 half-precision codec (JDK 17 has no Float.float16*) ----

  /** float -> half bits, round-to-nearest (ties away from zero via
    * Math.round — deterministic everywhere, which is what the engine
    * needs; FAISS's hardware RNE may differ on exact .5 mantissa ties) */
  def floatToHalf(f: Float): Short = {
    if (java.lang.Float.isNaN(f)) return 0x7e00.toShort
    val sbit = if (java.lang.Float.floatToIntBits(f) < 0) 0x8000 else 0
    val a = math.abs(f)
    if (a >= 65520f) return (sbit | 0x7c00).toShort // rounds past max half -> inf
    if (a < Math.scalb(1f, -14)) { // subnormal range: units of 2^-24
      val q = Math.round(Math.scalb(a, 24))
      // q == 1024 encodes as 0x400 = smallest normal, which is exactly right
      return (sbit | q).toShort
    }
    val e = Math.getExponent(a)
    val q = Math.round(Math.scalb(a, 10 - e)) // mantissa in [1024, 2048]
    val (mant, exp) = if (q == 2048) (1024, e + 1) else (q, e)
    if (exp > 15) (sbit | 0x7c00).toShort // mantissa rounding pushed past max exponent
    else (sbit | ((exp + 15) << 10) | (mant & 0x3ff)).toShort
  }

  /** half bits -> float, exact (every half value is a float) */
  def halfToFloat(h: Short): Float = {
    val u = h & 0xffff
    val sign = if ((u & 0x8000) != 0) -1f else 1f
    val exp = (u >> 10) & 0x1f
    val mant = u & 0x3ff
    if (exp == 0x1f) { if (mant == 0) sign * Float.PositiveInfinity else Float.NaN }
    else if (exp == 0) sign * Math.scalb(mant.toFloat, -24)
    else sign * Math.scalb((0x400 | mant).toFloat, exp - 25)
  }

  /** per-dim (vmin, vdiff) from a training sample; degenerate dims get
    * vdiff=0 and always encode/decode to the midpoint vmin */
  def train(samples: Array[Array[Float]]): (Array[Float], Array[Float]) = {
    require(samples.nonEmpty, "SQ training needs a non-empty sample")
    val dim = samples(0).length
    val mn = Array.fill(dim)(Float.MaxValue)
    val mx = Array.fill(dim)(Float.MinValue)
    var p = 0
    while (p < samples.length) {
      val v = samples(p)
      var i = 0
      while (i < dim) {
        val x = v(i)
        if (!x.isNaN) {
          if (x < mn(i)) mn(i) = x
          if (x > mx(i)) mx(i) = x
        }
        i += 1
      }
      p += 1
    }
    val diff = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      if (mn(i) > mx(i)) { mn(i) = 0f; mx(i) = 0f } // all-NaN dim
      diff(i) = mx(i) - mn(i)
      i += 1
    }
    (mn, diff)
  }

  /** bounds-scaled level code for the uint variants */
  private def levelCode(x: Float, mn: Float, df: Float, levels: Int): Int =
    if (df <= 0f || x.isNaN) 0
    else {
      val t = (x - mn) / df * levels + 0.5f
      if (t <= 0f) 0 else if (t >= levels) levels else t.toInt
    }

  def encodeOne(
      v: ArrayData, vmin: Array[Float], vdiff: Array[Float],
      variant: Variant = V8): Array[Byte] = {
    val dim = vmin.length
    variant match {
      case V8 =>
        val out = new Array[Byte](dim)
        var i = 0
        while (i < dim) {
          out(i) = levelCode(v.getFloat(i), vmin(i), vdiff(i), 255).toByte
          i += 1
        }
        out
      case V4 => // two dims per byte: even dim -> low nibble, odd -> high
        val out = new Array[Byte]((dim + 1) / 2)
        var i = 0
        while (i < dim) {
          val c = levelCode(v.getFloat(i), vmin(i), vdiff(i), 15)
          val j = i >> 1
          out(j) = (out(j) | (if ((i & 1) == 0) c else c << 4)).toByte
          i += 1
        }
        out
      case Fp16 => // raw half bits, little-endian, bounds unused
        val out = new Array[Byte](2 * dim)
        var i = 0
        while (i < dim) {
          val h = floatToHalf(v.getFloat(i))
          out(2 * i) = (h & 0xff).toByte
          out(2 * i + 1) = ((h >> 8) & 0xff).toByte
          i += 1
        }
        out
    }
  }

  /** decode a code back to the stored approximation (FAISS
    * `sa_decode`/`reconstruct` semantics — exactly the values the
    * asymmetric distance loop compares against) */
  def decodeOne(code: Array[Byte], vmin: Array[Float], vdiff: Array[Float],
      variant: Variant): Array[Float] = {
    val dim = vmin.length
    val out = new Array[Float](dim)
    var i = 0
    variant match {
      case V8 =>
        while (i < dim) {
          out(i) = vmin(i) + (code(i) & 0xff).toFloat / 255f * vdiff(i); i += 1
        }
      case V4 =>
        while (i < dim) {
          val nib = if ((i & 1) == 0) code(i >> 1) & 0x0f else (code(i >> 1) >> 4) & 0x0f
          out(i) = vmin(i) + nib.toFloat / 15f * vdiff(i); i += 1
        }
      case Fp16 =>
        while (i < dim) {
          out(i) = halfToFloat(
            ((code(2 * i) & 0xff) | ((code(2 * i + 1) & 0xff) << 8)).toShort)
          i += 1
        }
    }
    out
  }

  /** asymmetric L2^2 of the code at code[off, off + width): query
    * float vs decoded code in one fused loop. The packed coded-list scan
    * passes a slice of one big byte array, the row plan off = 0 — the
    * same accumulation order, so distances are bit-equal */
  def l2DistanceAt(
      code: Array[Byte], off: Int, width: Int, q: Array[Float],
      vmin: Array[Float], vdiff: Array[Float], variant: Variant): Double = {
    var d = 0.0
    var i = 0
    variant match {
      case V8 =>
        // opt-in SIMD twin (graft.functions.SimdKernels.sqL2u8): decoded
        // values are BIT-equal per dim (identical float op sequence per
        // lane), only the distance sum is lane-reassociated — the same
        // contract as VectorMath.distArr's gate, OFF by default
        if (graft.functions.VectorMath.Simd.active)
          return graft.functions.SimdKernels.sqL2u8(code, off, width, q, vmin, vdiff)
        while (i < width) {
          val decoded = vmin(i) + (code(off + i) & 0xff).toFloat / 255f * vdiff(i)
          val t = q(i).toDouble - decoded
          d += t * t
          i += 1
        }
      case V4 =>
        val dim = q.length
        while (i < dim) {
          val nib = if ((i & 1) == 0) code(off + (i >> 1)) & 0x0f else (code(off + (i >> 1)) >> 4) & 0x0f
          val decoded = vmin(i) + nib.toFloat / 15f * vdiff(i)
          val t = q(i).toDouble - decoded
          d += t * t
          i += 1
        }
      case Fp16 =>
        val dim = q.length
        while (i < dim) {
          val h = ((code(off + 2 * i) & 0xff) | ((code(off + 2 * i + 1) & 0xff) << 8)).toShort
          val t = q(i).toDouble - halfToFloat(h)
          d += t * t
          i += 1
        }
    }
    d
  }
}
