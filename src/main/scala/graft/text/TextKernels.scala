package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native per-row text kernels, called from codegen (static forwarders).
 *
 * The Gopher-style repetition signal (share of the most frequent n-gram
 * — reference: duckdb-faiss-ext test/sql corpus-quality coverage) needs
 * the mode of a per-document multiset. A shuffle formulation explodes
 * every gram of every document (corpus-scale data movement); a Catalyst
 * higher-order-function formulation stays shuffle-free but its lambdas
 * are interpreted per element and fall out of WholeStageCodegen (the
 * round-2 8.3x regression). This kernel keeps the shuffle-free shape
 * but does the whole scan — gram grouping, run counting — in one
 * compiled call per row, inside the codegen span.
 */
object TextKernels {

  /**
   * Share of the most frequent contiguous n-gram among all n-grams of
   * the token array. EXACT (no hashing): grams are compared as token
   * sequences, which is equivalent to comparing space-joined gram
   * strings because whitespace-split tokens contain no spaces.
   * Returns NaN when the document has fewer than n tokens (caller maps
   * NaN to SQL NULL, mirroring the group-by formulation that emits no
   * row for gram-less documents).
   */
  def topShingleRatio(toks: ArrayData, n: Int): Double = {
    val nt = toks.numElements()
    val m = nt - (n - 1)
    if (m <= 0) return Double.NaN
    val ts = new Array[UTF8String](nt)
    var i = 0
    while (i < nt) { ts(i) = toks.getUTF8String(i); i += 1 }
    // sort gram start-indices by token-sequence order; equal grams land
    // adjacent, so the multiset mode is the longest equal run
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        var j = 0
        while (j < n) {
          val c = cmpTok(ts(a + j), ts(b + j))
          if (c != 0) return c
          j += 1
        }
        0
      }
    })
    var best = 1
    var run = 1
    i = 1
    while (i < m) {
      var eq = true
      var j = 0
      while (eq && j < n) {
        if (cmpTok(ts(idx(i) + j), ts(idx(i - 1) + j)) != 0) eq = false
        j += 1
      }
      if (eq) { run += 1; if (run > best) best = run } else run = 1
      i += 1
    }
    best.toDouble / m.toDouble
  }

  /**
   * Fraction of n-grams that occur more than once in the document (the
   * Gopher duplicate-n-gram signal, complementing the top-gram mode).
   * Same sorted-run scan as [[topShingleRatio]]: equal grams land in one
   * run, and every gram of a run of length >= 2 is a duplicate.
   * Returns NaN when the document has fewer than n tokens.
   */
  def dupShingleFraction(toks: ArrayData, n: Int): Double = {
    val nt = toks.numElements()
    val m = nt - (n - 1)
    if (m <= 0) return Double.NaN
    val ts = new Array[UTF8String](nt)
    var i = 0
    while (i < nt) { ts(i) = toks.getUTF8String(i); i += 1 }
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        var j = 0
        while (j < n) {
          val c = cmpTok(ts(a + j), ts(b + j))
          if (c != 0) return c
          j += 1
        }
        0
      }
    })
    var dup = 0
    var run = 1
    i = 1
    while (i < m) {
      var eq = true
      var j = 0
      while (eq && j < n) {
        if (cmpTok(ts(idx(i) + j), ts(idx(i - 1) + j)) != 0) eq = false
        j += 1
      }
      if (eq) run += 1
      else { if (run >= 2) dup += run; run = 1 }
      i += 1
    }
    if (run >= 2) dup += run
    dup.toDouble / m.toDouble
  }

  private val stopwords: Array[UTF8String] =
    TextFunctions.stopwords.map(UTF8String.fromString).toArray

  /** ASCII bytes of [[TextFunctions.punctRatio]]'s character class */
  private val punctByte: Array[Boolean] = {
    val t = new Array[Boolean](128)
    ".,;:!?'\"()[]{}-".foreach(c => t(c) = true)
    t
  }

  /** `least(x, 1.0)` as Spark evaluates it: 1.0 only when strictly smaller */
  private def atMostOne(x: Double): Double = if (1.0 < x) 1.0 else x

  /**
   * [[TextFunctions.qualityScore]]'s arithmetic from one evaluation of
   * the token array, with the SQL chain's doubles in its order:
   *  - size: a null array has size -1 under legacy sizing, else null —
   *    and `least` skips the null, so the length term is then 1.0;
   *  - unique ratio counts a null token as one distinct value;
   *  - a null token is no stopword (`filter` drops it);
   *  - punctuation counts the class `[.,;:!?'"()\[\]{}-]` (ASCII,
   *    so a byte scan) over `length(text)` characters; null text
   *    scores 0 punctuation.
   */
  def qualityScore(text: UTF8String, toks: ArrayData, legacySizeOfNull: Boolean): Double = {
    var lenScore = 1.0
    var uniq = 0.0
    var stop = 0.0
    if (toks != null || legacySizeOfNull) {
      val n = if (toks == null) -1 else toks.numElements()
      lenScore = atMostOne(n.toDouble / 64.0)
      if (n > 0) {
        val distinct = new java.util.HashSet[UTF8String](2 * n)
        var stops = 0
        var i = 0
        while (i < n) {
          val t = toks.getUTF8String(i)
          distinct.add(t)
          if (t != null) {
            var j = 0
            while (j < stopwords.length && !t.equals(stopwords(j))) j += 1
            if (j < stopwords.length) stops += 1
          }
          i += 1
        }
        uniq = distinct.size.toDouble / n.toDouble
        stop = stops.toDouble / n.toDouble
      }
    }
    var punct = 0.0
    if (text != null) {
      val chars = text.numChars()
      if (chars > 0) {
        val base = text.getBaseObject
        val off = text.getBaseOffset
        var p = 0
        var i = 0
        while (i < text.numBytes) {
          val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
          if (b >= 0 && punctByte(b)) p += 1
          i += 1
        }
        punct = p.toDouble / chars.toDouble
      }
    }
    lenScore * 0.25 + uniq * 0.25 + atMostOne(stop * 4.0) * 0.25 +
      (1.0 - atMostOne(punct * 4.0)) * 0.25
  }

  private def cmpTok(a: UTF8String, b: UTF8String): Int =
    if (a eq null) { if (b eq null) 0 else -1 }
    else if (b eq null) 1
    else a.compareTo(b)
}

/**
 * `array<string>` tokens -> DOUBLE duplicate-n-gram fraction, NULL below
 * n tokens. Same codegen shape as [[TopShingleRatio]].
 */
case class DupShingleFraction(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dup_shingle_fraction"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val r = TextKernels.dupShingleFraction(v.asInstanceOf[ArrayData], n)
      if (java.lang.Double.isNaN(r)) null else r
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("dsf")
    nullSafeCodeGen(ctx, ev, a => s"""
      |double $r = graft.text.TextKernels.dupShingleFraction($a, $n);
      |if (Double.isNaN($r)) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `array<string>` tokens -> DOUBLE top-n-gram ratio, NULL below n
 * tokens. One static call in the generated code; no HOF lambdas, no
 * shuffle, stays inside WholeStageCodegen.
 */
case class TopShingleRatio(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "top_shingle_ratio"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val r = TextKernels.topShingleRatio(v.asInstanceOf[ArrayData], n)
      if (java.lang.Double.isNaN(r)) null else r
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("tsr")
    nullSafeCodeGen(ctx, ev, a => s"""
      |double $r = graft.text.TextKernels.topShingleRatio($a, $n);
      |if (Double.isNaN($r)) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * (text string, tokens array<string>) -> DOUBLE quality score, never
 * null: [[TextKernels.qualityScore]] over one evaluation of each input.
 * `legacySizeOfNull` is read from the session like Spark's `Size`.
 */
case class QualityScore(text: Expression, toks: Expression, legacySizeOfNull: Boolean)
    extends BinaryExpression {

  def this(text: Expression, toks: Expression) =
    this(text, toks, SQLConf.get.legacySizeOfNull)

  override def left: Expression = text
  override def right: Expression = toks

  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, toks.dataType) match {
    case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<string>), got (${a.catalogString}, ${b.catalogString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "quality_score"

  override def eval(input: InternalRow): Any = TextKernels.qualityScore(
    text.eval(input).asInstanceOf[UTF8String], toks.eval(input).asInstanceOf[ArrayData],
    legacySizeOfNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val k = toks.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${k.code}
      |double ${ev.value} = graft.text.TextKernels.qualityScore(
      |  ${t.isNull} ? null : ${t.value}, ${k.isNull} ? null : ${k.value}, $legacySizeOfNull);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, toks = newRight)
}
