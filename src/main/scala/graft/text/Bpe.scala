package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed BPE (byte-pair-encoding) merge learning — the tokenizer-
 * training step of an LLM data pipeline (Sennrich et al. 2016, public
 * algorithm; part of the beyond-the-reference LLM layer).
 *
 * Scale shape: the corpus-scale work is the ONE token-frequency
 * aggregation the caller feeds in; everything after operates on the
 * DISTINCT-WORD table weighted by frequency — vocabulary-sized, not
 * corpus-sized, no matter how many TB of documents feed it. Like the
 * dedup connected-components hybrid, the merge loop switches on that
 * bounded size:
 *  - vocab <= maxDriverVocab (default 200k words ~ a few MB): collect
 *    ONCE and run the classic driver loop — a 16-round loop over 200k
 *    short symbol arrays is milliseconds, where 16 distributed rounds
 *    would pay 16x job-scheduling latency for no parallelism win.
 *  - above the bound: distributed rounds — each one pair-count
 *    aggregation (bounded shuffle of fixed-width pair rows) + a 1-ROW
 *    argmax collect; lineage cut per round via eager localCheckpoint
 *    so round plans stay constant-size.
 *
 * Determinism: ties on pair frequency break lexicographically on
 * (left, right), so the learned merge table is a pure function of the
 * corpus — identical across runs, partitionings, and both paths.
 */
object Bpe {

  /** end-of-word sentinel: merges never cross word boundaries, and the
    * final symbol of a word is distinguishable from a mid-word one */
  val EOW = "</w>"

  /** split into CODE POINTS, not UTF-16 code units: `w.map(_.toString)`
    * would break a supplementary character (emoji, CJK Ext-B) into two
    * lone surrogates, which UTF8String/Dataset encoding then mangles to
    * '?' — silently merging all such characters in the distributed path
    * while the driver path kept them distinct */
  private[text] def baseSymbols(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  /** code-point lexicographic comparison — the ordering UTF8String's
    * byte comparison induces, used by BOTH paths so frequency ties break
    * identically (java.lang.String.compareTo is UTF-16 code-unit order,
    * which disagrees above the BMP) */
  private[text] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  case class WordSyms(syms: Seq[String], freq: Long)
  case class Merge(rank: Int, left: String, right: String, pair_freq: Long)

  /** greedy left-to-right single-merge application: "a a a" under
    * (a,a) -> ["aa", "a"], matching the classic implementation */
  def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /**
   * Learn `numMerges` merges from a (word, freq) table. Input must be
   * distinct on word (the caller's token-count aggregate guarantees it).
   */
  def learn(spark: SparkSession, wordFreq: DataFrame, numMerges: Int,
      maxDriverVocab: Long = 200000): Seq[Merge] = {
    val words = wordFreq.select(col("word").cast("string"), col("freq").cast("long"))
    // ONE job doubles as the size probe and (when small) the data: a
    // separate count() would re-run the corpus-scale frequency
    // aggregation a second time for the common path
    val head = words
      .limit(math.min(maxDriverVocab + 1, Int.MaxValue.toLong).toInt).collect()
    if (head.length <= maxDriverVocab)
      learnLocal(head.map(r => (r.getString(0), r.getLong(1))), numMerges)
    else
      // rare path: the aggregation runs once more to materialize the
      // full table (the probe saw only a bounded prefix)
      learnDistributed(spark, words, numMerges)
  }

  /** driver loop over a bounded vocabulary (the classic implementation) */
  private[text] def learnLocal(vocab: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    val syms = vocab.map { case (w, _) =>
      scala.collection.mutable.ArrayBuffer.from(baseSymbols(w) :+ EOW)
    }
    val freqs = vocab.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freqs(wi)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) done = true
      else {
        // tie-break in code-point order (cpCompare) to match the
        // distributed path's UTF8String binary ordering exactly
        val ((l, r), pf) = counts.reduceLeft { (x, y) =>
          val cmp =
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2) // freq desc
            else {
              val c1 = cpCompare(x._1._1, y._1._1)
              if (c1 != 0) c1 else cpCompare(x._1._2, y._1._2)
            }
          if (cmp <= 0) x else y
        }
        merges += Merge(rank, l, r, pf)
        wi = 0
        while (wi < syms.length) {
          // in-place greedy rewrite, identical to applyMerge
          val s = syms(wi)
          var read = 0
          var write = 0
          while (read < s.length) {
            if (read + 1 < s.length && s(read) == l && s(read + 1) == r) {
              s(write) = l + r; read += 2
            } else { s(write) = s(read); read += 1 }
            write += 1
          }
          s.dropRightInPlace(s.length - write)
          wi += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** distributed rounds for vocabularies too large to collect */
  private[text] def learnDistributed(
      spark: SparkSession, words: DataFrame, numMerges: Int): Seq[Merge] = {
    import spark.implicits._
    var ds: Dataset[WordSyms] = words.as[(String, Long)]
      .map { case (w, f) => WordSyms(baseSymbols(w) :+ EOW, f) }
      .localCheckpoint(true) // eager: rounds read materialized blocks, not the corpus
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val best = ds.flatMap(w =>
          if (w.syms.length < 2) Iterator.empty
          else w.syms.iterator.zip(w.syms.iterator.drop(1)).map { case (a, b) => (a, b, w.freq) })
        .toDF("l", "r", "f")
        .groupBy("l", "r").agg(sum("f").as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1)
        .collect() // bounded: exactly one row per round
      if (best.isEmpty) done = true
      else {
        val (l, r, pf) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, l, r, pf)
        // unpersist the PREVIOUS round's checkpoint once the new one is
        // materialized — otherwise numMerges copies of the symbol table
        // pile up in executor storage on a corpus-scale vocabulary
        val prev = ds
        ds = ds.map(w => WordSyms(applyMerge(w.syms, l, r), w.freq)).localCheckpoint(true)
        prev.unpersist()
        rank += 1
      }
    }
    merges.toSeq
  }

  /** encode a token with a learned merge table (ranks applied in order) —
    * the apply-side of the tokenizer, for specs and downstream use */
  def encode(word: String, merges: Seq[Merge]): Seq[String] = {
    var syms: Seq[String] = baseSymbols(word) :+ EOW
    merges.sortBy(_.rank).foreach(m => syms = applyMerge(syms, m.left, m.right))
    syms
  }

  /** static kernel entry for [[BpeEncodeTokens]]: flat subword stream of
    * a whole token array under an ordered merge table */
  def encodeTokens(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      merges: Array[(String, String)]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.unsafe.types.UTF8String]
    var i = 0
    while (i < toks.numElements()) {
      val w = toks.getUTF8String(i)
      if (w != null) {
        var syms: Seq[String] = baseSymbols(w.toString) :+ EOW
        var m = 0
        while (m < merges.length) {
          syms = applyMerge(syms, merges(m)._1, merges(m)._2)
          m += 1
        }
        syms.foreach(s => out += org.apache.spark.unsafe.types.UTF8String.fromString(s))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[AnyRef])
  }
}

/**
 * Apply-side of the BPE tokenizer as a native Expression: the learned
 * merge table rides the serialized plan to every executor (the same
 * pattern as CoarseAssign's coarse quantizer) and each row's token
 * array is rewritten to its subword stream in one compiled call —
 * tokenizing 100 TB is a scan-stage projection, no shuffle, no UDF.
 */
case class BpeEncodeTokens(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    merges: Array[(String, String)])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode_tokens"

  override protected def nullSafeEval(input: Any): Any =
    Bpe.encodeTokens(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("merges", merges, "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.text.Bpe.encodeTokens($c, $tbl);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = newChild)
}
