package graft.index

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * The fine quantizer of a coded index: the part of FAISS's `PQ<m>`,
 * `SQ8|SQ4|SQfp16`, `RQ<m>x8` and `LSQ<m>x8` factory indexes that is
 * not the coarse quantizer. A [[CodecSpec]] is the parsed factory
 * token; training it yields a [[Codec]], the typed trained state. The
 * coded layout, coarse probing, re-rank, append and save/load plumbing
 * is codec-independent ([[IndexCatalog.CodedBuilt]]).
 *
 * Every codec method delegates to the static kernels of Pq, Sq, Rq and
 * Lsq. A search scores codes through one [[CodedScorer]], the probed-list
 * kernel's ([[graft.search.Knn.probedCandidates]]) view of a codec, so a
 * filtered and an unfiltered search rank by the same distances.
 */
sealed trait CodecSpec {
  def train(pts: Array[Array[Float]], seed: Long): Codec

  /** the trained state a save wrote under `path` */
  private[index] def restore(spark: SparkSession, path: String): Option[Codec]

  /** the save's directory for this codec family's coarse centroids */
  private[index] def coarseDir: String = "pq_coarse"
}

object CodecSpec {

  /** the codec a factory token names, if it names one */
  def unapply(token: String): Option[CodecSpec] = token match {
    case t if t.startsWith("PQ") => Some(PqCodecSpec(t.stripPrefix("PQ").toInt))
    case t if t.startsWith("SQ") =>
      val b = t.stripPrefix("SQ")
      require(b == "8" || b == "4" || b == "fp16",
        s"only SQ8/SQ4/SQfp16 scalar quantization is supported, got SQ$b")
      Some(SqCodecSpec(b match { case "4" => Sq.V4; case "fp16" => Sq.Fp16; case _ => Sq.V8 }))
    case t if t.startsWith("RQ") => Some(RqCodecSpec(byteStages(t, "RQ")))
    case t if t.startsWith("LSQ") => Some(LsqCodecSpec(byteStages(t, "LSQ")))
    case _ => None
  }

  // FAISS grammar <Q><m>x<b>: only 8-bit stages (byte codes) here — a
  // different width would silently build a different structure
  private def byteStages(token: String, prefix: String): Int =
    token.stripPrefix(prefix).split("x", 2) match {
      case Array(m) => m.toInt
      case Array(m, b) =>
        require(b == "8", s"only $prefix<m>x8 (byte stages) is supported, got $token")
        m.toInt
    }

  /** PQ, RQ and LSQ share one layout: pq_codebooks */
  private[index] def restoreBooks(
      spark: SparkSession, path: String): Option[Array[Array[Array[Float]]]] =
    Option.when(IndexCatalog.pathExists(spark, s"$path/pq_codebooks"))(
      Codec.readBooks(spark, s"$path/pq_codebooks"))
}

final case class PqCodecSpec(m: Int) extends CodecSpec {
  def train(pts: Array[Array[Float]], seed: Long): Codec = PqCodec(Pq.train(pts, m, seed))
  private[index] def restore(spark: SparkSession, path: String) =
    CodecSpec.restoreBooks(spark, path).map(PqCodec(_))
}

final case class SqCodecSpec(variant: Sq.Variant) extends CodecSpec {
  def train(pts: Array[Array[Float]], seed: Long): Codec = {
    val (vmin, vdiff) = Sq.train(pts)
    SqCodec(vmin, vdiff, variant)
  }
  private[index] def restore(spark: SparkSession, path: String) =
    Option.when(IndexCatalog.pathExists(spark, s"$path/sq_bounds")) {
      val rows = spark.read.parquet(s"$path/sq_bounds").collect().sortBy(_.getInt(0))
      SqCodec(rows.map(_.getFloat(1)), rows.map(_.getFloat(2)), variant)
    }
  override private[index] def coarseDir: String = "sq_coarse"
}

final case class RqCodecSpec(m: Int) extends CodecSpec {
  def train(pts: Array[Array[Float]], seed: Long): Codec = RqCodec(Rq.train(pts, m, seed))
  private[index] def restore(spark: SparkSession, path: String) =
    CodecSpec.restoreBooks(spark, path).map(RqCodec(_))
}

final case class LsqCodecSpec(m: Int) extends CodecSpec {
  def train(pts: Array[Array[Float]], seed: Long): Codec = LsqCodec(Lsq.train(pts, m, seed))
  private[index] def restore(spark: SparkSession, path: String) =
    CodecSpec.restoreBooks(spark, path).map(LsqCodec(_))
}

/** Trained codec state: encode, decode, query-batch scoring, persistence. */
sealed trait Codec extends Serializable {
  def encode(v: ArrayData): Array[Byte]

  /** the stored approximation of a code (FAISS `sa_decode`/`reconstruct`
    * semantics — exactly the values the distance kernel scores against) */
  def decode(code: Array[Byte]): Array[Float]

  /** per-query state the distance kernel reads: the ADC lookup table
    * for PQ, the query vector itself for the decode-in-loop codecs */
  protected def prepare(q: Array[Float]): Array[Float] = q

  /** approximate L2² between prepared query state and the code at
    * codes[off, off + width); `scratch` (length [[scratchLen]]) is task-local */
  private[index] def distance(
      ctx: Array[Float], codes: Array[Byte], off: Int, width: Int, scratch: Array[Float]): Double

  /** decode scratch the distance kernel needs (0: none) */
  private[index] def scratchLen: Int = 0

  def scorer(queries: Array[(Long, Array[Float])]): CodedScorer =
    new CodedScorer(this, queries.map { case (_, q) => prepare(q) })

  /** write the trained state into a save's parts directory (FAISS
    * saves trained quantizers in the index file) */
  private[index] def persist(spark: SparkSession, path: String): Unit

  /** the codec one build encodes with (LSQ binds a fresh rounds accumulator) */
  private[index] def forBuild(sc: SparkContext, indexName: String): Codec = this

  /** product/additive codebooks — the [[IndexCatalog.trainedPqOf]] view */
  private[index] def trainedBooks: Option[Array[Array[Array[Float]]]] = None

  /** scalar-quantizer (vmin, vdiff) — the [[IndexCatalog.trainedSqOf]] view */
  private[index] def trainedBounds: Option[(Array[Float], Array[Float])] = None

  /** observed max effective ICM rounds of this build's encode (LSQ only) */
  private[index] def roundsReader: Option[() => Option[Int]] = None
}

object Codec {
  private[index] def writeBooks(
      spark: SparkSession, books: Array[Array[Array[Float]]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (cen, ci) => (sub, ci, cen.toSeq) }
    }.toSeq.toDF("sub", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private[index] def readBooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    spark.read.parquet(path).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray) }
      .toArray
}

/** PQ, RQ and LSQ: m codebooks of 256 centroids, persisted as pq_codebooks */
sealed abstract class BookCodec extends Codec {
  def books: Array[Array[Array[Float]]]
  override private[index] def trainedBooks: Option[Array[Array[Array[Float]]]] = Some(books)
  private[index] def persist(spark: SparkSession, path: String): Unit =
    Codec.writeBooks(spark, books, s"$path/pq_codebooks")
}

/** product quantizer: codebooks(sub)(code)(dim-within-sub), ADC search */
final case class PqCodec(books: Array[Array[Array[Float]]]) extends BookCodec {
  def encode(v: ArrayData): Array[Byte] = Pq.encodeOne(v, books)
  def decode(code: Array[Byte]): Array[Float] = Pq.decodeOne(code, books)
  override protected def prepare(q: Array[Float]): Array[Float] = Pq.lutFor(q, books)
  private[index] def distance(
      lut: Array[Float], codes: Array[Byte], off: Int, width: Int, scratch: Array[Float]): Double =
    Pq.adcDistanceAt(codes, off, width, lut)
}

/** additive codebooks(stage)(code)(full-dim): decode-in-loop L2 (RQ, LSQ) */
sealed abstract class AdditiveCodec extends BookCodec {
  def decode(code: Array[Byte]): Array[Float] = Rq.decodeOne(code, books)
  private[index] def distance(
      q: Array[Float], codes: Array[Byte], off: Int, width: Int, scratch: Array[Float]): Double =
    Rq.l2DistanceAt(codes, off, width, q, books, scratch)
  override private[index] def scratchLen: Int = books(0)(0).length
}

/** residual quantizer: beam-search encode */
final case class RqCodec(books: Array[Array[Array[Float]]]) extends AdditiveCodec {
  def encode(v: ArrayData): Array[Byte] = Rq.encodeOne(v, books)
}

/** local-search quantizer: RQ's additive model and search, ICM encode.
  * `roundsAcc` (null until a build binds one) observes the max
  * effective ICM rounds for the replay oracle. */
final case class LsqCodec(
    books: Array[Array[Array[Float]]], roundsAcc: MaxAccumulator = null) extends AdditiveCodec {
  def encode(v: ArrayData): Array[Byte] = {
    val a = new Array[Float](v.numElements())
    var i = 0
    while (i < a.length) { a(i) = v.getFloat(i); i += 1 }
    val (code, rounds) = Lsq.encodeArrRounds(a, books)
    // +1 so the accumulator's zero-state distinguishes "never ran" from
    // a legitimate all-zero-rounds corpus (greedy init at the fixpoint)
    if (roundsAcc != null) roundsAcc.add(rounds.toLong + 1L)
    code
  }

  override private[index] def forBuild(sc: SparkContext, indexName: String): Codec = {
    val a = new MaxAccumulator
    sc.register(a, s"lsq_icm_rounds_$indexName")
    copy(roundsAcc = a)
  }

  override private[index] def roundsReader: Option[() => Option[Int]] =
    Option(roundsAcc).map { acc => () =>
      Some(acc.value.toInt).filter(_ > 0).map(_ - 1) // encode stores rounds+1; 0 = never ran
    }
}

/** scalar quantizer: per-dim codes against trained [vmin, vmin + vdiff] */
final case class SqCodec(vmin: Array[Float], vdiff: Array[Float], variant: Sq.Variant)
    extends Codec {
  def encode(v: ArrayData): Array[Byte] = Sq.encodeOne(v, vmin, vdiff, variant)
  def decode(code: Array[Byte]): Array[Float] = Sq.decodeOne(code, vmin, vdiff, variant)
  private[index] def distance(
      q: Array[Float], codes: Array[Byte], off: Int, width: Int, scratch: Array[Float]): Double =
    Sq.l2DistanceAt(codes, off, width, q, vmin, vdiff, variant)
  override private[index] def trainedBounds: Option[(Array[Float], Array[Float])] =
    Some((vmin, vdiff))
  private[index] def persist(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    vmin.indices.map(i => (i, vmin(i), vdiff(i))).toDF("dim_idx", "vmin", "vdiff")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sq_bounds")
  }
}

/**
 * One query batch's code scoring, as the probed-list kernel reads it:
 * a row's code (column 2) once per row, each batch entry's prepared
 * state — its LUT or query vector, by entry, so that two entries with
 * one qid score with their own vectors — once per task, and `distance`
 * once per (code, entry), always after a `state` on the same instance.
 * Instances are deserialized per task, so the decode scratch needs no
 * locking.
 */
final class CodedScorer(codec: Codec, prepared: Array[Array[Float]])
    extends graft.search.Knn.ListScore[Array[Byte]] {
  // task-local scratch for the RQ/LSQ additive decode: avoids a
  // dim-length allocation PER CANDIDATE in the scan loop
  @transient private var scratch: Array[Float] = _
  def payload(row: InternalRow): Array[Byte] = row.getBinary(2)
  def state(qi: Int, entry: (Long, Array[Float])): Array[Float] = {
    if (scratch == null) scratch = new Array[Float](codec.scratchLen)
    prepared(qi)
  }
  def distance(ctx: Array[Float], code: Array[Byte]): Double =
    codec.distance(ctx, code, 0, code.length, scratch)
}

/** encode an array<float> vector to its codec code */
case class CodecEncode(child: Expression, codec: Codec)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "codec_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"codec_encode needs array<float>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    codec.encode(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** decode a code back to the stored approximation (reconstruct) */
case class CodecDecode(child: Expression, codec: Codec)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "codec_decode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"codec_decode needs binary, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(codec.decode(input.asInstanceOf[Array[Byte]]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
