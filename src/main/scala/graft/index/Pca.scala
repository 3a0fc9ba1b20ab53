package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * PCA pre-transform for factory strings like `PCA16,IVF64,Flat`
 * (FAISS index_factory pretransform; the reference passes factory
 * strings straight through, duckdb-faiss-ext README "index_factory").
 * Train = mean-center + eigendecomposition of the sample covariance on
 * the driver (samples are bounded, like all our quantizer training);
 * apply = one matrix-vector product per row. A full-rank PCA is an
 * isometry, so L2 search through it is exact; truncated PCA trades
 * recall for dimension like FAISS does.
 */
object Pca {

  /** (mean, components): components(j) = j-th principal axis (unit,
    * deterministic sign: first nonzero coordinate positive),
    * eigenvalue-descending */
  def train(samples: Array[Array[Float]], outDim: Int): (Array[Float], Array[Array[Float]]) = {
    require(samples.nonEmpty, "PCA training needs a non-empty sample")
    val n = samples.length
    val dim = samples(0).length
    require(outDim <= dim, s"PCA$outDim exceeds input dim $dim")
    val mean = new Array[Double](dim)
    samples.foreach { v => var i = 0; while (i < dim) { mean(i) += v(i); i += 1 } }
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    // covariance (upper triangle), double precision
    val cov = Array.ofDim[Double](dim, dim)
    samples.foreach { v =>
      var a = 0
      while (a < dim) {
        val da = v(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += da * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) { cov(a)(b) /= math.max(1, n - 1); cov(b)(a) = cov(a)(b); b += 1 }
      a += 1
    }
    val eig = breeze.linalg.eigSym(breeze.linalg.DenseMatrix.tabulate(dim, dim)((r, c) => cov(r)(c)))
    // eigSym returns ascending eigenvalues; take the top outDim, flip order
    val order = (0 until dim).sortBy(j => -eig.eigenvalues(j)).take(outDim)
    val comps = order.map { j =>
      val col = Array.tabulate(dim)(r => eig.eigenvectors(r, j))
      val firstNz = col.indexWhere(math.abs(_) > 1e-12)
      val sign = if (firstNz >= 0 && col(firstNz) < 0) -1.0 else 1.0
      col.map(x => (x * sign).toFloat)
    }.toArray
    (mean.map(_.toFloat), comps)
  }

  /** write a trained transform into a save's `pca` part: the mean as
    * row -1, component j as row j (OPQ's rotation, mean 0, shares it) */
  private[index] def save(
      spark: SparkSession, transform: (Array[Float], Array[Array[Float]]), path: String): Unit = {
    import spark.implicits._
    val (mean, comps) = transform
    (Seq((-1, mean.toSeq)) ++ comps.zipWithIndex.map { case (c, j) => (j, c.toSeq) })
      .toDF("row_idx", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pca")
  }

  /** the transform a save under `path` holds, if it holds one */
  private[index] def load(
      spark: SparkSession, path: String): Option[(Array[Float], Array[Array[Float]])] =
    Option.when(IndexCatalog.pathExists(spark, s"$path/pca")) {
      val rows = spark.read.parquet(s"$path/pca").collect().sortBy(_.getInt(0))
      (rows.find(_.getInt(0) == -1).get.getSeq[Float](1).toArray,
        rows.filter(_.getInt(0) >= 0).map(_.getSeq[Float](1).toArray))
    }

  /** driver-side twin of [[project]] for already-materialized samples */
  def projectArr(v: Array[Float], mean: Array[Float], comps: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](comps.length)
    // opt-in SIMD (the PCA/OPQ pre-transform runs per corpus row at
    // encode and per query at search): per-term float roundings are
    // replayed per lane, only the dot's association order differs —
    // the usual declared contract; scalar stays the oracle-replayed
    // canonical path
    val simd = graft.functions.VectorMath.Simd.active
    var j = 0
    while (j < comps.length) {
      val c = comps(j)
      var s = 0.0
      if (simd) s = graft.functions.SimdKernels.pcaTerm(c, v, mean)
      else {
        var i = 0
        while (i < mean.length) { s += c(i) * (v(i) - mean(i)); i += 1 }
      }
      out(j) = s.toFloat
      j += 1
    }
    out
  }

  def project(v: ArrayData, mean: Array[Float], comps: Array[Array[Float]]): ArrayData = {
    // gated path: one primitive copy per row (also replaces dim x
    // comps virtual getFloat calls), then the SIMD matvec
    if (graft.functions.VectorMath.Simd.active)
      return new GenericArrayData(projectArr(v.toFloatArray(), mean, comps))
    val dim = mean.length
    val out = new Array[Float](comps.length)
    var j = 0
    while (j < comps.length) {
      val c = comps(j)
      var s = 0.0
      var i = 0
      while (i < dim) { s += c(i) * (v.getFloat(i) - mean(i)); i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** project an array<float> vector onto the trained principal axes */
case class PcaProject(child: Expression, mean: Array[Float], comps: Array[Array[Float]])
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pca_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pca_project needs array<float>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Pca.project(input.asInstanceOf[ArrayData], mean, comps)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
