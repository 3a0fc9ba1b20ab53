package graft.index

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, get, lit}
import org.apache.spark.sql.types._

/**
 * The trained coarse quantizer of an inverted-list index — FAISS's
 * `IndexIVF::quantizer` as one object (an `IndexFlat`, an
 * `IndexHNSWFlat` over the centroids, or a `MultiIndexQuantizer`; the
 * reference builds these through faiss::index_factory,
 * faiss_extension.cpp:155). IVF, IVF_HNSW and IMI indexes, coded
 * indexes with nlist > 1 and `AnnJoin` all assign and probe through
 * it; list layout, pruning and save/load stay quantizer-agnostic.
 *
 * Every instance gives the IVF-compatible centroid table (list id =
 * row index), one executor kernel for assignment ([[CoarseAssign]]:
 * the n nearest lists, empty for a vector that probes nothing), one
 * driver-side probe, and its persistence: each instance writes its own
 * parts of a save (the centroid table, a graph's keyed adjacency at any
 * nesting, IMI's half books) and [[Coarse.load]] reads them back.
 */
sealed trait Coarse extends Serializable {
  def centroids: Array[Array[Float]]
  def nlist: Int = centroids.length

  /** the `n` nearest list ids of `v`, nearest first; empty when `v`
    * probes nothing (an all-NaN vector). Called by generated code. */
  def nearest(v: ArrayData, n: Int): ArrayData

  /** the lists one query scans at `nprobe` (driver side) */
  def probe(nprobe: Int): Array[Float] => Seq[Int]

  /** array<int> column: the `n` nearest lists of `v` */
  def nearestCol(v: Column, n: Int): Column =
    GraftBridge.column(CoarseAssign(GraftBridge.expression(v), this, n))

  /** int column: the list `v` is stored in, -1 (never probed) when it
    * probes nothing. get() rather than when(size > 0, element_at): the
    * assignment expression is referenced, and so evaluated, once. */
  def assign(v: Column): Column = coalesce(get(nearestCol(v, 1), lit(0)), lit(-1))

  /** write this quantizer into a save's parts directory: the centroid
    * table under `dir` when given; a graph adds its adjacency and IMI
    * its half books ([[Coarse.load]] reads them back) */
  private[index] def save(spark: SparkSession, path: String, dir: Option[String]): Unit =
    dir.foreach(d => Coarse.writeCentroids(spark, centroids, s"$path/$d"))
}

/** flat argmin over the centroid table under the assignment metric
  * (the static [[NearestCentroids]] kernels) */
final case class FlatCoarse(centroids: Array[Array[Float]], metricId: Int) extends Coarse {
  def nearest(v: ArrayData, n: Int): ArrayData = NearestCentroids.nearest(v, centroids, n, metricId)
  def probe(nprobe: Int): Array[Float] => Seq[Int] =
    qv => NearestCentroids.nearestIds(qv, centroids, nprobe, metricId)
  override def toString: String = s"FlatCoarse(nlist=$nlist)"
}

/**
 * HNSW graph over the centroids (FAISS `IVF<n>_HNSW<m>`): at
 * nlist ≳ 10^5 a flat argmin is itself a scan per vector; the walk is
 * O(log nlist). Assignment is approximate by construction (a vector may
 * land in its second-nearest list), which leaves search exact at
 * nprobe = nlist: every vector lives in one list and every list is
 * scanned. `ef` is the beam width (raised to n when n is larger).
 */
final case class GraphCoarse(
    centroids: Array[Array[Float]], graph: Nsw.Graph,
    m: Int, efConstruction: Int, ef: Int, metricId: Int) extends Coarse {

  /** NaN parity with the flat quantizer: a vector with a NaN component
    * probes nothing (graph comparisons are NaN-unsafe, so it skips the
    * walk) */
  def nearest(v: ArrayData, n: Int): ArrayData = {
    val q = v.toFloatArray()
    if (q.exists(java.lang.Float.isNaN)) new GenericArrayData(Array.emptyIntArray)
    else new GenericArrayData(Nsw.search(graph, q, n, math.max(ef, n), metricId).map(_._2.toInt))
  }

  /** every list outright at nprobe >= nlist: a disconnected graph could
    * otherwise silently skip a list and break exhaustive-probe exactness */
  def probe(nprobe: Int): Array[Float] => Seq[Int] =
    if (nprobe < nlist)
      qv => Nsw.search(graph, qv, nprobe, math.max(ef, nprobe), metricId).map(_._2.toInt).toSeq
    else _ => centroids.indices

  /** rebuilding the graph costs ~59 s driver-side at nlist = 65k
    * (SURVEY §21.8), per loading driver, so every save persists the
    * adjacency with [[Coarse.graphKey]] of its build inputs, under a
    * PCA/OPQ pretransform too (FAISS `write_index` writes the whole
    * quantizer) */
  override private[index] def save(spark: SparkSession, path: String, dir: Option[String]): Unit = {
    super.save(spark, path, dir)
    import spark.implicits._
    val g = graph
    g.labels.indices.map { i =>
      (i, g.labels(i), g.vecs(i).toSeq, g.levels(i),
        g.adj(i).map(_.toSeq).toSeq, g.dups(i).toSeq)
    }.toDF("node_id", "label", "vec", "level", "adj", "dups")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse_graph")
    Seq((Coarse.graphKey(centroids, m, efConstruction, metricId), g.entry, g.maxLevel))
      .toDF("key", "entry", "max_level")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse_graph_meta")
  }

  override def toString: String = s"GraphCoarse(nlist=$nlist, m=$m, ef=$ef)"
}

/**
 * Inverted multi-index (FAISS `IMI2x<n>`): two half-space codebooks
 * whose product is the coarse space ([[Imi]]). Assignment is the
 * product argmin over 2·K half scans, probing the multi-sequence
 * enumeration; the K² product table is only the IVF-compatible view,
 * built on the driver when first asked for and never saved (load
 * rebuilds the quantizer from the books).
 */
final case class ImiCoarse(books: Array[Array[Array[Float]]]) extends Coarse {
  @transient lazy val centroids: Array[Array[Float]] = Imi.productCentroids(books)
  override def nlist: Int = books(0).length * books(1).length

  def nearest(v: ArrayData, n: Int): ArrayData = {
    val q = v.toFloatArray()
    val cell = Imi.assignCell(q, books)
    if (cell < 0) new GenericArrayData(Array.emptyIntArray)
    else if (n == 1) new GenericArrayData(Array(cell))
    else new GenericArrayData(Imi.probeCells(q, books, n).toArray)
  }

  /** the multi-sequence is exact in probe order, so the every-list
    * shortcut at nprobe >= nlist only skips the enumeration */
  def probe(nprobe: Int): Array[Float] => Seq[Int] =
    if (nprobe < nlist) qv => Imi.probeCells(qv, books, nprobe)
    else _ => 0 until nlist

  override private[index] def save(spark: SparkSession, path: String, dir: Option[String]): Unit = {
    super.save(spark, path, dir)
    Codec.writeBooks(spark, books, s"$path/pq_codebooks") // IMI shares PQ's book layout
  }

  override def toString: String = s"ImiCoarse(nlist=$nlist)"
}

object Coarse {

  /** the graph coarse over `centroids`: the adjacency a save persisted
    * under the same build-input key when `saved` has one, else a fresh
    * build — deterministic in (centroids, m, efConstruction, metric)
    * via Nsw's label-hash levels, so both are the same graph */
  def graph(
      centroids: Array[Array[Float]], m: Int, efConstruction: Int, ef: Int, metricId: Int,
      saved: Long => Option[Nsw.Graph] = _ => None): GraphCoarse = {
    val g = saved(graphKey(centroids, m, efConstruction, metricId)).getOrElse(
      Nsw.build(centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }, m, efConstruction, metricId))
    GraphCoarse(centroids, g, m, efConstruction, ef, metricId)
  }

  /** hash of the exact graph build inputs (raw centroid float bits + m +
    * efConstruction + metric): key equality ⇒ the persisted graph is
    * bit-identical to what a rebuild would produce, so a hand-edited
    * centroid table can never pair with a stale adjacency */
  private[index] def graphKey(
      centroids: Array[Array[Float]], m: Int, efc: Int, metricId: Int): Long = {
    var h = 1125899906842597L
    h = h * 31 + m; h = h * 31 + efc; h = h * 31 + metricId
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      var i = 0
      while (i < c.length) { h = h * 31 + java.lang.Float.floatToRawIntBits(c(i)); i += 1 }
      h = h * 31 + c.length
      ci += 1
    }
    h
  }

  /** the quantizer a save under `path` holds: with a centroid table
    * `dir`, the one `fromTable` makes of it (a graph coarse takes back
    * the save's adjacency through the key lookup it is handed, and
    * rebuilds it on a mismatch); without one, IMI's half books. None
    * when the save holds neither. */
  private[index] def load(spark: SparkSession, path: String, dir: Option[String])(
      fromTable: (Array[Array[Float]], Long => Option[Nsw.Graph]) => Coarse): Option[Coarse] =
    dir match {
      case Some(d) => Option.when(IndexCatalog.pathExists(spark, s"$path/$d"))(
        fromTable(readCentroids(spark, s"$path/$d"), savedGraph(spark, path)))
      case None => CodecSpec.restoreBooks(spark, path).map(ImiCoarse(_))
    }

  /** the graph a save under `path` persisted, if its key is `key` */
  private def savedGraph(spark: SparkSession, path: String)(key: Long): Option[Nsw.Graph] =
    Option.when(IndexCatalog.pathExists(spark, s"$path/coarse_graph_meta"))(
      spark.read.parquet(s"$path/coarse_graph_meta").collect()(0))
      .filter(_.getLong(0) == key)
      .map { gm =>
        val rows = spark.read.parquet(s"$path/coarse_graph").collect().sortBy(_.getInt(0))
        Nsw.Graph(
          labels = rows.map(_.getLong(1)),
          vecs = rows.map(_.getSeq[Float](2).toArray),
          levels = rows.map(_.getInt(3)),
          adj = rows.map(_.getSeq[scala.collection.Seq[Int]](4).map(_.toArray).toArray),
          entry = gm.getInt(1),
          maxLevel = gm.getInt(2),
          dups = rows.map(_.getSeq[Long](5).toArray))
      }

  /** a centroid table (centroid_id, centroid) */
  private[index] def writeCentroids(
      spark: SparkSession, cents: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(path).collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)
}

/** assignment expression: array<float> vector -> its `n` nearest list
  * ids under `coarse`. The quantizer rides along with the serialized
  * plan to every executor (codegen references it via addReferenceObj). */
case class CoarseAssign(child: Expression, coarse: Coarse, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "coarse_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"coarse_assign needs array<float>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    coarse.nearest(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("coarse", coarse, classOf[Coarse].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $c.nearest($v, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
