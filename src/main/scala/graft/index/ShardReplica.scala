package graft.index

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.search.Knn

/**
 * A driver replica of a small built index's shard inputs, so that its
 * searches answer in-process as the reference's `faiss_search` does
 * (Krypton's shape: point requests served from a replica beside the
 * analytical store). `shards` holds HNSW's per-shard graphs or the Flat
 * kernel's rows, in partition order; [[Knn.shardTopK]] runs a search's
 * per-shard candidate function over them with no Spark job. `twin`
 * holds the indexed (label, vec) rows, each tagged with its shard, for
 * filtered searches ([[restricted]]); it is made on the first of them.
 */
private[graft] final class ShardReplica[S](val shards: Array[Array[S]], twin: => LocalRelation) {
  private lazy val twinRelation = twin

  /** The twin rows (label, vec, shard) of each shard that pass
    * `restrict`, with no job: `restrict` over the twin, when the
    * optimizer folds it into one local relation (Spark's
    * ConvertToLocalRelation does for deterministic filters and
    * projections). None for a restriction that does not fold (a
    * semi-join) or that holds a nondeterministic expression, whose value
    * on the driver need not be the one an executor computes. */
  def restricted(spark: SparkSession, restrict: DataFrame => DataFrame): Option[Array[Array[InternalRow]]] = {
    val df = restrict(GraftBridge.ofRows(spark, twinRelation)).select(col("label"), col("vec"), col(ShardReplica.ShardCol))
    if (df.queryExecution.analyzed.exists(_.expressions.exists(!_.deterministic))) None
    else df.queryExecution.optimizedPlan match {
      case r: LocalRelation =>
        val out = Array.fill(shards.length)(Array.newBuilder[InternalRow])
        r.data.foreach(row => out(row.getInt(2)) += row)
        Some(out.map(_.result()))
      case _ => None
    }
  }
}

private[graft] object ShardReplica {

  /** the twin's shard column */
  val ShardCol = "__graft_shard"

  private val TwinSchema = StructType(Seq(
    StructField("label", LongType), StructField("vec", ArrayType(FloatType)),
    StructField(ShardCol, IntegerType, nullable = false)))

  /** a twin row's heap bytes beyond its UnsafeRow bytes: the row object,
    * its byte array's header and the relation's reference to it */
  private val RowOverhead = 64L

  /** (label, vec, shard) twin rows of the Flat kernel's shard inputs */
  private def twinRows(shards: RDD[InternalRow]): RDD[UnsafeRow] =
    shards.mapPartitionsWithIndex { (shard, rows) =>
      val proj = UnsafeProjection.create(TwinSchema)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      row.update(2, shard)
      rows.map { r =>
        row.update(0, if (r.isNullAt(0)) null else r.getLong(0))
        row.update(1, if (r.isNullAt(1)) null else r.getArray(1))
        proj(row)
      }
    }

  /** the estimated driver bytes of a replica of `data`'s Flat kernel
    * shards ([[Knn.flatShards]]): one sizing pass (its first, on a
    * cached layout, fills the cache) */
  def flatBytes(data: DataFrame): Long =
    twinRows(Knn.flatShards(data)).map(_.getSizeInBytes + RowOverhead).fold(0L)(_ + _)

  /** the replica of `data`'s Flat kernel shards: each shard's twin rows,
    * collected in one job, serve as its kernel rows */
  def ofFlat(data: DataFrame): ShardReplica[InternalRow] = {
    val shards = twinRows(Knn.flatShards(data))
    val rows: Array[Array[InternalRow]] = data.sparkSession.sparkContext.runJob(
      shards, (it: Iterator[UnsafeRow]) => it.map(_.copy(): InternalRow).toArray)
    new ShardReplica(rows, LocalRelation(DataTypeUtils.toAttributes(TwinSchema), rows.flatten.toSeq))
  }

  /** the estimated driver bytes of `g` (its arrays, with compressed
    * references) and of its twin rows, one per label (a node carries
    * every label of its byte-identical vectors) */
  def graphBytes(g: Nsw.Graph): Long =
    if (g.labels.isEmpty) 0L
    else {
      def array(length: Int, elemBytes: Int): Long = 16L + (length.toLong * elemBytes + 7) / 8 * 8
      val proj = UnsafeProjection.create(TwinSchema)
      val rowBytes = proj(InternalRow(0L, UnsafeArrayData.fromPrimitiveArray(g.vecs(0)), 0)).getSizeInBytes
      val n = g.labels.length
      var bytes = array(n, 8) + array(n, 4) + 3 * array(n, 4) // labels, levels, the vecs/adj/dups spines
      var node = 0
      while (node < n) {
        bytes += array(g.vecs(node).length, 4) + array(g.adj(node).length, 4) + array(g.dups(node).length, 8) +
          g.dups(node).length * (rowBytes + RowOverhead)
        g.adj(node).foreach(layer => bytes += array(layer.length, 4))
        node += 1
      }
      bytes
    }

  /** the replica of `graphs`, one graph per shard, in partition order */
  def ofGraphs(graphs: RDD[Nsw.Graph]): ShardReplica[Nsw.Graph] = {
    val gs = graphs.collect()
    new ShardReplica(gs.map(Array(_)), {
      val proj = UnsafeProjection.create(TwinSchema)
      val rows = for {
        (g, shard) <- gs.iterator.zipWithIndex
        node <- g.labels.indices.iterator
        v = UnsafeArrayData.fromPrimitiveArray(g.vecs(node))
        label <- g.dups(node).iterator
      } yield proj(InternalRow(label, v, shard)).copy(): InternalRow
      LocalRelation(DataTypeUtils.toAttributes(TwinSchema), rows.toSeq)
    })
  }

  // ---- the catalog-wide budget ----

  private var admitted = 0L // guarded by this object

  /** the replica budget: 1/8 of the driver's max heap, capped by
    * `spark.driver.maxResultSize` (0: no cap), since a replica arrives
    * as one job's results */
  def budget(sc: SparkContext): Long = {
    val heap = Runtime.getRuntime.maxMemory / 8
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(heap, maxResult) else heap
  }

  /** the admission rule: a replica of `estimated` bytes is held when
    * it fits in the budget's `free` bytes */
  def admits(estimated: Long, free: Long): Boolean = estimated <= free

  /** bytes of the replicas held now */
  def admittedBytes: Long = synchronized(admitted)

  private def admit(bytes: Long, sc: SparkContext): Boolean = synchronized {
    val ok = admits(bytes, budget(sc) - admitted)
    if (ok) admitted += bytes
    ok
  }

  private def release(bytes: Long): Unit = synchronized { admitted -= bytes }

  /** A built index's replica, taken once, on its first search: `estimate`
    * sizes it and `take` collects it when the budget [[admits]] it; an
    * index the budget refuses keeps serving through Spark jobs. `close`
    * drops the replica and returns its bytes to the budget. */
  final class Slot[S](sc: SparkContext, estimate: => Long, take: => ShardReplica[S]) {
    private var tried = false
    private var bytes = 0L
    private var held: Option[ShardReplica[S]] = None

    def get: Option[ShardReplica[S]] = synchronized {
      if (!tried) {
        tried = true
        val est = estimate
        if (admit(est, sc)) {
          bytes = est
          held = Some(try take catch { case t: Throwable => close(); throw t })
        }
      }
      held
    }

    def close(): Unit = synchronized {
      tried = true
      held = None
      release(bytes)
      bytes = 0L
    }
  }
}
