package graft.search

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{vec, TopKHeap, VectorMath}

/**
 * Distributed brute-force k-NN: the Spark-native twin of the
 * reference's `faiss_search` over a Flat index
 * (duckdb-faiss-ext README "faiss_search"; test/sql/faiss.test).
 *
 * Plan shape (the 100 TB story):
 *   parquet scan (pruned to id+vec, filters pushed down)
 *     -> BroadcastNestedLoopJoin against the (small) query set
 *     -> fused codegen distance expression
 *     -> partial top-k heap per partition   (shuffle: parts x Q x k rows)
 *     -> final top-k merge per query id
 * No driver-side collect; each data row is touched exactly once.
 */
object Knn {

  /** Corpus-size threshold (bytes, from optimizer plan stats) above
    * which [[searchFlat]] delegates to the partition-local-heap kernel
    * ([[searchFlatFast]]) instead of the row-per-(row, query)
    * broadcast join. Results are bit-identical (spec-pinned); this is
    * purely a plan-cost switch, like the packed coded scan — but note
    * the fast kernel collects the query batch (loud maxQueryBatch
    * cap). 0 disables; set to 1 to force (specs). Default 1 GiB: below
    * that the row join's overhead is bounded and declarative planning
    * (pushdown, AQE) is worth keeping. Like every Knn conf, a
    * non-integer or negative value throws naming the key. */
  private[graft] val FastFlatThresholdConf = "spark.graft.knn.fastFlatThresholdBytes"

  /** Corpus-size ceiling (bytes, from optimizer plan stats) BELOW which
    * [[searchFlat]] serves the whole batch DRIVER-LOCALLY: the corpus is
    * materialized once per DataFrame instance (same contract as
    * `.cache()` — a new DataFrame re-collects) and every subsequent
    * batch is answered with the same TopKHeap + distArr kernels in
    * driver memory, skipping Spark's ~0.2 s per-job plan/schedule/
    * collect cost entirely. This is the serving shape the reference
    * gets for free from an in-process FAISS index — at N = 2k the
    * distributed scan pays 100x its compute in fixed job overhead.
    * Results are bit-identical to the distributed plans (same kernels,
    * same deterministic (distance, label) heap order; parity-spec'd).
    * Default 0 = OFF: the distributed plan is the 100 TB default and
    * the gates exercise it; serving deployments with small/replica
    * indexes opt in. Row cap `localServeMaxRows` (default 1M) bounds
    * driver memory LOUDLY — above it the distributed plan runs. */
  private[graft] val LocalServeThresholdConf = "spark.graft.knn.localServeThresholdBytes"
  private[graft] val LocalServeMaxRowsConf = "spark.graft.knn.localServeMaxRows"

  // driver-resident corpora keyed by the DataFrame's QueryExecution —
  // which does NOT override equals, so WeakHashMap's equals/hashCode
  // lookup degenerates to reference identity (a structurally-equal but
  // distinct DataFrame re-collects; no deep plan hashing per lookup)
  // and the entry lives exactly as long as the serving DataFrame does
  private val localCorpora = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, (Array[Long], Array[Array[Float]])]())

  /** widen CPU-bound narrow scans to the session parallelism (no-op on
    * real multi-split inputs) — shared by the search paths and the
    * index builds so their partitioning behavior can't drift.
    * Plans that GUARANTEE a hash/range exchange (aggregate, dedup,
    * window, global sort, explicit repartition) are left alone WITHOUT
    * probing `.rdd`: under AQE that probe materializes upstream query
    * stages just to read a partition count — running them once for the
    * probe and again for the real job — and those operators' output is
    * at `shuffle.partitions` parallelism already. Joins do NOT short-
    * circuit (a broadcast join preserves the narrow probe side's
    * partitioning), so join-shaped inputs still take the `.rdd` probe;
    * for a broadcast plan that only materializes the small build side. */
  private[graft] def widen(data: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val spark = data.sparkSession
    val hasExchangeOp = data.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Deduplicate | _: Window => true
      case s: Sort => s.global
      case _: RepartitionOperation => true
      case _ => false
    }
    if (!hasExchangeOp &&
        data.rdd.getNumPartitions < spark.sparkContext.defaultParallelism / 2)
      data.repartition(spark.sparkContext.defaultParallelism)
    else data
  }

  /**
   * @param data    (label bigint, vec array<float>) — the indexed vectors
   * @param queries (qid bigint, qvec array<float>) — the query batch (broadcast)
   * @param k       neighbors per query
   * @param metric  one of VectorMath's metric names (l2, ip, cosine, ...)
   * @return (qid, rank int, label bigint, distance double) — best first
   */
  def searchFlat(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String,
      excludeSelf: Boolean = false,
      padToK: Boolean = false): DataFrame =
    // null query rows carry no meaningful identity or vector; every
    // path drops them (keeps fast/local/declarative outputs identical)
    flatPlan(data, queries.where(col("qid").isNotNull && col("qvec").isNotNull),
      collectBatch(queries), k, metric, excludeSelf, padToK)

  /** [[searchFlat]] over an already-collected query batch: the catalog's
    * Flat paths, whose declarative plan reads the batch's local view */
  private[graft] def searchFlatBatch(
      data: DataFrame, batch: Array[(Long, Array[Float])], k: Int, metric: String,
      padToK: Boolean): DataFrame =
    flatPlan(data, queryFrame(data.sparkSession, batch), batch, k, metric,
      excludeSelf = false, padToK)

  /** a (qid, qvec) DataFrame's batch, under the serving paths' one
    * bounded collect — for the kernels that read the batch on the driver */
  private[graft] def collectBatch(queries: DataFrame): Array[(Long, Array[Float])] =
    graft.index.IndexCatalog.queryBatch(
      queries.select(col("qid"), col("qvec")), "knn query batch")

  /** the local (LocalRelation) (qid, qvec) view of a collected batch, for
    * the plans that join the batch instead of reading its arrays */
  private[graft] def queryFrame(
      spark: org.apache.spark.sql.SparkSession, batch: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    batch.toSeq.toDF("qid", "qvec")
  }

  /** the flat plan router: driver-local serve, the partition-heap kernel
    * or the declarative broadcast join, by the corpus's plan stats. The
    * batch is read only by the first two (at most once). */
  private def flatPlan(
      data: DataFrame, cleanQueries: DataFrame, batch: => Array[(Long, Array[Float])],
      k: Int, metric: String, excludeSelf: Boolean, padToK: Boolean): DataFrame = {
    val asc = VectorMath.smallerIsCloser(VectorMath.metricId(metric))
    val spark = data.sparkSession
    val packThresh = graft.index.IndexCatalog.confLong(spark, FastFlatThresholdConf, 1L << 30)
    val localThresh = graft.index.IndexCatalog.confLong(spark, LocalServeThresholdConf, 0L)
    val sizeEst = data.queryExecution.optimizedPlan.stats.sizeInBytes
    // plans with no stats (e.g. LogicalRDD from createDataFrame(rdd))
    // report spark.sql.defaultSizeInBytes = Long.MaxValue — treat that
    // as UNKNOWN, not huge, or tiny RDD-backed corpora would route to
    // the eager fast path and its maxQueryBatch driver-collect cap
    val sizeKnown = sizeEst != BigInt(spark.sessionState.conf.defaultSizeInBytes)
    lazy val qArr = batch
    val localServed =
      if (localThresh > 0 && sizeKnown && sizeEst <= localThresh)
        searchFlatLocal(data, qArr, k, metric, excludeSelf, padToK)
      else None
    localServed.getOrElse {
      if (packThresh > 0 && sizeKnown && sizeEst >= packThresh) {
        // big-corpus path: delegate to the partition-local-heap kernel.
        // Measured at the 1000x rung (1e10 pairs, knn_flat_big): the
        // row-per-pair broadcast join pays ~0.46 us/output-row of join
        // plumbing (145 s) plus as much again in the per-pair aggregate
        // (412 s total); a chunk-packed ListTopKScan variant was tried
        // and REJECTED by measurement — materializing array<struct>
        // chunk rows re-serializes the whole corpus through UnsafeRow
        // writers at the RDD-scan boundary (215 s for the pack pass
        // alone; a Dataset-encoder pack was 368 s). The per-partition
        // heap kernel touches each corpus row once with zero
        // materialization beyond partitions x Q x k heap entries.
        // Same distance kernels, same TopKHeap order -> bit-identical
        // (parity spec + the long-standing fast==declarative spec).
        searchFlatFast(data, qArr, k, metric, excludeSelf = excludeSelf, padToK = padToK)
      } else {
        val d = vec.dist(metric, col("vec"), col("qvec"))
        val joined = widen(data).crossJoin(broadcast(cleanQueries))
        val filtered = if (excludeSelf) joined.where(col("label") =!= col("qid")) else joined
        // distance materializes in a codegen'd projection (fused loop inside
        // WholeStageCodegen); the aggregate then only reads plain columns
        rankResults(
          filtered.select(col("qid"), col("label"), d.as("_dist")),
          k, asc, padToK)
      }
    }
  }

  /**
   * Driver-local flat serve (see [[LocalServeThresholdConf]]): answer
   * the query batch from a one-time driver copy of a SMALL corpus with
   * the exact kernels and heap order of the distributed plans. Returns
   * None (caller falls through to the distributed plan, loudly) when
   * the corpus exceeds the row cap — the stats estimate that routed us
   * here was wrong, and driver memory is a hard boundary.
   */
  private def searchFlatLocal(
      data: DataFrame, qArr: Array[(Long, Array[Float])], k: Int, metric: String,
      excludeSelf: Boolean, padToK: Boolean): Option[DataFrame] = {
    val spark = data.sparkSession
    val mid = VectorMath.metricId(metric)
    val asc = VectorMath.smallerIsCloser(mid)
    val key = data.queryExecution
    var corpus = localCorpora.get(key)
    if (corpus == null) {
      val maxRows = graft.index.IndexCatalog.confLong(spark, LocalServeMaxRowsConf, 1L << 20)
      // clamp so the +1 below can't overflow to a negative limit
      val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
      val rows = data
        .where(col("label").isNotNull && col("vec").isNotNull) // fast path skips null rows
        .select(col("label").cast("long"), vec.vector(col("vec")))
        .limit(cap + 1)
        .collect()
      if (rows.length > cap) {
        System.err.println(
          s"[graft] local-serve corpus exceeds $LocalServeMaxRowsConf=$cap rows; " +
            "falling back to the distributed plan")
        return None
      }
      corpus = (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
      localCorpora.put(key, corpus)
    }
    val (labels, vecs) = corpus
    // one heap per distinct qid, as rankResults groups by qid: a qid
    // repeated with another vector gets one merged top-k
    val qids = qArr.map(_._1).distinct
    val slotOf = { val slot = qids.zipWithIndex.toMap; qArr.map(e => slot(e._1)) }
    val heaps = Array.fill(qids.length)(new TopKHeap(k, asc))
    val offered = new Array[Boolean](qids.length)
    qArr.indices.foreach { qi =>
      val (qid, qv) = qArr(qi)
      val slot = slotOf(qi)
      var i = 0
      while (i < labels.length) {
        if (!(excludeSelf && labels(i) == qid)) {
          heaps(slot).insert(VectorMath.distArr(mid, vecs(i), qv, 3.0), labels(i))
          offered(slot) = true
        }
        i += 1
      }
    }
    Some(localResults(spark, qids, heaps, offered, padToK))
  }

  /** [[rankResults]]' output schema: (qid, rank, label, distance), none nullable */
  private val resultSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false), StructField("rank", IntegerType, nullable = false),
    StructField("label", LongType, nullable = false), StructField("distance", DoubleType, nullable = false)))

  /**
   * The result frame of top-k heaps filled in driver memory (driver-local
   * Flat serve, HNSW's shard merge): [[rankResults]]' rows and schema
   * as a `LocalRelation`, so nothing is planned or run for it. As
   * there, a query that was `offered` no candidate row emits no row,
   * and `padToK` fills the list of one that was (even when the heap
   * dropped them all, at NaN distances) to k with label -1 and the
   * worst distance.
   */
  private[graft] def localResults(
      spark: SparkSession, qids: Array[Long], heaps: Array[TopKHeap], offered: Array[Boolean],
      padToK: Boolean): DataFrame = {
    val rows = Seq.newBuilder[InternalRow]
    qids.indices.foreach { qi =>
      val h = heaps(qi)
      val sorted = h.sorted
      val padDist = if (h.ascending) Double.MaxValue else Double.MinValue
      val n = if (padToK && offered(qi)) h.k else sorted.length
      (0 until n).foreach { rank =>
        rows += (if (rank < sorted.length) InternalRow(qids(qi), rank, sorted(rank)._2, sorted(rank)._1)
          else InternalRow(qids(qi), rank, -1L, padDist))
      }
    }
    GraftBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(resultSchema), rows.result()))
  }

  /**
   * Shared result shaping for every index kind: candidate rows
   * ([groupCols,] qid, label, _dist) -> ([groupCols,] qid, rank, label,
   * distance) via the partial top-k aggregate. Extra group columns
   * (multi-tenant joins) simply widen the aggregation key.
   */
  def rankResults(cands: DataFrame, k: Int, ascending: Boolean, padToK: Boolean = false,
      groupCols: Seq[String] = Nil): DataFrame = {
    val keys = groupCols :+ "qid"
    cands
      .groupBy(keys.map(col): _*)
      .agg(vec.topk(k, col("_dist"), col("label"), ascending, padToK).as("nn"))
      .select(keys.map(col) :+ posexplode(col("nn")).as(Seq("pos", "nn")): _*)
      .select(keys.map(col) ++ Seq(
        col("nn.rank").as("rank"),
        col("nn.label").as("label"),
        col("nn.distance").as("distance")): _*)
  }

  /**
   * Matryoshka (prefix-dimension) two-stage search: coarse
   * top-(k*factor) per query on the FIRST `prefixDim` dimensions, then
   * exact re-rank of the survivors on full vectors. MRL-trained
   * embeddings (Kusupati et al. 2022) order information by dimension,
   * so a prefix is a faithful coarse metric; the same structure is what
   * the reference's PCA pretransform exploits after rotation
   * (/root/reference/src/faiss_extension.cpp factory "PCA64,...").
   *
   * The 100 TB shape: the prefix column is materialized once
   * (prefixDim/d of the vector bytes — e.g. 16/64 = 25%) and is the
   * ONLY corpus-wide scan; full vectors are fetched for k*factor rows
   * per query only, exactly like the sign-bit re-rank path but with a
   * tunable accuracy/bytes knob instead of a fixed 1-bit one. Both
   * stages are deterministic (ties by label), so unlike IVF/LSH the
   * composition has an exact cross-engine oracle.
   */
  def searchMatryoshka(data: DataFrame, queries: DataFrame, k: Int,
      prefixDim: Int, factor: Int, metric: String = "l2sq"): DataFrame = {
    // prefixDim <= 0 would make every coarse distance 0 — an arbitrary
    // label-ordered cut that silently returns garbage
    require(prefixDim > 0, s"prefixDim must be positive, got $prefixDim")
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val asc = VectorMath.smallerIsCloser(VectorMath.metricId(metric))
    val d = widen(data)
    val q = queries.where(col("qid").isNotNull && col("qvec").isNotNull)
    val coarse = rankResults(
        d.select(col("label"), slice(col("vec"), 1, prefixDim).as("pvec"))
          .crossJoin(broadcast(
            q.select(col("qid"), slice(col("qvec"), 1, prefixDim).as("qpvec"))))
          .select(col("qid"), col("label"),
            vec.dist(metric, col("pvec"), col("qpvec")).as("_dist")),
        k * factor, ascending = asc)
      .select(col("qid"), col("label"))
    rankResults(
        d.select(col("label"), col("vec"))
          .join(broadcast(coarse), "label")
          .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
          .select(col("qid"), col("label"),
            vec.dist(metric, col("vec"), col("qvec")).as("_dist")),
        k, ascending = asc)
  }

  /**
   * Full k-NN join: every row of `left` gets its top-k neighbors from
   * `right` (self-pairs excluded when ids collide). For bounded `left`
   * batches this broadcasts; for the NxN case at scale, route through
   * an IVF/LSH index instead (IndexCatalog) — exact all-pairs at 100 TB
   * is the wrong plan by construction.
   */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int, metric: String,
      excludeSelf: Boolean = true): DataFrame =
    searchFlatFast(right, collectBatch(left), k, metric, excludeSelf = excludeSelf)

  /**
   * Grouped (multi-tenant) exact k-NN join: every left row gets its
   * top-k neighbors from the right rows of the SAME group — per-language
   * near-dup screens, per-source retrieval, per-tenant serving. The
   * group key turns the broadcast cross join into an EQUI-join, so at
   * scale both sides hash-shuffle once on the key and co-partitioned
   * groups never see each other's vectors; the bounded-heap aggregate
   * then shuffles only `partitions x queries x k` rows, exactly like
   * the ungrouped path.
   *
   * @param left  (group, qid, qvec)
   * @param right (group, label, vec)
   * @return (group, qid, rank, label, distance) — best first per (group, qid)
   */
  def knnJoinGrouped(
      left: DataFrame, right: DataFrame, k: Int, metric: String,
      groupCol: String = "grp", excludeSelf: Boolean = false): DataFrame = {
    val mid = VectorMath.metricId(metric)
    val asc = VectorMath.smallerIsCloser(mid)
    val d = vec.dist(metric, col("vec"), col("qvec"))
    val cleanQ = left.where(col("qid").isNotNull && col("qvec").isNotNull)
    val joined = widen(right).join(cleanQ, groupCol)
    val filtered = if (excludeSelf) joined.where(col("label") =!= col("qid")) else joined
    rankResults(
      filtered.select(col(groupCol), col("qid"), col("label"), d.as("_dist")),
      k, asc, groupCols = Seq(groupCol))
  }

  /**
   * Partition-local-heap exact search: same math, same heap, same
   * (dist, label) tie-breaks as [[searchFlat]] — the knn_join oracle
   * gates their equality — but the QxN pair loop runs over primitive
   * arrays inside mapPartitions instead of materializing QxN join rows
   * through an aggregate (~10x less per-pair overhead). Shuffle volume
   * is identical: partitions x Q x k heap entries into the final merge.
   * `qArr` is a collected query batch ([[collectBatch]] for a (qid,
   * qvec) DataFrame); it is broadcast to every partition.
   */
  def searchFlatFast(
      data: DataFrame,
      qArr: Array[(Long, Array[Float])],
      k: Int,
      metric: String,
      excludeSelf: Boolean = false,
      padToK: Boolean = false): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val mid = VectorMath.metricId(metric)
    val asc = VectorMath.smallerIsCloser(mid)
    val qB = spark.sparkContext.broadcast(qArr)
    // InternalRow scan, not .rdd: the external-Row conversion decodes
    // every vector into boxed Seq[Float] ONCE PER CORPUS ROW — at the
    // 1000x rung (1e8 rows) that decode tax is minutes;
    // UnsafeArrayData.toFloatArray is a single primitive copy.
    val scan = widen(data)
      .select(col("label").cast("long").as("label"), vec.vector(col("vec")).as("vec"))
    val perPartitionRdd = scan.queryExecution.toRdd.mapPartitions { it =>
      val qs = qB.value
      val heaps = Array.fill(qs.length)(new TopKHeap(k, asc))
      it.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val label = row.getLong(0)
          val v: Array[Float] = row.getArray(1).toFloatArray()
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (!(excludeSelf && label == qid)) {
              heaps(qi).insert(VectorMath.distArr(mid, v, qv, 3.0), label)
            }
            qi += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = qs(qi)._1
        h.sorted.iterator.map { case (d, l) => (qid, l, d) }
      }
    }
    val perPartition = spark.createDataFrame(perPartitionRdd).toDF("qid", "label", "_dist")
    rankResults(perPartition, k, asc, padToK)
  }
}
