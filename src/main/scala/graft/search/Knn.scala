package graft.search

import org.apache.spark.rdd.RDD
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
 * Every index search over a batch already on the driver ends in the
 * shard top-k route ([[shardTopK]]): a per-shard candidate function runs
 * over every shard, in one job or, for an index that holds a driver
 * replica of its shards ([[graft.index.ShardReplica]]: small HNSW and
 * Flat indexes), in-process with no job; the driver merges the shards'
 * top-k, with no shuffle.
 * The candidate functions live here: the Flat kernel
 * ([[flatCandidates]], for `knnJoin` and every catalog Flat path), the
 * probed-list kernel of IVF and coded indexes ([[probedCandidates]],
 * FAISS `search_preassigned`), and HNSW's graph walk (in the catalog).
 * [[searchFlat]] over a query DataFrame (and [[knnJoinGrouped]]) plans
 * the row join instead:
 *   scan -> BroadcastNestedLoopJoin against the query set
 *     -> fused codegen distance -> partial top-k heap per partition
 *     -> (shuffle: parts x Q x k rows) -> final top-k merge per qid
 * Each data row is touched exactly once on either shape.
 */
object Knn {

  /** Corpus-size threshold (bytes, from optimizer plan stats) above
    * which [[searchFlat]] over a query DataFrame delegates to the shard
    * top-k kernel ([[searchFlatFast]]) instead of the row-per-(row,
    * query) broadcast join. Results are bit-identical (spec-pinned);
    * this is purely a plan-cost switch — but note the kernel collects
    * the query batch (loud maxQueryBatch cap). 0 disables; set to 1 to
    * force (specs). Default 1 GiB: below
    * that the row join's overhead is bounded and declarative planning
    * (pushdown, AQE) is worth keeping. A batch already on the driver
    * always takes the kernel. Like every Knn conf, a non-integer or
    * negative value throws naming the key. */
  private[graft] val FastFlatThresholdConf = "spark.graft.knn.fastFlatThresholdBytes"

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
      padToK: Boolean = false): DataFrame = {
    val packThresh = graft.index.IndexCatalog.confLong(data.sparkSession, FastFlatThresholdConf, 1L << 30)
    if (packThresh > 0 && knownSize(data).exists(_ >= packThresh)) {
      // big-corpus path. Measured at the 1000x rung (1e10 pairs,
      // knn_flat_big): the row join pays ~0.46 us/output-row of join
      // plumbing plus as much again in the per-pair aggregate (412 s);
      // a chunk-packed ListTopKScan re-serialized the corpus (215 s for
      // the pack alone) and was rejected. The kernel touches each row
      // once; same kernels and heap order -> bit-identical (spec'd).
      searchFlatFast(data, collectBatch(queries), k, metric, excludeSelf = excludeSelf, padToK = padToK)
    } else {
      // null query rows carry no meaningful identity or vector; every
      // path drops them (keeps the kernel and declarative outputs identical)
      val cleanQueries = queries.where(col("qid").isNotNull && col("qvec").isNotNull)
      val d = vec.dist(metric, col("vec"), col("qvec"))
      val joined = widen(data).crossJoin(broadcast(cleanQueries))
      val filtered = if (excludeSelf) joined.where(col("label") =!= col("qid")) else joined
      // distance materializes in a codegen'd projection (fused loop inside
      // WholeStageCodegen); the aggregate then only reads plain columns
      rankResults(
        filtered.select(col("qid"), col("label"), d.as("_dist")),
        k, VectorMath.smallerIsCloser(VectorMath.metricId(metric)), padToK)
    }
  }

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

  /** the corpus's plan-stats size; None for a plan with no stats (a
    * LogicalRDD reports the defaultSizeInBytes sentinel): UNKNOWN, not
    * huge, so tiny RDD-backed corpora keep the lazy row join */
  private def knownSize(data: DataFrame): Option[BigInt] = {
    val sizeEst = data.queryExecution.optimizedPlan.stats.sizeInBytes
    Some(sizeEst).filter(_ != BigInt(data.sparkSession.sessionState.conf.defaultSizeInBytes))
  }

  /** the Flat kernel's shard inputs: `data`'s widened partitions as
    * (label bigint, vec array<float>) rows */
  private[graft] def flatShards(data: DataFrame): RDD[InternalRow] =
    widen(data).select(col("label").cast("long").as("label"), vec.vector(col("vec")).as("vec"))
      .queryExecution.toRdd

  /** The Flat kernel as a [[shardTopK]] candidate function over
    * [[flatShards]]' rows (any row whose columns 0 and 1 are the label
    * and the vector): one pass fills a top-k heap per batch entry, with the
    * row join's distance kernels and (distance, label) order; entries
    * report as [[heapCandidates]] says. */
  private[graft] def flatCandidates(metric: String, k: Int, excludeSelf: Boolean)
      : (Iterator[InternalRow], Array[(Long, Array[Float])]) => Iterator[(Int, Double, Long)] = {
    val mid = VectorMath.metricId(metric)
    val asc = VectorMath.smallerIsCloser(mid)
    (rows, qs) => {
      val heaps = Array.fill(qs.length)(new TopKHeap(k, asc))
      val offered = new Array[Boolean](qs.length)
      rows.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val label = row.getLong(0)
          // UnsafeArrayData.toFloatArray is a single primitive copy
          val v: Array[Float] = row.getArray(1).toFloatArray()
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (!(excludeSelf && label == qid)) {
              heaps(qi).insert(VectorMath.distArr(mid, v, qv, 3.0), label)
              offered(qi) = true
            }
            qi += 1
          }
        }
      }
      heapCandidates(heaps, offered)
    }
  }

  /** each batch entry's heap as candidates, best first; an entry that
    * scored rows but kept none (NaN distances, which the heap drops)
    * yields one NaN candidate, as HNSW does, so that the merge pads it
    * like the row join does */
  private def heapCandidates(heaps: Array[TopKHeap], offered: Array[Boolean]): Iterator[(Int, Double, Long)] =
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      if (h.size == 0 && offered(qi)) Iterator.single((qi, Double.NaN, -1L))
      else h.sorted.iterator.map { case (d, l) => (qi, d, l) }
    }

  /** How the probed-list kernel reads one index kind's
    * (list_id int, label bigint, payload) rows: `payload` reads a row's
    * vector or code once, `state` the query state of batch entry `qi`
    * once per task, and `distance` compares the two. */
  private[graft] trait ListScore[P] extends Serializable {
    def payload(row: InternalRow): P
    def state(qi: Int, entry: (Long, Array[Float])): Array[Float]
    def distance(state: Array[Float], payload: P): Double
  }

  /** IVF's [[ListScore]]: the row's raw vector against the query, with
    * [[flatCandidates]]' distance kernels */
  private[graft] def vectorScore(metric: String): ListScore[Array[Float]] = {
    val mid = VectorMath.metricId(metric)
    new ListScore[Array[Float]] {
      def payload(row: InternalRow): Array[Float] = row.getArray(2).toFloatArray()
      def state(qi: Int, entry: (Long, Array[Float])): Array[Float] = entry._2
      def distance(q: Array[Float], v: Array[Float]): Double = VectorMath.distArr(mid, v, q, 3.0)
    }
  }

  /** batch entries by the lists their probe holds (`lists(entry)`) */
  private def entriesByList(lists: Array[Seq[Int]]): Map[Int, Array[Int]] =
    lists.indices.flatMap(qi => lists(qi).map(_ -> qi)).groupMap(_._1)(_._2).map { case (l, qis) => l -> qis.toArray }

  /** The probed-list kernel of IVF and coded indexes as a [[shardTopK]]
    * candidate function (FAISS `IndexIVF::search_preassigned`): each
    * (list_id, label, payload) row is scored only against the batch
    * entries whose probe (`lists(entry)`) holds its list, into one top-k
    * heap per entry, in `vec.topk`'s (distance, label) order. It keys on
    * each row's list, not on the partition, so any restriction of the
    * scan keeps it exact. Entries report as [[heapCandidates]] says. */
  private[graft] def probedCandidates[P](lists: Array[Seq[Int]], k: Int, ascending: Boolean, score: ListScore[P])
      : (Iterator[InternalRow], Array[(Long, Array[Float])]) => Iterator[(Int, Double, Long)] = {
    val byList = entriesByList(lists)
    (rows, qs) => {
      val states = Array.tabulate(qs.length)(qi => score.state(qi, qs(qi)))
      val heaps = Array.fill(qs.length)(new TopKHeap(k, ascending))
      val offered = new Array[Boolean](qs.length)
      rows.foreach { row =>
        val qis = byList.getOrElse(row.getInt(0), null)
        if (qis != null && !row.isNullAt(2)) {
          val label = row.getLong(1)
          val p = score.payload(row)
          var i = 0
          while (i < qis.length) {
            val qi = qis(i)
            heaps(qi).insert(score.distance(states(qi), p), label)
            offered(qi) = true
            i += 1
          }
        }
      }
      heapCandidates(heaps, offered)
    }
  }

  /** [[probedCandidates]]' scan without a heap: every (entry, distance,
    * label) pair whose distance `within` keeps (a range search) */
  private[graft] def probedHits[P](lists: Array[Seq[Int]], within: Double => Boolean, score: ListScore[P])
      : (Iterator[InternalRow], Array[(Long, Array[Float])]) => Iterator[(Int, Double, Long)] = {
    val byList = entriesByList(lists)
    (rows, qs) => {
      val states = Array.tabulate(qs.length)(qi => score.state(qi, qs(qi)))
      rows.flatMap { row =>
        val qis = byList.getOrElse(row.getInt(0), Array.emptyIntArray)
        if (qis.isEmpty || row.isNullAt(2)) Iterator.empty
        else {
          val label = row.getLong(1)
          val p = score.payload(row)
          qis.iterator.map(qi => (qi, score.distance(states(qi), p), label)).filter(h => within(h._2))
        }
      }
    }
  }

  /** The shard top-k route of HNSW's graph shards, the Flat kernel and
    * the probed lists of IVF and coded indexes:
    * `candidates` yields one shard's (batch entry, distance, label)
    * candidates. Up to `IndexCatalog.localMergeBound` candidates
    * (entries × k × shards) [[mergeTopK]] merges them on the driver:
    * over a `replica` of the shards (the same shards, in partition
    * order) `candidates` runs in-process on the [[replicaPool]], with no
    * job; otherwise one job returns them. Past the bound, the
    * distributed [[rankResults]] ranks `shards`' candidates when acted
    * on. Both key a top-k by qid. `shards` is planned only when a job
    * reads it. */
  private[graft] def shardTopK[S](
      spark: SparkSession, shards: => RDD[S], batch: Array[(Long, Array[Float])], k: Int,
      ascending: Boolean, padToK: Boolean, replica: Option[Array[Array[S]]] = None)(
      candidates: (Iterator[S], Array[(Long, Array[Float])]) => Iterator[(Int, Double, Long)]): DataFrame = {
    require(k > 0, "k must be positive")
    lazy val perShard = shards.mapPartitions(candidates(_, batch))
    val nShards = replica.fold(perShard.getNumPartitions)(_.length)
    if (batch.length.toLong * k * nShards > graft.index.IndexCatalog.localMergeBound(spark)) {
      import spark.implicits._
      val qids = batch.map(_._1)
      rankResults(perShard.map { case (qi, d, l) => (qids(qi), l, d) }.toDF("qid", "label", "_dist"),
        k, ascending, padToK)
    } else {
      val shardCands = replica match {
        case Some(local) =>
          val pool = replicaPool(spark)
          local.map { shard =>
            pool.submit(new java.util.concurrent.Callable[Array[(Int, Double, Long)]] {
              def call(): Array[(Int, Double, Long)] = candidates(shard.iterator, batch).toArray
            })
          }.map { f =>
            try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          }
        case None => spark.sparkContext.runJob(perShard, (it: Iterator[(Int, Double, Long)]) => it.toArray)
      }
      mergeTopK(spark, batch, k, ascending, padToK, shardCands.iterator.flatMap(_.iterator))
    }
  }

  @volatile private var pool: java.util.concurrent.ExecutorService = _

  /** the one pool that runs replica shards in-process: at most
    * `defaultParallelism` daemon threads, made on first use */
  private def replicaPool(spark: SparkSession): java.util.concurrent.ExecutorService = {
    if (pool == null) synchronized {
      if (pool == null) {
        val threads = new java.util.concurrent.atomic.AtomicInteger()
        pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, spark.sparkContext.defaultParallelism), { (r: Runnable) =>
            val t = new Thread(r, s"graft-replica-${threads.incrementAndGet()}")
            t.setDaemon(true)
            t
          })
      }
    }
    pool
  }

  /** [[rankResults]]' output schema: (qid, rank, label, distance), none nullable */
  private val resultSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false), StructField("rank", IntegerType, nullable = false),
    StructField("label", LongType, nullable = false), StructField("distance", DoubleType, nullable = false)))

  /** The driver merge: one [[TopKHeap]] per distinct qid, in `vec.topk`'s
    * order, as [[rankResults]]' rows and schema in a `LocalRelation`. As
    * there, a qid offered no candidate emits no row, and `padToK` fills
    * one that was (even if every candidate was NaN) to k with label -1
    * and the worst distance. */
  private def mergeTopK(
      spark: SparkSession, batch: Array[(Long, Array[Float])], k: Int, ascending: Boolean,
      padToK: Boolean, cands: Iterator[(Int, Double, Long)]): DataFrame = {
    val qids = batch.map(_._1).distinct
    val slotOf = { val slot = qids.zipWithIndex.toMap; batch.map(e => slot(e._1)) }
    val heaps = Array.fill(qids.length)(new TopKHeap(k, ascending))
    val offered = new Array[Boolean](qids.length)
    cands.foreach { case (qi, d, l) => heaps(slotOf(qi)).insert(d, l); offered(slotOf(qi)) = true }
    val padDist = if (ascending) Double.MaxValue else Double.MinValue
    val rows = Seq.newBuilder[InternalRow]
    qids.indices.foreach { s =>
      val sorted = heaps(s).sorted
      val n = if (padToK && offered(s)) k else sorted.length
      (0 until n).foreach { rank =>
        rows += (if (rank < sorted.length) InternalRow(qids(s), rank, sorted(rank)._2, sorted(rank)._1)
          else InternalRow(qids(s), rank, -1L, padDist))
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
   * Partition-local-heap exact search, the Flat case of [[shardTopK]]:
   * same math, heap and (dist, label) tie-breaks as [[searchFlat]]'s row
   * join (the knn_join oracle gates their equality), but the QxN pair
   * loop runs over primitive arrays ([[flatCandidates]]) instead of QxN
   * join rows through an aggregate (~10x less per-pair overhead). The
   * scan reads InternalRows, not `.rdd`, whose Row conversion boxes every
   * vector (minutes at 1e8 rows). `qArr` is a collected query batch
   * ([[collectBatch]] for a (qid, qvec) DataFrame).
   */
  def searchFlatFast(
      data: DataFrame,
      qArr: Array[(Long, Array[Float])],
      k: Int,
      metric: String,
      excludeSelf: Boolean = false,
      padToK: Boolean = false): DataFrame =
    flatTopK(data.sparkSession, flatShards(data), None, qArr, k, metric, excludeSelf, padToK)

  /** [[searchFlatFast]] over given shards: `replica`, when given, holds
    * `shards`' rows in partition order and is searched in-process */
  private[graft] def flatTopK(
      spark: SparkSession, shards: => RDD[InternalRow], replica: Option[Array[Array[InternalRow]]],
      qArr: Array[(Long, Array[Float])], k: Int, metric: String, excludeSelf: Boolean,
      padToK: Boolean): DataFrame =
    shardTopK(spark, shards, qArr, k, VectorMath.smallerIsCloser(VectorMath.metricId(metric)), padToK, replica)(
      flatCandidates(metric, k, excludeSelf))
}
