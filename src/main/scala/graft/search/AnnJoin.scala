package graft.search

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.{vec, VectorMath}
import graft.index.{Coarse, FlatCoarse, IndexCatalog, KMeansTrainer, NearestCentroids}

/**
 * Distributed approximate k-NN JOIN: every left row finds its top-k
 * right rows WITHOUT collecting either side to the driver — the 100 TB
 * complement to IndexCatalog.search (which, like a FAISS query batch,
 * collects a bounded query set).
 *
 * Plan: train a coarse quantizer on a bounded right-side sample; both
 * sides shuffle ONCE on their assigned list ids (right rows to 1 list,
 * left rows to their nprobe nearest lists); the equi-join on list_id
 * co-partitions candidates, a fused codegen distance scores them, and
 * the map-side top-k heap bounds the final shuffle to
 * partitions x |left| x k rows. Hot lists are AQE skew-join territory;
 * recall follows the usual IVF nprobe/nlist tradeoff.
 */
object AnnJoin {

  // (the trained quantizer used to leak through a process-global
  // `lastTrainedCentroids` var; interleaved joins could attach the wrong
  // quantizer to an injected oracle — it is now returned per-call via
  // the `onTrained` callback parameter instead)

  /** auto-nlist target list size: lists stay near this many rows so
    * per-query candidate work is constant in corpus size. 1024 (not
    * 2048) so nlist crosses [[GraphCoarseThreshold]] by the 100x rung
    * (2M rows -> ~2k lists): with graph assignment BOTH per-row terms
    * — the nprobe x listRows candidate scan and the ~ef x m coarse
    * walk — are then constant in N, which is what makes the join
    * linear at 100 TB; flat assignment at the same nlist would grow
    * as N x nlist x d and dominate (measured: 218 s of the rung's
    * knn_join_ann before this) */
  private val AutoListRows = 1024L
  /** centroid count beyond which assignment/probing walk an HNSW graph
    * over the centroids instead of a flat argmin. MEASURED at the 100x
    * rung (2M-vector self-join, nlist 1954): the graph walk made the
    * join 2.3x SLOWER than flat (511 s vs ~220 s) — the per-row beam
    * search pays priority-queue/visited-set churn that the tight
    * primitive argmin loop doesn't, and a ~2k x 64d centroid table
    * (500 KB) still sits in L2. Flat loses only when the table blows
    * the cache (>= ~10^4 centroids: 8192 x 64d = 2 MB/row of streamed
    * reads), which is where FAISS reaches for IVF_HNSW too. */
  private val GraphCoarseThreshold = 8192

  /** estimated-candidate-pairs threshold past which the join (a) pins
    * its shuffle parallelism on the join keys (AQE sizes reduce
    * partitions by map-output BYTES and is blind to join fan-out) and
    * (b) switches to the packed [[ListTopKScan]] kernel (probe-count
    * join cardinality instead of pair-count). Conf-overridable so
    * specs can force the large-fan-out path on small data and assert
    * it is bit-equal to the planner-chosen path. A non-negative integer
    * (default 32,000,000); any other value throws naming the key. */
  private[graft] val PinPairsThresholdConf = "spark.graft.annjoin.pinPairsThreshold"

  /**
   * @param maxListRows skew guard: any IVF list ESTIMATED to hold more
   *   right rows than this is split into salted sublists — right rows
   *   land in a deterministic hash(label) sublist, left probes of that
   *   list replicate to every sublist, and the join key becomes
   *   (list_id, salt). Output is IDENTICAL to the unsalted join (same
   *   candidate pairs, different partitioning), but the hottest
   *   partition is bounded, which AQE alone cannot guarantee for a
   *   degenerate list (all vectors in one cluster). List sizes are
   *   estimated driver-side from the same single PARTITION-SPREAD
   *   stats job that feeds training (each partition's sample weighted
   *   by its exact row count), with a 2x margin. <= 0 (the default)
   *   auto-sizes to 4x[[AutoListRows]]: the quantity that matters is
   *   PAIRS per list (probes x rows, quadratic in list size), so the
   *   guard must bind at a small multiple of the target list size —
   *   a lax byte/row cap leaves a few mega-lists owning most of the
   *   candidate work, and the whole join waits on 2-3 straggler tasks
   *   (measured: the 100x rung's knn_join_ann ran ~900 s with 29 of
   *   32 tasks idle). Long.MaxValue disables the guard.
   * @param nlist number of IVF lists; <= 0 picks it AUTOMATICALLY from
   *   the measured corpus size (~[[AutoListRows]] rows per list,
   *   clamped to [16, 65536]) so the join stays linear as the corpus
   *   grows — pass an explicit value only to pin recall geometry (and
   *   always for exhaustive-probe exactness, where nprobe must equal
   *   it). Past [[GraphCoarseThreshold]] centroids, assignment and
   *   probing walk an HNSW graph over the centroid table.
   */
  def ivfJoin(
      left: DataFrame, // (qid bigint, qvec array<float>)
      right: DataFrame, // (label bigint, vec array<float>)
      k: Int,
      nlist: Int,
      nprobe: Int,
      metric: String = "l2sq",
      seed: Long = 42L,
      trainSample: Int = 16384,
      excludeSelf: Boolean = false,
      maxListRows: Long = 0L,
      onTrained: Array[Array[Float]] => Unit = null): DataFrame = {
    val metricId = VectorMath.metricId(metric)
    val asc = VectorMath.smallerIsCloser(metricId)
    val s =
      listedSides(left, right, nlist, nprobe, metric, seed, trainSample, maxListRows, onTrained)
    if (s.packed) {
      // large fan-out: do NOT join row-per-candidate-pair. Spark's join
      // operators cost ~0.4-0.9 us per output row (measured: an 8e8-pair
      // SortMergeJoin burned 2000+ core-seconds at the 100x rung), so the
      // scan kernel is wrapped the FAISS way instead: each (list, salt)
      // packs its vectors into ONE row, every probe joins its single
      // packed row (probe-count join cardinality, not pair-count), and
      // [[ListTopKScan]] scans the packed list in a primitive loop with
      // an in-expression bounded heap. The per-(probe, sublist) top-k
      // survivors then merge through the ordinary partial top-k
      // aggregate — identical heap semantics end to end, so the
      // exhaustive-probe EXACT gates hold on this path too.
      val packed = s.right.groupBy(s.keys.map(col): _*)
        .agg(collect_list(struct(col("label"), col("vec"))).as("items"))
      val scanExpr = GraftBridge.column(ListTopKScan(
        GraftBridge.expression(col("items")),
        GraftBridge.expression(col("qvec")),
        GraftBridge.expression(col("qid")),
        k, metricId, asc, excludeSelf))
      val scanned = s.left.join(packed, s.keys)
        .select(col("qid"), explode(scanExpr).as("nn"))
        .select(col("qid"), col("nn.label").as("label"), col("nn.distance").as("_dist"))
      Knn.rankResults(scanned, k, asc)
    } else Knn.rankResults(pairsFrom(s, metric, excludeSelf), k, asc)
  }

  /**
   * Distributed radius JOIN (similarity join): every (left, right) pair
   * within `radius` — the unbounded-both-sides complement of
   * `IndexCatalog.searchRadius`, and the 100 TB shape of embedding
   * near-dup detection (dedup_embedding's exact pair scan becomes this
   * the moment neither side fits a broadcast). Same one-shuffle-per-
   * side co-partitioned plan as [[ivfJoin]]; the radius predicate
   * replaces the top-k aggregate, so candidates stream straight from
   * the co-partitioned join — no aggregate at all. Recall follows
   * nprobe/nlist (pairs split across unprobed lists are missed).
   */
  def ivfRadiusJoin(
      left: DataFrame, // (qid bigint, qvec array<float>)
      right: DataFrame, // (label bigint, vec array<float>)
      radius: Double,
      nlist: Int,
      nprobe: Int,
      metric: String = "l2sq",
      seed: Long = 42L,
      trainSample: Int = 16384,
      excludeSelf: Boolean = false,
      maxListRows: Long = 0L,
      onTrained: Array[Array[Float]] => Unit = null): DataFrame = {
    val cands = pairsFrom(
      listedSides(left, right, nlist, nprobe, metric, seed, trainSample, maxListRows, onTrained),
      metric, excludeSelf)
    val cmp =
      if (VectorMath.smallerIsCloser(VectorMath.metricId(metric))) col("_dist") < lit(radius)
      else col("_dist") > lit(radius)
    // pairs are already unique: a right row lives in exactly one
    // (list, salt), so no dedup aggregate is needed — hits stream
    // straight out of the co-partitioned join
    cands.where(cmp).select(col("qid"), col("label"), col("_dist").as("distance"))
  }

  /** keyed sides of the list-co-partitioned join: probes exploded to
    * their nprobe (list_id[, salt]) keys, corpus rows assigned to one
    * key each, hot lists salted, parallelism pinned for big fan-outs */
  private case class Sides(left: DataFrame, right: DataFrame, keys: Seq[String], packed: Boolean)

  /** row-per-candidate-pair stream from the keyed sides (the radius
    * join's shape, and the small-scale top-k path) */
  private def pairsFrom(s: Sides, metric: String, excludeSelf: Boolean): DataFrame = {
    val d = vec.dist(metric, col("vec"), col("qvec"))
    val joined = s.left.join(s.right, s.keys)
    val filtered = if (excludeSelf) joined.where(col("label") =!= col("qid")) else joined
    filtered.select(col("qid"), col("label"), d.as("_dist"))
  }

  private def listedSides(
      left: DataFrame,
      right: DataFrame,
      nlist: Int,
      nprobe: Int,
      metric: String,
      seed: Long,
      trainSample: Int,
      maxListRows: Long,
      onTrained: Array[Array[Float]] => Unit): Sides = {
    val metricId = VectorMath.metricId(metric)
    val spark = right.sparkSession
    import spark.implicits._
    // ONE spread-stats job feeds quantizer training, the auto-nlist
    // choice, and the skew estimate: every partition returns its EXACT
    // row count plus a bounded sample. A prefix limit() would be blind
    // to clusters past the first partitions of a sorted corpus, and a
    // separate count() would be a second full pass on non-parquet
    // inputs — the spread pass replaces both.
    val spreadRdd = Knn.widen(right).select(vec.vector(col("vec")).as("vec")).rdd
    val perPart = math.max(1, trainSample / math.max(1, spreadRdd.getNumPartitions))
    // per-partition RESERVOIR (Vitter's R, splitmix64 PRNG seeded by
    // seed+partition for determinism), NOT a prefix: parquet corpora
    // are routinely clustered (ingest order, sorted ids), and a prefix
    // sample then misses whole regions — measured at the 100x rung,
    // where it under-estimated the hottest IVF list 4x (5.2k est vs
    // 20.1k true rows), so neither the mega-list re-clustering nor the
    // hot-list salting fired and the join carried 6x the pair work.
    val partStats: Array[(Long, Array[Array[Float]])] =
      spreadRdd.mapPartitionsWithIndex { (pid, it) =>
        val buf = new Array[Array[Float]](perPart)
        var rng = seed + 0x9e3779b97f4a7c15L * (pid + 1)
        def nextLong(): Long = {
          rng += 0x9e3779b97f4a7c15L
          var z = rng
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^ (z >>> 31)
        }
        var n = 0L
        it.foreach { row =>
          if (n < perPart) buf(n.toInt) = row.getSeq[Float](0).toArray
          else {
            val j = java.lang.Math.floorMod(nextLong(), n + 1)
            if (j < perPart) buf(j.toInt) = row.getSeq[Float](0).toArray
          }
          n += 1
        }
        Iterator.single((n, buf.take(math.min(n, perPart.toLong).toInt)))
      }.collect()
    val totalRows = partStats.map(_._1).sum
    val samplePts: Array[Array[Float]] = partStats.flatMap(_._2)
    // nlist <= 0 -> AUTO: size the list count to the corpus so the
    // expected list stays near AutoListRows and per-query candidate
    // work is CONSTANT as the corpus grows. A fixed nlist makes the
    // join quadratic in N — the 100x rung measured knn_join_ann at
    // 479 s with 16 lists of 12.5k rows each before this.
    val nlistTarget =
      if (nlist > 0) nlist
      else math.max(16L, math.min(65536L, (totalRows + AutoListRows - 1) / AutoListRows)).toInt
    var centroids = KMeansTrainer.trainLocal(samplePts, nlistTarget, seed, maxIter = 10)

    // TWO-LEVEL refinement of oversized lists (auto mode only, nlist
    // pinned by the caller = pinned geometry, e.g. exhaustive gates):
    // k-means minimizes SSE, and a dense POPULAR region contributes
    // almost none — so it happily leaves one list holding 20x the
    // target rows. Candidate pairs per list are quadratic in its size:
    // at the 100x rung a single such mega-list held 1.36e9 of the
    // join's 4.9e9 pairs (measured; ~6x the balanced workload).
    // Re-clustering each oversized list's own sample points splits the
    // popular region spatially and cuts TOTAL pair work, which no
    // amount of salting can (salt only spreads it). Byte-identical
    // duplicate blobs have zero internal variance and cannot be split
    // geometrically — sub-k-means returns coincident centroids, rows
    // stay on the first, and the salt guard remains their backstop.
    if (nlist <= 0) {
      val refineCap = 4.0 * AutoListRows
      var round = 0
      var anySplit = true
      while (round < 2 && anySplit && samplePts.nonEmpty) {
        val est = new Array[Double](centroids.length)
        val memberIdx = new Array[Int](samplePts.length)
        var si = 0
        while (si < samplePts.length) {
          memberIdx(si) = NearestCentroids.nearestIds(samplePts(si), centroids, 1, metricId)
            .headOption.getOrElse(-1)
          si += 1
        }
        // weight sample membership by each partition's true row count
        var base = 0
        partStats.foreach { case (nPart, rows) =>
          if (rows.nonEmpty) {
            val w = nPart.toDouble / rows.length
            var i = 0
            while (i < rows.length) {
              val m = memberIdx(base + i)
              if (m >= 0) est(m) += w
              i += 1
            }
            base += rows.length
          }
        }
        val big = est.indices.filter(i => est(i) > refineCap).toSet
        anySplit = big.nonEmpty
        if (anySplit) {
          val members = Array.fill(centroids.length)(
            scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
          var j = 0
          while (j < samplePts.length) {
            val m = memberIdx(j)
            if (m >= 0) members(m) += samplePts(j)
            j += 1
          }
          val kept = centroids.indices.filterNot(big).map(centroids)
          val splits = centroids.indices.filter(big).flatMap { i =>
            val subK = math.min(64L, (est(i) / AutoListRows).toLong + 1L).toInt
            val pts = members(i).toArray
            if (pts.length < 2 || subK < 2) Seq(centroids(i))
            else KMeansTrainer.trainLocal(pts, subK, seed + 101 + i, maxIter = 10).toSeq
          }
          centroids = (kept ++ splits).toArray
        }
        round += 1
      }
    }
    val nlistEff = centroids.length

    // past a few thousand centroids, flat argmin assignment is itself a
    // scan per vector — walk an HNSW graph over the centroid table
    // instead (the same IVF<n>_HNSW<m> coarse IndexCatalog uses; never
    // at exhaustive probe, where all lists must be returned)
    val coarse: Coarse =
      if (nlistEff >= GraphCoarseThreshold && math.max(1, nprobe) < nlistEff)
        Coarse.graph(centroids, m = 16, efConstruction = 64, ef = 64,
          IndexCatalog.coarseMetricId(metricId))
      else FlatCoarse(centroids, metricId)

    // only an all-NaN vector assigns to no list (-1)
    val rightListed = Knn.widen(right).select(
      coarse.assign(vec.vector(col("vec"))).as("list_id"),
      col("label"), vec.vector(col("vec")).as("vec"))

    val leftProbed = Knn.widen(left).select(
      col("qid"), vec.vector(col("qvec")).as("qvec"),
      explode(coarse.nearestCol(vec.vector(col("qvec")), math.max(1, nprobe))).as("list_id"))

    // AQE sizes reduce partitions by map-output BYTES, which is blind
    // to join FAN-OUT: ~1M 270-byte listed rows can explode into 1e9
    // candidate pairs, so AQE coalesces the small list_id exchanges to
    // a handful of tasks and the candidate scan + top-k runs close to
    // SERIAL — measured 920 s at the 100x rung for an 8e8-pair join
    // whose 32-way cost is ~30 s (a replicated bench corpus compresses
    // ~100x in the shuffle, compounding the underestimate, but the
    // fan-out blindness is generic). When the estimated pair count is
    // large, pin the join parallelism by repartitioning both sides on
    // the join keys at shuffle.partitions — the join then reuses that
    // co-partitioning (no extra exchange) and every task scans ~equal
    // candidate volume. Below the threshold the planner stays free to
    // broadcast, which is the right plan at gate scale.
    val pinThreshold = IndexCatalog.confLong(spark, PinPairsThresholdConf, 32000000L).toDouble
    // probe count = LEFT rows, not right: the old self-join assumption
    // (right totalRows as the probe count) over-estimated pairs by
    // orders of magnitude for an asymmetric join with a small query
    // side, force-pinning parallelism and over-salting hot lists. A
    // bounded limit+count measures the left exactly far enough to
    // decide: at `leftCap` observed rows the estimate already crosses
    // the pin threshold, so the scan never needs to go further (for
    // the dominant self-join shape leftCap is a few thousand rows —
    // one LocalLimit job over the first input split).
    val perProbePairs = math.max(1, nprobe).toDouble * (totalRows.toDouble / math.max(1, nlistEff))
    // the count job only runs when the pin decision is actually in
    // doubt: with an empty or near-empty right side (perProbePairs < 1
    // — under one candidate per probe) the join emits ~leftRows pairs
    // at most and the planner's broadcast of the tiny listed side is
    // the right plan, so pinning (a full repartition of both sides)
    // would only burn a shuffle — skip both the pin and its probe job.
    val pinParallelism =
      perProbePairs >= 1.0 && {
        val leftCap: Long =
          math.max(1L, math.min(1L << 40, math.ceil(pinThreshold / perProbePairs).toLong))
        // limit the RAW left plan, not a widened one: widen() repartitions,
        // and a limit above a shuffle still runs the full map side — a
        // whole pass over the query side. LocalLimit on the source plan
        // short-circuits after leftCap rows of the first input split(s).
        val leftObserved = left.limit(
          math.min(leftCap, Int.MaxValue.toLong - 1).toInt).count()
        leftObserved >= leftCap || leftObserved.toDouble * perProbePairs >= pinThreshold
      }
    val np = spark.sessionState.conf.numShufflePartitions

    // estimated hot-list split factors from the SAME spread stats: each
    // partition's sample is weighted by its actual row count, so wildly
    // uneven custom partitioning can't skew the estimate. ONE top-nprobe
    // assignment per sampled point yields BOTH per-list row estimates
    // (its top-1 list) and per-list probe estimates (all nprobe lists,
    // left side proxied by the right sample — exact for self-joins, the
    // dominant shape; an asymmetric left only shifts WHERE the probes
    // land, and the row-cap term still bounds the build side).
    val probeIdsOf = coarse.probe(math.max(1, nprobe))
    val maxListRowsEff = if (maxListRows > 0) maxListRows else 4L * AutoListRows
    val splitRows: Seq[(Int, Int)] =
      if (maxListRowsEff == Long.MaxValue || samplePts.isEmpty) Seq.empty
      else {
        val estRows = new Array[Double](centroids.length)
        val estProbes = new Array[Double](centroids.length)
        partStats.foreach { case (nPart, rows) =>
          if (rows.nonEmpty) {
            val w = nPart.toDouble / rows.length // rows each sampled point represents
            rows.foreach { p =>
              val ids = probeIdsOf(p)
              if (ids.nonEmpty) estRows(ids.head) += w
              ids.foreach(estProbes(_) += w)
            }
          }
        }
        // balance CANDIDATE PAIRS, not just rows: per-list scan work is
        // probes x rows (quadratic in list size for a self-join), so a
        // row-only cap leaves sublists of a popular list each carrying
        // its full probe load; the pairs target splits hot lists until
        // every (list, salt) key holds ~a quarter-partition of scan
        // work. The row cap still applies as a floor (bounds the
        // per-key build side / memory).
        // ~16 keys per partition: each (list, salt) key is scanned by
        // one task, so per-partition balance comes from averaging many
        // small keys, not from AQE (which can't split a key's scan
        // without duplicating the packed build side). 4 keys/partition
        // left ~1.8x task imbalance at the 100x rung; finer salting
        // costs only probe-side replication, which is probes x salt
        // rows — two orders below the pair work it levels.
        val pairsEst = estRows.indices.map(i => estRows(i) * estProbes(i))
        val targetPairsPerKey = math.max(pairsEst.sum / (16.0 * np), 1.0)
        estRows.indices.map { i =>
          val rowsSplit = (estRows(i) * 2.0 / maxListRowsEff).toLong + 1L
          val pairSplit =
            if (pinParallelism) math.ceil(pairsEst(i) / targetPairsPerKey).toLong else 1L
          (i, math.min(64L, math.max(rowsSplit, pairSplit)).toInt)
        }.filter(_._2 > 1)
      }
    // replay hook (the IndexCatalog.trainedCentroidsOf analog for the
    // catalog-less join path): the quantizer this join just trained,
    // handed to the caller so a correctness gate can inject it into its
    // oracle and replay assignment + probing verbatim. Salting/packing
    // change only partitioning, never the candidate pair set, so the
    // centroids are the COMPLETE approximation state of the join.
    // Per-call callback, not a process-global var: interleaved joins
    // must each see their OWN quantizer.
    if (onTrained != null) onTrained(centroids.map(_.clone()))
    def pinned(df: DataFrame, keys: Seq[String]): DataFrame =
      if (pinParallelism) df.repartition(np, keys.map(col): _*) else df
    // packed-scan eligibility: with the salt guard DISABLED
    // (maxListRows=Long.MaxValue) a degenerate mega-list would
    // collect_list into ONE unbounded row on the packed path and OOM an
    // executor, where the row-per-pair path degrades gracefully — so an
    // unguarded join keeps the pair path even when pinned
    val packedOk = pinParallelism && maxListRowsEff != Long.MaxValue
    if (splitRows.isEmpty)
      Sides(pinned(leftProbed, Seq("list_id")), pinned(rightListed, Seq("list_id")),
        Seq("list_id"), packedOk)
    else {
      // lists not in splitsDf keep salt 0 on both sides (coalesce),
      // so cold lists join on the single (list_id, 0) key unchanged
      val splitsDf = broadcast(splitRows.toDF("list_id", "splits"))
      val rightSalted = rightListed.join(splitsDf, Seq("list_id"), "left")
        .withColumn("salt",
          coalesce(pmod(xxhash64(col("label")), col("splits").cast("long")).cast("int"), lit(0)))
      val leftSalted = leftProbed.join(splitsDf, Seq("list_id"), "left")
        .withColumn("salt", explode(sequence(lit(0), coalesce(col("splits"), lit(1)) - 1)))
      Sides(pinned(leftSalted, Seq("list_id", "salt")),
        pinned(rightSalted, Seq("list_id", "salt")),
        Seq("list_id", "salt"), packedOk)
    }
  }
}
