package graft.search

import graft.SparkSpec

class KnnSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val data = {
    import spark.implicits._
    // 2-d grid points, label = y*10+x
    val rows = for (x <- 0 until 10; y <- 0 until 10)
      yield (y * 10L + x, Array(x.toFloat, y.toFloat))
    rows.toDF("label", "vec")
  }

  test("flat L2 search returns the true nearest neighbors, rank-ordered") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.2f, 0.0f))).toDF("qid", "qvec")
    val res = Knn.searchFlat(data, queries, 3, "l2sq").orderBy("rank").collect()
    assert(res.map(_.getLong(2)).toSeq === Seq(0L, 1L, 10L))
    assert(res.map(_.getInt(1)).toSeq === Seq(0, 1, 2))
    assert(math.abs(res(0).getDouble(3) - 0.04) < 1e-6)
  }

  test("big-corpus fast-kernel delegation is bit-equal to the row-join plan (metrics, excludeSelf, pad)") {
    import spark.implicits._
    val queries = Seq(
      (0L, Array(0.2f, 0.0f)), (7L, Array(9.6f, 4.4f)), (55L, Array(5.0f, 5.0f)))
      .toDF("qid", "qvec")
    def run(threshold: String, metric: String, exSelf: Boolean, pad: Boolean) = {
      spark.conf.set(Knn.FastFlatThresholdConf, threshold)
      try Knn.searchFlat(data.repartition(7), queries, 4, metric,
          excludeSelf = exSelf, padToK = pad)
        .collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset(Knn.FastFlatThresholdConf)
    }
    for (metric <- Seq("l2sq", "ip", "cosine", "l1"); exSelf <- Seq(false, true)) {
      val row = run("0", metric, exSelf, pad = false) // packed disabled
      val packed = run("1", metric, exSelf, pad = false) // packed forced
      assert(packed === row, s"metric=$metric excludeSelf=$exSelf")
      assert(row.nonEmpty)
    }
    // k > matching rows with padding: both plans pad to exactly k
    val rowPad = run("0", "l2sq", false, pad = true)
    val packedPad = run("1", "l2sq", false, pad = true)
    assert(packedPad === rowPad)
  }

  /** `data`'s Flat kernel search, served in-process over a driver replica of its shards */
  private def replicaSearch(data: org.apache.spark.sql.DataFrame, queries: org.apache.spark.sql.DataFrame,
      k: Int, metric: String, excludeSelf: Boolean = false, pad: Boolean = false) =
    graft.index.ShardReplicaSpec.replicaFlat(data, Knn.collectBatch(queries), k, metric, excludeSelf, pad)

  test("driver-local serve is bit-equal to the distributed plan (metrics, excludeSelf, pad) and caches per DataFrame") {
    import spark.implicits._
    val queries = Seq(
      (0L, Array(0.2f, 0.0f)), (7L, Array(9.6f, 4.4f)), (55L, Array(5.0f, 5.0f)))
      .toDF("qid", "qvec")
    def run(local: Boolean, metric: String, exSelf: Boolean, pad: Boolean) =
      (if (local) replicaSearch(data, queries, 4, metric, exSelf, pad)
       else Knn.searchFlat(data, queries, 4, metric, excludeSelf = exSelf, padToK = pad))
        .collect().map(_.toString).sorted.toSeq
    for (metric <- Seq("l2sq", "ip", "cosine", "l1"); exSelf <- Seq(false, true)) {
      assert(run(local = true, metric, exSelf, pad = false) ===
        run(local = false, metric, exSelf, pad = false), s"metric=$metric excludeSelf=$exSelf")
    }
    assert(run(local = true, "l2sq", exSelf = false, pad = true) ===
      run(local = false, "l2sq", exSelf = false, pad = true))
    // a catalog Flat index's DataFrame is taken as a replica on the first search only
    val name = "knn_local_once"
    graft.index.IndexCatalog.create(name, 2, "IDMap,Flat")
    graft.index.IndexCatalog.add(data, name)
    try {
      val before = graft.index.IndexCatalog.replicaBytes
      val first = graft.index.IndexCatalog.search(name, 3, queries)
      val held = graft.index.IndexCatalog.replicaBytes
      assert(held > before)
      val second = graft.index.IndexCatalog.search(name, 3, queries)
      assert(graft.index.IndexCatalog.replicaBytes === held)
      assert(second.collect().toSeq === first.collect().toSeq)
      // the local plan is a LocalRelation (no distributed scan in the plan)
      val plan = second.queryExecution.optimizedPlan.toString
      assert(plan.contains("LocalRelation"), plan.take(300))
    } finally graft.index.IndexCatalog.destroy(name)
  }

  test("driver-local serve merges a repeated qid into one top-k, row for row as the distributed plan") {
    import spark.implicits._
    // qid 0 twice, with two different vectors
    val queries = Seq(
      (0L, Array(0.2f, 0.0f)), (7L, Array(9.6f, 4.4f)), (0L, Array(5.0f, 5.0f)))
      .toDF("qid", "qvec")
    def run(local: Boolean, exSelf: Boolean, pad: Boolean) =
      (if (local) replicaSearch(data, queries, 4, "l2sq", exSelf, pad)
       else Knn.searchFlat(data, queries, 4, "l2sq", excludeSelf = exSelf, padToK = pad))
        .collect().map(_.toString).sorted.toSeq
    for (exSelf <- Seq(false, true); pad <- Seq(false, true)) {
      val local = run(local = true, exSelf, pad)
      assert(local === run(local = false, exSelf, pad), s"excludeSelf=$exSelf pad=$pad")
      assert(local.count(_.startsWith("[0,")) === 4, s"excludeSelf=$exSelf pad=$pad")
    }
  }

  test("driver-local serve: over-cap corpus falls back to the distributed plan; oversized batch fails loudly") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.2f, 0.0f))).toDF("qid", "qvec")
    val name = "knn_local_refused"
    graft.index.IndexCatalog.create(name, 2, "IDMap,Flat")
    graft.index.IndexCatalog.add(data, name)
    try {
      // the budget has no room: the index is refused its replica
      val res = graft.index.ShardReplicaSpec.withBudgetFull(spark) {
        graft.index.IndexCatalog.search(name, 3, queries).orderBy("rank").collect()
      }
      assert(res.map(_.getLong(2)).toSeq === Seq(0L, 1L, 10L)) // distributed fallback answered
      spark.conf.set(graft.index.IndexCatalog.MaxQueryBatchConf, "0")
      val ex = intercept[IllegalStateException] {
        graft.index.IndexCatalog.search(name, 3, queries).collect()
      }
      assert(ex.getMessage.contains("query batch exceeds"))
    } finally {
      graft.index.IndexCatalog.destroy(name)
      spark.conf.unset(graft.index.IndexCatalog.MaxQueryBatchConf)
    }
  }

  test("Knn confs: a non-integer or negative value throws naming the key") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.2f, 0.0f))).toDF("qid", "qvec")
    for (key <- Seq(Knn.FastFlatThresholdConf, AnnJoin.PinPairsThresholdConf);
         bad <- Seq("x", "-5")) {
      spark.conf.set(key, bad)
      try {
        val corpus = data.select(col("label"), col("vec"))
        val e = intercept[IllegalArgumentException](
          if (key == AnnJoin.PinPairsThresholdConf)
            AnnJoin.ivfJoin(queries, corpus, k = 3, nlist = 2, nprobe = 1).collect()
          else Knn.searchFlat(corpus, queries, 3, "l2sq").collect())
        assert(e.getMessage.contains(key), s"$key=$bad: ${e.getMessage}")
      } finally spark.conf.unset(key)
    }
  }

  test("stats-less (RDD-backed) corpus routes to the broadcast-join plan, not the eager fast kernel") {
    import spark.implicits._
    // createDataFrame(rdd) yields a LogicalRDD whose sizeInBytes is the
    // defaultSizeInBytes sentinel (Long.MaxValue) — that means UNKNOWN,
    // not huge: even with the fast-path threshold forced to 1 byte the
    // router must keep the lazy broadcast-join plan, which handles query
    // batches above maxQueryBatch that the fast kernel refuses
    val rdd = spark.sparkContext.parallelize(
      (0L until 16L).map(i => (i, Array(i.toFloat, 0f))), 2)
    val rddData = spark.createDataFrame(rdd).toDF("label", "vec")
    assert(rddData.queryExecution.optimizedPlan.stats.sizeInBytes ===
      BigInt(spark.sessionState.conf.defaultSizeInBytes)) // precondition of the scenario
    val queries = Seq((0L, Array(3.2f, 0f)), (1L, Array(12.9f, 0f))).toDF("qid", "qvec")
    spark.conf.set(Knn.FastFlatThresholdConf, "1")
    spark.conf.set(graft.index.IndexCatalog.MaxQueryBatchConf, "1") // fast kernel would throw
    try {
      val res = Knn.searchFlat(rddData, queries, 2, "l2sq")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(res.toSet === Set((0L, 0, 3L), (0L, 1, 4L), (1L, 0, 13L), (1L, 1, 12L)))
    } finally {
      spark.conf.unset(Knn.FastFlatThresholdConf)
      spark.conf.unset(graft.index.IndexCatalog.MaxQueryBatchConf)
    }
  }

  test("grouped knn join: neighbors never cross the group boundary") {
    import spark.implicits._
    // two tenants; the globally-nearest neighbor of each query sits in
    // the OTHER tenant — grouping must refuse it
    val right = Seq(
      ("a", 1L, Array(0f, 0f)), ("a", 2L, Array(5f, 0f)),
      ("b", 3L, Array(0.1f, 0f)), ("b", 4L, Array(9f, 0f)))
      .toDF("grp", "label", "vec")
    val left = Seq(
      ("a", 10L, Array(0.2f, 0f)), ("b", 11L, Array(0.2f, 0f)))
      .toDF("grp", "qid", "qvec")
    val res = Knn.knnJoinGrouped(left, right, 2, "l2sq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val byQuery = res.groupBy(t => (t._1, t._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(byQuery(("a", 10L)) === Seq(1L, 2L)) // NOT label 3 (dist 0.01 but tenant b)
    assert(byQuery(("b", 11L)) === Seq(3L, 4L))
  }

  test("grouped knn join equals per-group flat search, excludeSelf respected") {
    import spark.implicits._
    val right = data.select((col("label") % 3).as("grp"), col("label"), col("vec"))
    val left = data.where(col("label") < 9)
      .select((col("label") % 3).as("grp"), col("label").as("qid"), col("vec").as("qvec"))
    val res = Knn.knnJoinGrouped(left, right, 4, "l2sq", excludeSelf = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3)))).toSeq
    assert(res.nonEmpty)
    // no self pairs, all within-group
    assert(res.forall { case ((g, qid), (_, label)) => label != qid && label % 3 == g })
    // per-group reference: flat search restricted to one group's rows
    for (g <- 0L until 3L) {
      val want = Knn.searchFlat(
          right.where(col("grp") === g).select(col("label"), col("vec")),
          left.where(col("grp") === g).select(col("qid"), col("qvec")),
          4, "l2sq", excludeSelf = true)
        .collect().map(r => ((g, r.getLong(0)), (r.getInt(1), r.getLong(2)))).toSet
      assert(res.filter(_._1._1 == g).toSet === want)
    }
  }

  test("inner product orders descending") {
    import spark.implicits._
    val queries = Seq((0L, Array(1.0f, 1.0f))).toDF("qid", "qvec")
    val res = Knn.searchFlat(data, queries, 2, "ip").orderBy("rank").collect()
    // (9,9) ip=18 first; then ip=17 tie between labels 89=(9,8) and 98=(8,9) -> smaller label 89
    assert(res.map(_.getLong(2)).toSeq === Seq(99L, 89L))
  }

  test("filtered search only sees rows passing the predicate") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.0f, 0.0f))).toDF("qid", "qvec")
    val res = Knn.searchFlat(data.where(col("label") % 2 === 1), queries, 2, "l2sq")
      .orderBy("rank").collect()
    assert(res.map(_.getLong(2)).toSeq === Seq(1L, 11L))
  }

  test("k larger than candidate set returns all candidates") {
    import spark.implicits._
    val queries = Seq((7L, Array(0.0f, 0.0f))).toDF("qid", "qvec")
    val res = Knn.searchFlat(data.where(col("label") < 2), queries, 10, "l2sq").collect()
    assert(res.length === 2)
  }

  test("a NaN query under pad: the kernel, the row join and the local serve each pad it to k") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.2f, 0.0f)), (1L, Array(Float.NaN, 1.0f))).toDF("qid", "qvec")
    val rowJoin = Knn.searchFlat(data.repartition(3), queries, 3, "l2sq", padToK = true)
      .collect().map(_.toString).sorted.toSeq
    val kernel = Knn.searchFlatFast(data.repartition(3), Knn.collectBatch(queries), 3, "l2sq", padToK = true)
      .collect().map(_.toString).sorted.toSeq
    val local = replicaSearch(data, queries, 3, "l2sq", pad = true).collect().map(_.toString).sorted.toSeq
    assert(rowJoin.filter(_.startsWith("[1,")) ===
      (0 until 3).map(r => s"[1,$r,-1,${Double.MaxValue}]"))
    assert(kernel === rowJoin, "kernel")
    assert(local === rowJoin, "local serve")
  }

  test("partition-local fast path equals the declarative path exactly") {
    import spark.implicits._
    val queries = Seq((0L, Array(0.2f, 3.0f)), (1L, Array(7.7f, 7.7f))).toDF("qid", "qvec")
    for (metric <- Seq("l2sq", "ip", "cosine", "l1")) {
      val slow = Knn.searchFlat(data.repartition(3), queries, 4, metric)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
      val fast = Knn.searchFlatFast(data.repartition(3), Knn.collectBatch(queries), 4, metric)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
      assert(fast.toSeq === slow.toSeq, metric)
    }
  }

  test("multiple queries keep independent result sets") {
    import spark.implicits._
    val queries = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(9.0f, 9.0f))).toDF("qid", "qvec")
    val res = Knn.searchFlat(data, queries, 1, "l2sq").collect()
    val byQ = res.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byQ === Map(1L -> 0L, 2L -> 99L))
  }

  test("AnnJoin.ivfJoin: distributed ANN join reaches high recall vs the exact join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pts = (for (x <- 0 until 16; y <- 0 until 16)
      yield (y * 16L + x, Array(x.toFloat, y.toFloat))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    val exact = Knn.knnJoin(qs, pts, 3, "l2sq").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val approx = AnnJoin.ivfJoin(qs, pts, k = 3, nlist = 8, nprobe = 4, excludeSelf = true)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("AnnJoin.ivfJoin skew guard: salted hot-list join is identical to the unsalted join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // deliberately skewed corpus: 200 points in one tight blob (one hot
    // IVF list) plus a handful of outliers
    val pts = ((0 until 200).map(i => (i.toLong, Array(5.0f + (i % 7) * 0.01f, 5.0f + (i % 5) * 0.01f)))
      ++ Seq((900L, Array(50.0f, 50.0f)), (901L, Array(-50.0f, 40.0f)), (902L, Array(0.0f, -60.0f))))
      .toDF("label", "vec")
    val qs = pts.limit(40).select(col("label").as("qid"), col("vec").as("qvec"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.select("qid", "rank", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    // maxListRows=32 forces the blob's list to split into salted sublists
    val salted = canon(AnnJoin.ivfJoin(qs, pts, k = 3, nlist = 4, nprobe = 4,
      excludeSelf = true, maxListRows = 32L))
    val unsalted = canon(AnnJoin.ivfJoin(qs, pts, k = 3, nlist = 4, nprobe = 4,
      excludeSelf = true, maxListRows = Long.MaxValue))
    assert(salted.nonEmpty)
    assert(salted === unsalted)
  }

  test("maxQueryBatch edge values: Int.MaxValue still serves, a negative value names the key") {
    import spark.implicits._
    val pts = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    val conf = graft.index.IndexCatalog.MaxQueryBatchConf
    try {
      // +1 on the cap must not overflow into a negative limit
      spark.conf.set(conf, Int.MaxValue.toString)
      assert(Knn.knnJoin(qs, pts, 3, "l2sq").count() === 60)
      spark.conf.set(conf, "-1")
      val e = intercept[IllegalArgumentException](Knn.knnJoin(qs, pts, 3, "l2sq").collect())
      assert(e.getMessage.contains(conf), e.getMessage)
      // 0 stays valid: it rejects every non-empty batch
      spark.conf.set(conf, "0")
      intercept[IllegalStateException](Knn.knnJoin(qs, pts, 3, "l2sq").collect())
    } finally spark.conf.unset(conf)
  }

  test("knnJoin/searchFlatFast: oversized query side fails loudly, pointing at AnnJoin") {
    import spark.implicits._
    val pts = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    spark.conf.set(graft.index.IndexCatalog.MaxQueryBatchConf, "8")
    try {
      val e = intercept[IllegalStateException] {
        Knn.knnJoin(qs, pts, 3, "l2sq").collect()
      }
      assert(e.getMessage.contains("AnnJoin.ivfJoin"))
      assert(e.getMessage.contains(graft.index.IndexCatalog.MaxQueryBatchConf))
      // within the cap the path still works
      assert(Knn.knnJoin(qs.limit(8), pts, 3, "l2sq").count() === 24)
    } finally spark.conf.unset(graft.index.IndexCatalog.MaxQueryBatchConf)
  }

  test("AnnJoin.ivfJoin with exhaustive probing equals the exact join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pts = (for (x <- 0 until 12; y <- 0 until 12)
      yield (y * 12L + x, Array(x.toFloat, y.toFloat))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    val exact = canon(Knn.knnJoin(qs, pts, 3, "l2sq").select("qid", "rank", "label").collect())
    val full = canon(AnnJoin.ivfJoin(qs, pts, k = 3, nlist = 4, nprobe = 4, excludeSelf = true)
      .select("qid", "rank", "label").collect())
    assert(full === exact)
  }

  test("AnnJoin.ivfJoin packed-scan path (forced pin) is bit-equal to the planner-chosen path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the packed ListTopKScan kernel only engages past the estimated-
    // pairs threshold; force it via the conf so the spec covers the
    // large-fan-out path on small data, including exhaustive probing
    // (the _exh exact gates must stay exact if the planner ever pins)
    val pts = (for (x <- 0 until 12; y <- 0 until 12)
      yield (y * 12L + x, Array(x.toFloat, y.toFloat))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.select("qid", "rank", "label", "distance")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    for ((nlist, nprobe) <- Seq((4, 4), (6, 2))) {
      val free = canon(AnnJoin.ivfJoin(qs, pts, k = 3, nlist = nlist, nprobe = nprobe,
        excludeSelf = true))
      spark.conf.set(AnnJoin.PinPairsThresholdConf, "1")
      val pinned =
        try canon(AnnJoin.ivfJoin(qs, pts, k = 3, nlist = nlist, nprobe = nprobe,
          excludeSelf = true))
        finally spark.conf.unset(AnnJoin.PinPairsThresholdConf)
      assert(pinned.nonEmpty)
      assert(pinned === free, s"nlist=$nlist nprobe=$nprobe")
    }
  }

  test("AnnJoin.ivfRadiusJoin: hits are within-radius, a subset of brute force, exact at full probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val pts = (for (x <- 0 until 12; y <- 0 until 12)
      yield (y * 12L + x, Array(x.toFloat, y.toFloat))).toDF("label", "vec")
    val qs = pts.select(col("label").as("qid"), col("vec").as("qvec"))
    val r = 5.0 // l2sq
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val exact = pairSet(pts.crossJoin(broadcast(qs))
      .where(graft.functions.vec.l2sq(col("qvec"), col("vec")) < lit(r) &&
        col("label") =!= col("qid"))
      .select(col("qid"), col("label")))
    val full = pairSet(AnnJoin.ivfRadiusJoin(qs, pts, radius = r, nlist = 4, nprobe = 4,
      excludeSelf = true).select("qid", "label"))
    assert(full === exact && exact.nonEmpty, "exhaustive probe must equal brute force")
    val partial = pairSet(AnnJoin.ivfRadiusJoin(qs, pts, radius = r, nlist = 4, nprobe = 1,
      excludeSelf = true).select("qid", "label"))
    assert(partial.subsetOf(exact), "partial probe can only miss, never invent")
    assert(partial.size.toDouble / exact.size >= 0.5, "nearest-list probing keeps most hits")
  }

  test("matryoshka: exhaustive coarse pass equals exact flat search") {
    import spark.implicits._
    // 4-d points whose FIRST dims are uninformative — the coarse prefix
    // pass ranks badly, but with factor covering the whole corpus the
    // re-rank must recover the exact answer
    val rows = (0 until 60).map { i =>
      (i.toLong, Array(0f, (i % 7).toFloat, i.toFloat, (i * 3 % 11).toFloat))
    }
    val pts = rows.toDF("label", "vec")
    val qs = pts.where(col("label") < 5).select(col("label").as("qid"), col("vec").as("qvec"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    val exact = canon(Knn.searchFlat(pts, qs, 3, "l2sq"))
    val full = canon(Knn.searchMatryoshka(pts, qs, 3, prefixDim = 2, factor = 20))
    assert(full === exact)
  }

  test("matryoshka: self-hit survives the coarse cut; results are coarse-set-bounded") {
    import spark.implicits._
    val rows = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * (d + 3)) % 13).toFloat))
    }
    val pts = rows.toDF("label", "vec")
    val qs = pts.where(col("label") < 6).select(col("label").as("qid"), col("vec").as("qvec"))
    val res = Knn.searchMatryoshka(pts, qs, 3, prefixDim = 4, factor = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // prefix distance of the query to itself is 0 — it can never be cut,
    // so rank 0 is always the self hit at distance 0
    for (q <- 0L until 6L) {
      val top = res.filter(_._1 == q).minBy(_._2)
      assert(top._3 === q && top._4 === 0.0)
    }
    // every query returns exactly k rows (coarse set is k*factor >= k)
    assert(res.groupBy(_._1).forall(_._2.length == 3))
  }
}
