package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorMath
import graft.search.Knn
import graft.sql.GraftFunctions

/**
 * HNSW's one-job serve path: the driver merge of the per-shard top-k
 * must return, row for row and with the same schema, what the
 * distributed top-k route it replaced returns over the same shard graphs
 * (that route is kept below as [[ReferenceShardRoute]]), and a request
 * must run no job on the index's driver replica and one job without it.
 */
class HnswServeSpec extends SparkSpec {
  import HnswServeSpec._

  override def afterAll(): Unit = {
    IndexCatalog.list().map(_.name).filter(_.startsWith("hs_")).foreach(IndexCatalog.destroy)
    super.afterAll()
  }

  private def points(rnd: java.util.Random, n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, Array.fill(Dim)(rnd.nextInt(65) / 8f - 4f)))

  private def queries: DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(3)
    ((0 until 3).map(i => (i.toLong, Array.fill(Dim)(rnd.nextFloat() * 8f - 4f))) ++ Seq(
      (3L, Array.fill(Dim)(0.5f).updated(2, Float.NaN)),
      // qid 1 again, with another vector: both entries feed qid 1's one list
      (1L, Array.fill(Dim)(-1.5f)))).toDF("qid", "qvec")
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** the (jobs, stages, shuffle bytes) `f` runs, counted by a listener
    * between two drains of the bus */
  private def counted(f: => Any): (Int, Int, Long) = {
    var jobs = 0
    var stages = 0
    var shuffleBytes = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs, stages, shuffleBytes)
  }

  test("driver merge equals the distributed top-k route: metrics, pad, k past a shard, " +
    "an empty shard, one label on two shards, a NaN query, a repeated qid, narrow filters") {
    import spark.implicits._
    val rnd = new java.util.Random(29)
    val corpora = Seq(
      "plain" -> points(rnd, 64),
      // 3 rows over 4 shards (repartitioned below): at least one shard is empty
      "tiny" -> points(rnd, 3),
      // every label twice, with different vectors, so labels span shards
      "shared" -> (points(rnd, 32) ++ points(rnd, 32)))
    val qs = queries
    val batch = IndexCatalog.queryBatch(qs, "spec batch")
    var compared = 0
    for (metric <- Seq("l2sq", "ip", "cosine"); (cName, corpus) <- corpora) {
      val name = s"hs_${cName}_$metric"
      IndexCatalog.create(name, Dim, "IDMap,HNSW8", metric, Map("efConstruction" -> "32"))
      IndexCatalog.add(corpus.toDF("label", "vec").repartition(4), name)
      val b = IndexCatalog.build(name).asInstanceOf[IndexCatalog.HnswBuilt]
      val shardLabels = b.data.select("label").rdd
        .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSet)).collect()
      cName match {
        case "tiny" => assert(shardLabels.exists(_.isEmpty), "no empty shard")
        case "shared" =>
          assert(shardLabels.indices.exists(i => shardLabels.indices.exists(j =>
            i != j && (shardLabels(i) & shardLabels(j)).nonEmpty)), "no label on two shards")
        case _ =>
      }
      val graphs = ReferenceShardRoute.graphs(b.data, 8, 32, VectorMath.metricId(metric))
      for (k <- Seq(4, 40); pad <- Seq(false, true); filter <- Seq(None, Some(col("label") % 3 =!= 1))) {
        val params = Map("efSearch" -> "16", "pad" -> pad.toString)
        val got = filter match {
          case None => IndexCatalog.search(name, k, qs, params)
          case Some(f) => IndexCatalog.searchFilter(name, k, qs, f, params)
        }
        val want = ReferenceShardRoute.search(spark, graphs, batch, k, 16,
          VectorMath.metricId(metric), pad, filter.map(f => b.data.select(col("label"), col("vec")).where(f)))
        val ctx = s"$name k=$k pad=$pad filter=${filter.isDefined}"
        assert(got.schema === want.schema, ctx)
        val wantRows = rowsOf(want)
        assert(rowsOf(got) === wantRows, ctx)
        // the NaN query's candidates all sit at NaN distances: pad rows at most
        assert(wantRows.filter(_.startsWith("[3,")).forall(_.contains(",-1,")), ctx)
        assert(wantRows.count(_.startsWith("[1,")) <= k, ctx)
        compared += 1
      }
      graphs.unpersist()
      IndexCatalog.destroy(name)
    }
    assert(compared === 3 * 3 * 8)
  }

  test("an HNSW search and a narrow searchFilter run one job of one stage with no shuffle; " +
    "SQL faiss_search over a local query table plans with no job and collects in one") {
    import spark.implicits._
    val name = "hs_jobs"
    IndexCatalog.create(name, Dim, "IDMap,HNSW8")
    IndexCatalog.add(points(new java.util.Random(5), 64).toDF("label", "vec"), name)
    val qs = queries
    // the index with no replica: its searches take the runJob route
    IndexCatalog.build(name).asInstanceOf[IndexCatalog.HnswBuilt].replica.close()
    IndexCatalog.search(name, 5, qs).collect() // builds outside the count
    assert(counted(IndexCatalog.search(name, 5, qs).collect()) === ((1, 1, 0L)), "search")
    assert(counted(IndexCatalog.searchFilter(name, 5, qs, col("label") % 2 === 0).collect()) ===
      ((1, 1, 0L)), "searchFilter")
    GraftFunctions.registerAll(spark)
    qs.createOrReplaceTempView("hs_jobs_q")
    val sql = spark.sql(s"SELECT qid, faiss_search('$name', 5, qvec) AS rs FROM hs_jobs_q")
    assert(counted(sql.queryExecution.executedPlan)._1 === 0, "SQL faiss_search planning")
    assert(counted(assert(sql.collect().length === 5)) === ((1, 1, 0L)), "SQL faiss_search collect")
    IndexCatalog.destroy(name)
  }

  test("an HNSW search, a narrow searchFilter and SQL faiss_search over a local query table run no job " +
    "on the replica and return the runJob route's rows") {
    import spark.implicits._
    val name = "hs_replica"
    IndexCatalog.create(name, Dim, "IDMap,HNSW8")
    IndexCatalog.add(points(new java.util.Random(5), 64).toDF("label", "vec"), name)
    val qs = queries
    IndexCatalog.search(name, 5, qs).collect() // builds and takes the replica outside the count
    val filter = col("label") % 2 === 0
    def both() = (rowsOf(IndexCatalog.search(name, 5, qs)), rowsOf(IndexCatalog.searchFilter(name, 5, qs, filter)))
    val replicated = both()
    assert(counted(IndexCatalog.search(name, 5, qs).collect()) === ((0, 0, 0L)), "search")
    assert(counted(IndexCatalog.searchFilter(name, 5, qs, filter).collect()) === ((0, 0, 0L)), "searchFilter")
    GraftFunctions.registerAll(spark)
    qs.createOrReplaceTempView("hs_replica_q")
    val sql = spark.sql(s"SELECT qid, faiss_search('$name', 5, qvec) AS rs FROM hs_replica_q")
    assert(counted(sql.queryExecution.executedPlan)._1 === 0, "SQL faiss_search planning")
    assert(counted(assert(sql.collect().length === 5)) === ((0, 0, 0L)), "SQL faiss_search collect")
    // the same index with its replica dropped: the runJob route, with the same rows
    IndexCatalog.build(name).asInstanceOf[IndexCatalog.HnswBuilt].replica.close()
    assert(both() === replicated)
    IndexCatalog.destroy(name)
  }

  test("a batch past the driver-merge bound ranks the shards' top-k in the distributed " +
    "aggregate, row for row as the reference route") {
    import spark.implicits._
    val name = "hs_big"
    IndexCatalog.create(name, Dim, "IDMap,HNSW8", "l2sq", Map("efConstruction" -> "32"))
    IndexCatalog.add(points(new java.util.Random(13), 64).toDF("label", "vec").repartition(4), name)
    val b = IndexCatalog.build(name).asInstanceOf[IndexCatalog.HnswBuilt]
    val k = 64
    val shards = b.data.rdd.getNumPartitions
    // one entry more than the bound allows, the last one repeating qid 0
    val n = (IndexCatalog.localMergeBound(spark) / (k * shards)).toInt
    val rnd = new java.util.Random(17)
    val qs = ((0 until n).map(i => (i.toLong, Array.fill(Dim)(rnd.nextFloat() * 8f - 4f))) :+
      (0L, Array.fill(Dim)(1f))).toDF("qid", "qvec")
    val batch = IndexCatalog.queryBatch(qs, "spec batch")
    assert(batch.length.toLong * k * shards > IndexCatalog.localMergeBound(spark))
    val graphs = ReferenceShardRoute.graphs(b.data, 8, 32, VectorMath.metricId("l2sq"))
    for ((pad, filter) <- Seq((false, None), (true, None), (true, Some(col("label") % 3 =!= 1)))) {
      val params = Map("efSearch" -> "16", "pad" -> pad.toString)
      val got = filter match {
        case None => IndexCatalog.search(name, k, qs, params)
        case Some(f) => IndexCatalog.searchFilter(name, k, qs, f, params)
      }
      val ctx = s"pad=$pad filter=${filter.isDefined}"
      assert(!got.queryExecution.executedPlan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
        ctx)
      val want = ReferenceShardRoute.search(spark, graphs, batch, k, 16, VectorMath.metricId("l2sq"), pad,
        filter.map(f => b.data.select(col("label"), col("vec")).where(f)))
      assert(got.schema === want.schema, ctx)
      assert(rowsOf(got) === rowsOf(want), ctx)
    }
    graphs.unpersist()
    IndexCatalog.destroy(name)
  }
}

object HnswServeSpec {
  val Dim = 6
}

/** The HNSW request route as it stood before the driver merge: the
  * batch broadcast, every shard graph searched in a flatMap (a narrow
  * restriction's labels zipped in as a per-shard set), and the
  * candidates ranked by the `vec.topk` aggregate of [[Knn.rankResults]].
  * The graphs are built from the index's cached layout exactly as
  * `HnswBuilt.build` builds them, so both routes search the same graphs. */
private object ReferenceShardRoute {

  def graphs(data: DataFrame, m: Int, efC: Int, metricId: Int): RDD[Nsw.Graph] =
    data.select(col("label"), col("vec")).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .mapPartitions(it => Iterator.single(Nsw.build(it.toArray, m, efC, metricId)),
        preservesPartitioning = true)
      .cache()

  def search(
      spark: org.apache.spark.sql.SparkSession, graphs: RDD[Nsw.Graph],
      batch: Array[(Long, Array[Float])], k: Int, efSearch: Int, metricId: Int, pad: Boolean, restricted: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(batch)
    val searchShard: (Nsw.Graph, Long => Boolean) => Iterator[(Long, Long, Double)] =
      (g, allowed) => qB.value.iterator.flatMap { case (qid, qv) =>
        Nsw.search(g, qv, k, efSearch, metricId, allowed).iterator
          .map { case (d, label) => (qid, label, d) }
      }
    val perShard = restricted match {
      case None => graphs.flatMap(searchShard(_, null))
      case Some(rs) =>
        val allowedRdd = rs.select("label").rdd.mapPartitions({ it =>
          val s = new java.util.HashSet[Long]()
          it.foreach(r => s.add(r.getLong(0)))
          Iterator.single(s)
        }, preservesPartitioning = true)
        graphs.zipPartitions(allowedRdd) { (git, ait) =>
          val allowed = if (ait.hasNext) ait.next() else new java.util.HashSet[Long]()
          git.flatMap(searchShard(_, allowed.contains))
        }
    }
    Knn.rankResults(perShard.toDF("qid", "label", "_dist"), k,
      ascending = VectorMath.smallerIsCloser(metricId), padToK = pad)
  }
}
