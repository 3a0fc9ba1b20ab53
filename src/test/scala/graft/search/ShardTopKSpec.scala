package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.functions.vec
import graft.index.IndexCatalog

/**
 * The shard top-k route ([[Knn.shardTopK]]) with the Flat kernel as its
 * per-shard function: the driver merge must return, row for row, what
 * [[Knn.rankResults]] returns over the same candidate rows (that route
 * is kept below as [[ReferenceFlatRoute]]) and what the row join of
 * [[Knn.searchFlat]] returns; a small batch runs no job on an index's
 * driver replica and one job with no shuffle without one, and a batch
 * past the merge bound keeps the distributed plan.
 */
class ShardTopKSpec extends SparkSpec {

  override def afterAll(): Unit = {
    IndexCatalog.list().map(_.name).filter(_.startsWith("stk_")).foreach(IndexCatalog.destroy)
    super.afterAll()
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

  private def grid(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, Array((i % 10).toFloat, (i / 10).toFloat)))

  /** one random search: a corpus over `parts` partitions, a batch, k and the flags */
  private case class Case(
      corpus: Seq[(Long, Array[Float])], parts: Int, batch: Seq[(Long, Array[Float])],
      k: Int, metric: String, pad: Boolean, excludeSelf: Boolean) {
    override def toString: String =
      s"Case(n=${corpus.size}, parts=$parts, k=$k, $metric, pad=$pad, excludeSelf=$excludeSelf, " +
        s"batch=${batch.map { case (q, v) => s"$q:${v.mkString("[", ",", "]")}" }.mkString(" ")})"
  }

  // values on a 1/2 grid, so that distances tie and the label order decides
  private val vector: Gen[Array[Float]] = Gen.listOfN(3, Gen.choose(-4, 4).map(_ / 2f)).map(_.toArray)

  private val cases: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 3), 4 -> Gen.choose(4, 40))
    corpus <- Gen.listOfN(n, vector).map(_.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    // up to 8 partitions over at most 40 rows: small corpora leave some empty
    parts <- Gen.choose(1, 8)
    entries <- Gen.choose(1, 5)
    // qids 0..3 repeat across entries and collide with labels (excludeSelf)
    batch <- Gen.listOfN(entries, Gen.zip(Gen.choose(0L, 3L),
      Gen.frequency(5 -> vector, 1 -> vector.map(_.updated(1, Float.NaN)))))
    // k up to past a partition's size
    k <- Gen.choose(1, 12)
    metric <- Gen.oneOf("l2sq", "ip", "cosine", "l1")
    pad <- Gen.oneOf(false, true)
    excludeSelf <- Gen.oneOf(false, true)
  } yield Case(corpus, parts, batch, k, metric, pad, excludeSelf)

  test("Flat search, a Flat searchFilter and knnJoin over a small batch run one job of one stage " +
    "with no shuffle") {
    import spark.implicits._
    val name = "stk_jobs"
    IndexCatalog.create(name, 2, "IDMap,Flat")
    IndexCatalog.add(grid(100).toDF("label", "vec"), name)
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f)), (1L, Array(2f, 2f))).toDF("qid", "qvec")
    // the index with no replica: its searches take the runJob route
    IndexCatalog.build(name).asInstanceOf[IndexCatalog.FlatBuilt].replica.close()
    IndexCatalog.search(name, 3, qs).collect() // builds outside the count
    // a corpus already split over the session's parallelism: nothing to widen
    val right = spark.createDataFrame(spark.sparkContext.parallelize(grid(100), 4)).toDF("label", "vec")
    // the query batch is a local table: its collect runs no job
    assert(counted(assert(IndexCatalog.search(name, 3, qs).collect().length === 6)) === ((1, 1, 0L)), "search")
    assert(counted(IndexCatalog.searchFilter(name, 3, qs, col("label") % 2 === 0).collect()) === ((1, 1, 0L)),
      "searchFilter")
    assert(counted(Knn.knnJoin(qs, right, 3, "l2sq").collect()) === ((1, 1, 0L)), "knnJoin")
    IndexCatalog.destroy(name)
  }

  test("Flat search and a Flat searchFilter over a small batch run no job on the replica and return " +
    "the runJob route's rows") {
    import spark.implicits._
    val name = "stk_replica"
    IndexCatalog.create(name, 2, "IDMap,Flat")
    IndexCatalog.add(grid(100).toDF("label", "vec"), name)
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f)), (1L, Array(2f, 2f))).toDF("qid", "qvec")
    IndexCatalog.search(name, 3, qs).collect() // builds and takes the replica outside the count
    val filter = col("label") % 2 === 0
    def both() = (rowsOf(IndexCatalog.search(name, 3, qs)), rowsOf(IndexCatalog.searchFilter(name, 3, qs, filter)))
    val replicated = both()
    // the query batch is a local table: it is read with no job
    assert(counted(assert(IndexCatalog.search(name, 3, qs).collect().length === 6)) === ((0, 0, 0L)), "search")
    assert(counted(IndexCatalog.searchFilter(name, 3, qs, filter).collect()) === ((0, 0, 0L)), "searchFilter")
    // the same index with its replica dropped: the runJob route, with the same rows
    IndexCatalog.build(name).asInstanceOf[IndexCatalog.FlatBuilt].replica.close()
    assert(both() === replicated)
    IndexCatalog.destroy(name)
  }

  test("a Flat batch past the driver-merge bound ranks the partitions' top-k in the distributed " +
    "aggregate, row for row as the reference route") {
    import spark.implicits._
    val name = "stk_big"
    IndexCatalog.create(name, 2, "IDMap,Flat")
    IndexCatalog.add(grid(64).toDF("label", "vec"), name)
    val b = IndexCatalog.build(name)
    val k = 64
    val parts = Knn.widen(b.data).rdd.getNumPartitions
    // one entry more than the bound allows, the last one repeating qid 0
    val n = (IndexCatalog.localMergeBound(spark) / (k * parts)).toInt
    val rnd = new java.util.Random(17)
    val qs = ((0 until n).map(i => (i.toLong, Array(rnd.nextFloat() * 10f, rnd.nextFloat() * 7f))) :+
      (0L, Array(1f, 1f))).toDF("qid", "qvec")
    val batch = IndexCatalog.queryBatch(qs, "spec batch")
    assert(batch.length.toLong * k * parts > IndexCatalog.localMergeBound(spark))
    for (pad <- Seq(false, true)) {
      val got = IndexCatalog.search(name, k, qs, Map("pad" -> pad.toString))
      assert(!got.queryExecution.executedPlan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
        s"pad=$pad")
      val want = ReferenceFlatRoute.search(b.data, batch, k, "l2sq", excludeSelf = false, pad)
      assert(got.schema === want.schema, s"pad=$pad")
      assert(rowsOf(got) === rowsOf(want), s"pad=$pad")
    }
    IndexCatalog.destroy(name)
  }

  test("property: the driver merge equals rankResults over the same candidates, the row join " +
    "and the local serve (partitions, empty ones, k, repeated qids, a NaN query, pad, excludeSelf, metrics)") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(cases) { c =>
      val data = c.corpus.toDF("label", "vec").repartition(c.parts)
      val batch = c.batch.toArray
      val merged = rowsOf(Knn.searchFlatFast(data, batch, c.k, c.metric, c.excludeSelf, c.pad))
      val reference = rowsOf(ReferenceFlatRoute.search(data, batch, c.k, c.metric, c.excludeSelf, c.pad))
      val queries = c.batch.toDF("qid", "qvec")
      val rowJoin = rowsOf(Knn.searchFlat(data, queries, c.k, c.metric, c.excludeSelf, c.pad))
      val local = rowsOf(graft.index.ShardReplicaSpec.replicaFlat(data, batch, c.k, c.metric, c.excludeSelf, c.pad))
      (merged == reference) :| s"merge $merged != reference $reference" &&
        (merged == rowJoin) :| s"merge $merged != row join $rowJoin" &&
        (merged == local) :| s"merge $merged != local serve $local"
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(30).withWorkers(1).withInitialSeed(Seed(20261019L)),
      prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }
}

/** The Flat kernel's route as it stood before the driver merge: each
  * partition's candidates from [[Knn.flatCandidates]] ranked by the
  * `vec.topk` aggregate of [[Knn.rankResults]]. */
private object ReferenceFlatRoute {
  def search(data: DataFrame, batch: Array[(Long, Array[Float])], k: Int, metric: String,
      excludeSelf: Boolean, pad: Boolean): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val candidates = Knn.flatCandidates(metric, k, excludeSelf)
    val qids = batch.map(_._1)
    val perShard = Knn.widen(data)
      .select(col("label").cast("long"), vec.vector(col("vec")))
      .queryExecution.toRdd
      .mapPartitions(candidates(_, batch))
      .map { case (qi, d, l) => (qids(qi), l, d) }
    Knn.rankResults(perShard.toDF("qid", "label", "_dist"), k,
      graft.functions.VectorMath.smallerIsCloser(graft.functions.VectorMath.metricId(metric)), pad)
  }
}
