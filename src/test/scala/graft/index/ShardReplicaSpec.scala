package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.index.IndexCatalog.{FlatBuilt, HnswBuilt}
import graft.search.Knn

/**
 * Driver replicas of small HNSW and Flat indexes ([[ShardReplica]]): a
 * replica-served search returns, row for row, what the same index
 * returns through its one-job route; the budget admits by a pure rule,
 * and every write that drops a built index returns its replica's bytes.
 */
class ShardReplicaSpec extends SparkSpec {
  import ShardReplicaSpec._

  override def afterAll(): Unit = {
    IndexCatalog.list().map(_.name).filter(_.startsWith("sr_")).foreach(IndexCatalog.destroy)
    super.afterAll()
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def grid(n: Int, from: Int = 0): Seq[(Long, Array[Float])] =
    (from until from + n).map(i => (i.toLong, Array((i % 10).toFloat, (i / 10).toFloat)))

  /** the jobs `f` runs, counted by a listener between two drains of the bus */
  private def jobs(f: => Any): Int = {
    var n = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = n += 1
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n
  }

  test("the admission rule holds a replica exactly when its estimate fits the free budget") {
    assert(ShardReplica.admits(0L, 0L))
    assert(ShardReplica.admits(100L, 100L))
    assert(!ShardReplica.admits(101L, 100L))
    assert(!ShardReplica.admits(1L, 0L))
    assert(!ShardReplica.admits(0L, -1L)) // an over-full budget admits nothing
    assert(ShardReplica.admits(Long.MaxValue, Long.MaxValue))
    // 1/8 of the driver heap, capped by spark.driver.maxResultSize (1g here)
    val b = ShardReplica.budget(spark.sparkContext)
    assert(b === math.min(Runtime.getRuntime.maxMemory / 8, 1L << 30))
  }

  test("destroy, a rebuilding add and remove return an index's replica bytes to the budget") {
    import spark.implicits._
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f))).toDF("qid", "qvec")
    for (factory <- Seq("IDMap,HNSW8", "IDMap,Flat")) {
      val name = "sr_bytes"
      val base = IndexCatalog.replicaBytes
      IndexCatalog.create(name, 2, factory)
      IndexCatalog.add(grid(100).toDF("label", "vec"), name)
      IndexCatalog.search(name, 3, qs).collect()
      val first = IndexCatalog.replicaBytes - base
      assert(first > 0L, factory)
      IndexCatalog.add(grid(50, from = 100).toDF("label", "vec"), name) // drops the built index
      assert(IndexCatalog.replicaBytes === base, factory)
      IndexCatalog.search(name, 3, qs).collect()
      assert(IndexCatalog.replicaBytes - base > first, factory) // the rebuilt index holds more rows
      assert(IndexCatalog.remove(name, Seq(1L, 2L).toDF("id")) === 2L)
      assert(IndexCatalog.replicaBytes === base, factory)
      IndexCatalog.search(name, 3, qs).collect()
      assert(IndexCatalog.replicaBytes > base, factory)
      IndexCatalog.destroy(name)
      assert(IndexCatalog.replicaBytes === base, factory)
    }
  }

  test("an index the budget refuses serves through one job, with the rows of a replica-served twin") {
    import spark.implicits._
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f)), (1L, Array(2f, 2f))).toDF("qid", "qvec")
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(grid(100), 4)).toDF("label", "vec")
    for (factory <- Seq("IDMap,HNSW8", "IDMap,Flat")) {
      for (name <- Seq("sr_refused", "sr_admitted")) {
        IndexCatalog.create(name, 2, factory)
        IndexCatalog.add(rows, name)
        IndexCatalog.build(name)
      }
      val base = IndexCatalog.replicaBytes
      val (refused, n) = withBudgetFull(spark) {
        (rowsOf(IndexCatalog.search("sr_refused", 4, qs)), jobs(IndexCatalog.search("sr_refused", 4, qs)))
      }
      assert(IndexCatalog.replicaBytes === base, factory)
      assert(n === 1, factory)
      assert(refused === rowsOf(IndexCatalog.search("sr_admitted", 4, qs)), factory)
      assert(IndexCatalog.replicaBytes > base, factory)
      assert(jobs(IndexCatalog.search("sr_admitted", 4, qs)) === 0, factory)
      Seq("sr_refused", "sr_admitted").foreach(IndexCatalog.destroy)
    }
  }

  test("a restriction that does not fold on the driver (a semi-join, a nondeterministic predicate) " +
    "takes the job route") {
    import spark.implicits._
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f))).toDF("qid", "qvec")
    for (factory <- Seq("IDMap,HNSW8", "IDMap,Flat")) {
      val name = "sr_nofold"
      IndexCatalog.create(name, 2, factory)
      IndexCatalog.add(grid(100).toDF("label", "vec"), name)
      IndexCatalog.search(name, 3, qs).collect() // takes the replica
      val ids = (0L until 100L by 3).toDF("id")
      assert(jobs(IndexCatalog.searchFilterSet(name, 3, qs, ids).collect()) > 0, factory)
      assert(jobs(IndexCatalog.searchFilter(name, 3, qs, rand(7) < 2.0).collect()) > 0, factory)
      assert(jobs(IndexCatalog.searchFilter(name, 3, qs, col("label") % 3 === 0).collect()) === 0, factory)
      IndexCatalog.destroy(name)
    }
  }

  /** one random corpus and batch, searched through both routes */
  private case class Case(
      corpus: Seq[(Long, Array[Float])], parts: Int, batch: Seq[(Long, Array[Float])],
      k: Int, metric: String, pad: Boolean) {
    override def toString: String =
      s"Case(n=${corpus.size}, parts=$parts, k=$k, $metric, pad=$pad, " +
        s"batch=${batch.map { case (q, v) => s"$q:${v.mkString("[", ",", "]")}" }.mkString(" ")})"
  }

  // 3-d values on a 1/2 grid, so that distances tie and the label order decides
  private val vector: Gen[Array[Float]] = Gen.listOfN(3, Gen.choose(-4, 4).map(_ / 2f)).map(_.toArray)

  private val cases: Gen[Case] = for {
    n <- Gen.choose(4, 40)
    vs <- Gen.listOfN(n, vector)
    // duplicate vectors: some rows copy an earlier row's vector
    copies <- Gen.listOfN(n, Gen.frequency(4 -> Gen.const(-1), 1 -> Gen.choose(0, n - 1)))
    unique = vs.indices.map(i => (i.toLong, if (copies(i) >= 0 && copies(i) < i) vs(copies(i)) else vs(i)))
    // labels that appear again, with other vectors, at the end of the rows (the last shard)
    again <- Gen.choose(1, 4)
    extra <- Gen.listOfN(again, Gen.zip(Gen.choose(0L, n - 1L), vector))
    parts <- Gen.choose(2, 4)
    entries <- Gen.choose(1, 5)
    // qids 0..3 repeat across entries; one entry in six is a NaN query
    batch <- Gen.listOfN(entries, Gen.zip(Gen.choose(0L, 3L),
      Gen.frequency(5 -> vector, 1 -> vector.map(_.updated(1, Float.NaN)))))
    k <- Gen.choose(1, 12)
    metric <- Gen.oneOf("l2sq", "ip", "cosine")
    pad <- Gen.oneOf(false, true)
  } yield Case(unique ++ extra, parts, batch, k, metric, pad)

  test("property: the replica route equals the job route row for row (HNSW search, HNSW narrow " +
    "searchFilter, Flat search; duplicate vectors, a label on two shards under a vec predicate, " +
    "repeated qids, a NaN query, pad, metrics)") {
    import spark.implicits._
    // references the vector, so one label's rows on two shards can differ
    val filter: Column = element_at(col("vec"), 1) >= 0f || col("label") % 2 === 0
    val prop = Prop.forAllNoShrink(cases) { c =>
      val rows = spark.createDataFrame(spark.sparkContext.parallelize(c.corpus, c.parts)).toDF("label", "vec")
      val qs = c.batch.toDF("qid", "qvec")
      val params = Map("pad" -> c.pad.toString, "efSearch" -> "16")
      val (hnsw, flat) = ("sr_prop_hnsw", "sr_prop_flat")
      IndexCatalog.create(hnsw, 3, "IDMap,HNSW4", c.metric, Map("efConstruction" -> "16"))
      IndexCatalog.create(flat, 3, "IDMap,Flat", c.metric)
      Seq(hnsw, flat).foreach(IndexCatalog.add(rows, _))
      def searches(): Seq[Seq[String]] = Seq(
        rowsOf(IndexCatalog.search(hnsw, c.k, qs, params)),
        rowsOf(IndexCatalog.searchFilter(hnsw, c.k, qs, filter, params)),
        rowsOf(IndexCatalog.search(flat, c.k, qs, params)),
        rowsOf(IndexCatalog.searchFilter(flat, c.k, qs, filter, params)))
      val h = IndexCatalog.build(hnsw).asInstanceOf[HnswBuilt]
      val f = IndexCatalog.build(flat).asInstanceOf[FlatBuilt]
      try {
        val local = searches()
        val held = h.replica.get.isDefined && f.replica.get.isDefined
        h.replica.close()
        f.replica.close()
        val job = searches()
        val names = Seq("HNSW search", "HNSW searchFilter", "Flat search", "Flat searchFilter")
        held :| "no replica held" && Prop.all(names.indices.map(i =>
          (local(i) == job(i)) :| s"${names(i)}: replica ${local(i)} != job route ${job(i)}"): _*)
      } finally Seq(hnsw, flat).foreach(IndexCatalog.destroy)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withWorkers(1).withInitialSeed(Seed(20261021L)),
      prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }
}

object ShardReplicaSpec {

  /** `data`'s Flat kernel search, served in-process over a driver replica of its shards */
  def replicaFlat(data: DataFrame, batch: Array[(Long, Array[Float])], k: Int, metric: String,
      excludeSelf: Boolean, pad: Boolean): DataFrame =
    Knn.flatTopK(data.sparkSession, Knn.flatShards(data), Some(ShardReplica.ofFlat(data).shards), batch, k,
      metric, excludeSelf, pad)

  /** runs `f` with the replica budget full, so that an index taking its
    * replica in `f` is refused it */
  def withBudgetFull[T](spark: SparkSession)(f: => T): T = {
    val sc = spark.sparkContext
    val hog = new ShardReplica.Slot[Int](sc, ShardReplica.budget(sc) - IndexCatalog.replicaBytes,
      new ShardReplica(Array.empty[Array[Int]], LocalRelation()))
    assert(hog.get.isDefined)
    try f finally hog.close()
  }
}
