package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec
import graft.index.IndexCatalog

/**
 * SQL `faiss_search` is a planned operator: analysis, planning and
 * `EXPLAIN` run no job, whatever the index kind and wherever the query
 * table lives, and the search runs in [[FaissSearchExec]] at execution,
 * which reports what it did as SQLMetrics.
 */
class FaissSearchExecSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val indexes = Seq(("fx_flat", "IDMap,Flat"), ("fx_ivf", "IDMap,IVF4,Flat"), ("fx_hnsw", "IDMap,HNSW8"))

  /** 6 query rows, 3 distinct non-null vectors: a duplicate, 0.0 beside -0.0 and a null */
  private lazy val ready: Unit = {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, Array((i % 7).toFloat, (i / 7).toFloat, (i % 3).toFloat, 1f)))
      .toDF("id", "v").createOrReplaceTempView("fx_corpus")
    val local = Seq(
      (0L, Array(2.5f, 1f, 0f, 1f)), (1L, Array(2.5f, 1f, 0f, 1f)),
      (2L, Array(0f, 3f, 2f, 1f)), (3L, Array(-0f, 3f, 2f, 1f)),
      (4L, null.asInstanceOf[Array[Float]]), (5L, Array(6f, 5f, 1f, 1f))).toDF("qid", "qv")
    local.createOrReplaceTempView("fx_q_local")
    val dir = Files.createTempDirectory("graft_fx_q").toString + "/q"
    local.write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("fx_q_parquet")
    for ((name, factory) <- indexes) {
      if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
      spark.sql(s"SELECT faiss_create('$name', 4, '$factory')").collect()
      spark.sql(s"SELECT faiss_add('fx_corpus', '$name')").collect()
      IndexCatalog.search(name, 3, local).collect() // builds outside the counts
    }
  }

  override def afterAll(): Unit = {
    indexes.foreach { case (n, _) => if (IndexCatalog.exists(n)) IndexCatalog.destroy(n) }
    super.afterAll()
  }

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

  private def execOf(df: DataFrame): FaissSearchExec =
    collect(df.queryExecution.executedPlan) { case e: FaissSearchExec => e }.head

  test("EXPLAIN, explain(true) and planning run no job: Flat, IVF and HNSW, local and parquet queries") {
    ready
    for ((name, _) <- indexes; table <- Seq("fx_q_local", "fx_q_parquet");
         call <- Seq(s"faiss_search('$name', 3, qv)",
           s"faiss_search_filter('$name', 3, qv, 'id % 2 = 0', 'id', 'fx_corpus')",
           s"faiss_range_search('$name', 2.0, qv)")) {
      val q = s"SELECT qid, $call AS rs FROM $table"
      assert(jobs(spark.sql(s"EXPLAIN $q").collect()) === 0, s"EXPLAIN $q")
      assert(jobs(Console.withOut(new java.io.ByteArrayOutputStream)(spark.sql(q).explain(true))) === 0,
        s"explain(true) $q")
      val df = spark.sql(q)
      assert(jobs(df.queryExecution.executedPlan) === 0, s"executedPlan $q")
      // the search runs here (on a replica-served index with no job)
      val before = IndexCatalog.searchesPlanned.get()
      df.collect()
      assert(IndexCatalog.searchesPlanned.get() - before === 1L, s"collect $q")
    }
  }

  test("FaissSearchExec reports query rows, distinct vectors, result rows, search time and its join route") {
    ready
    for ((table, driver) <- Seq(("fx_q_local", true), ("fx_q_parquet", false))) {
      val df = spark.sql(s"SELECT qid, faiss_search('fx_hnsw', 3, qv) AS rs FROM $table")
      assert(df.collect().length === 6, table)
      val m = execOf(df).metrics
      assert(m("queryRows").value === 6L, table)
      assert(m("distinctVectors").value === 3L, table)
      assert(m("resultRows").value === 9L, table) // 3 vectors × k, padded
      assert(m("searchTime").value >= 0L, table)
      assert(m("driverJoins").value === (if (driver) 1L else 0L), table)
      assert(m("broadcastJoins").value === (if (driver) 0L else 1L), table)
    }
    // two calls over one local table: each searches once, both on the driver route
    val two = spark.sql(
      "SELECT qid, faiss_search('fx_hnsw', 3, qv) AS a, faiss_search('fx_flat', 3, qv) AS b FROM fx_q_local")
    val before = IndexCatalog.searchesPlanned.get()
    assert(two.collect().length === 6)
    assert(IndexCatalog.searchesPlanned.get() - before === 2L)
    val execs = collect(two.queryExecution.executedPlan) { case e: FaissSearchExec => e }
    assert(execs.map(_.metrics("driverJoins").value) === Seq(1L, 1L))
  }
}
