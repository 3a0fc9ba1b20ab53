package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.index.IndexCatalog

/**
 * The reference's SQL scripts, ported statement-for-statement: lifecycle
 * via `SELECT faiss_*`, per-row `faiss_search` in a SELECT list
 * (reference README:71, test/sql/faiss*.test), rewritten by
 * [[FaissSearchRewrite]] into a search node that runs at execution.
 */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val ready: Unit = {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    // 20 points on a line: nearest neighbors of i are i, i±1, i±2 ...
    (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f, 0f, 0f)))
      .toDF("id", "v").createOrReplaceTempView("sql_corpus")
    (0 until 4).map(i => (i.toLong * 5, Array(i * 5f, 0f, 0f, 0f)))
      .toDF("qid", "qv").createOrReplaceTempView("sql_queries")
  }

  private def fresh(name: String): String = {
    if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
    name
  }

  test("lifecycle: create + add + per-row search through pure SQL") {
    ready
    fresh("sqlidx")
    spark.sql("SELECT faiss_create('sqlidx', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx')").collect()
    val rows = spark.sql(
      """SELECT qid, r.rank AS rank, r.label AS label, r.distance AS distance
        |FROM (SELECT qid, faiss_search('sqlidx', 3, qv) AS rs FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length === 12) // 4 queries x k=3
    // rank 0 of each query is the exact corpus point at distance 0
    val best = rows.filter(_._2 == 0).map(r => r._1 -> (r._3, r._4)).toMap
    assert(best === Map(0L -> (0L, 0.0), 5L -> (5L, 0.0), 10L -> (10L, 0.0), 15L -> (15L, 0.0)))
  }

  test("faiss_remove drops ids through SQL and survivors stay exact") {
    ready
    fresh("sqlidx_rm")
    spark.sql("SELECT faiss_create('sqlidx_rm', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_rm')").collect()
    val n = spark.sql(
      "SELECT faiss_remove('SELECT id FROM sql_corpus WHERE id % 2 = 0', 'sqlidx_rm')")
      .collect()(0).getLong(0)
    assert(n === 10L) // ids 0,2,...,18
    val labels = spark.sql(
      """SELECT r.label AS label
        |FROM (SELECT qid, faiss_search('sqlidx_rm', 3, qv) AS rs FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(_.getLong(0))
    assert(labels.nonEmpty)
    labels.foreach(l => assert(l % 2 === 1L, s"removed id $l surfaced via SQL"))
  }

  test("faiss_retrain re-trains from current contents through SQL, search stays exact") {
    ready
    fresh("sqlidx_rt")
    spark.sql("SELECT faiss_create('sqlidx_rt', 4, 'IDMap,IVF4,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_rt')").collect()
    spark.sql("SELECT faiss_retrain('sqlidx_rt')").collect()
    val labels = spark.sql(
      """SELECT r.label AS label
        |FROM (SELECT qid, faiss_search('sqlidx_rt', 1, qv, map('nprobe','4')) AS rs
        |      FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(_.getLong(0))
    assert(labels.nonEmpty) // exhaustive probe: each query's own id comes back
  }

  test("faiss_merge folds src into dst through SQL (source first, like faiss_add)") {
    ready
    fresh("sqlidx_mdst"); fresh("sqlidx_msrc")
    spark.sql("SELECT faiss_create('sqlidx_mdst', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_create('sqlidx_msrc', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('SELECT id, v FROM sql_corpus WHERE id < 10', 'sqlidx_mdst')").collect()
    spark.sql("SELECT faiss_add('SELECT id, v FROM sql_corpus WHERE id >= 10', 'sqlidx_msrc')").collect()
    spark.sql("SELECT faiss_merge('sqlidx_msrc', 'sqlidx_mdst')").collect()
    assert(!graft.index.IndexCatalog.exists("sqlidx_msrc") ||
      graft.index.IndexCatalog.meta("sqlidx_msrc").name == "sqlidx_msrc") // src may survive empty
    val labels = spark.sql(
      """SELECT r.label AS label
        |FROM (SELECT qid, faiss_search('sqlidx_mdst', 20, qv) AS rs FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(labels.exists(_ < 10L) && labels.exists(l => l >= 10L && l < 20L),
      s"merged dst must serve both halves, got $labels")
  }

  test("faiss_compact is a loud no-op-or-fold through SQL") {
    ready
    fresh("sqlidx_cp")
    spark.sql("SELECT faiss_create('sqlidx_cp', 4, 'IDMap,IVF4,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_cp')").collect()
    spark.sql("SELECT faiss_search('sqlidx_cp', 1, array(0.0F,0.0F,0.0F,0.0F))").collect() // build
    spark.sql("SELECT faiss_add('SELECT id + 100, v FROM sql_corpus', 'sqlidx_cp')").collect()
    spark.sql("SELECT faiss_compact('sqlidx_cp')").collect()
    val n = spark.sql(
      """SELECT r.label AS label
        |FROM (SELECT qid, faiss_search('sqlidx_cp', 40, qv, map('nprobe','4')) AS rs
        |      FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin).collect().length
    assert(n > 0)
  }

  test("SQL search equals the catalog API search") {
    ready
    fresh("sqlidx2")
    spark.sql("SELECT faiss_create('sqlidx2', 4, 'IDMap,IVF4,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx2')").collect()
    val viaSql = spark.sql(
      """SELECT qid, r.rank, r.label, r.distance
        |FROM (SELECT qid, faiss_search('sqlidx2', 3, qv, map('nprobe','4')) AS rs
        |      FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    val qdf = spark.table("sql_queries").select(col("qid"), col("qv"))
    val viaApi = IndexCatalog.search("sqlidx2", 3, qdf, Map("nprobe" -> "4"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(viaSql === viaApi)
  }

  test("faiss_search_filter restricts to table rows passing the filter") {
    ready
    fresh("sqlidx3")
    spark.sql("SELECT faiss_create('sqlidx3', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx3')").collect()
    val rows = spark.sql(
      """SELECT qid, r.label
        |FROM (SELECT qid, faiss_search_filter('sqlidx3', 3, qv,
        |        'id % 2 = 0', 'id', 'sql_corpus') AS rs FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % 2 == 0), s"odd label leaked through the filter: ${rows.mkString(",")}")
  }

  test("explode directly around faiss_search (Generate-side rewrite)") {
    ready
    fresh("sqlidx4")
    spark.sql("SELECT faiss_create('sqlidx4', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx4')").collect()
    val n = spark.sql(
      "SELECT explode(faiss_search('sqlidx4', 2, qv)) FROM sql_queries").count()
    assert(n === 8)
  }

  test("duplicate and null query vectors: shared results, empty list for null") {
    ready
    import spark.implicits._
    fresh("sqlidx5")
    spark.sql("SELECT faiss_create('sqlidx5', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx5')").collect()
    Seq((1L, Some(Array(3f, 0f, 0f, 0f))), (2L, Some(Array(3f, 0f, 0f, 0f))),
      (3L, None))
      .toDF("qid", "qv").createOrReplaceTempView("sql_q_dup")
    val rows = spark.sql(
      "SELECT qid, faiss_search('sqlidx5', 2, qv) AS rs FROM sql_q_dup")
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(rows(1L).map(_.getLong(1)) === rows(2L).map(_.getLong(1)))
    assert(rows(1L).map(_.getLong(1)).toSet === Set(3L, 2L)) // 3 exact, then 2 (tie toward smaller label)
    assert(rows(3L).isEmpty, "null query vector must yield an empty result list")
  }

  test("SQL faiss_search honours spark.graft.index.maxQueryBatch (distinct vectors)") {
    ready
    import spark.implicits._
    fresh("sqlidx_cap")
    spark.sql("SELECT faiss_create('sqlidx_cap', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_cap')").collect()
    // 4 rows, 3 distinct query vectors
    Seq((1L, Array(3f, 0f, 0f, 0f)), (2L, Array(3f, 0f, 0f, 0f)),
      (3L, Array(7f, 0f, 0f, 0f)), (4L, Array(11f, 0f, 0f, 0f)))
      .toDF("qid", "qv").createOrReplaceTempView("sql_q_cap")
    val q = "SELECT qid, faiss_search('sqlidx_cap', 2, qv) AS rs FROM sql_q_cap"
    spark.conf.set(IndexCatalog.MaxQueryBatchConf, "2")
    try {
      val e = intercept[IllegalStateException](spark.sql(q).collect())
      assert(e.getMessage.contains("faiss_search query batch exceeds"), e.getMessage)
      assert(e.getMessage.contains(IndexCatalog.MaxQueryBatchConf), e.getMessage)
      // the cap counts distinct vectors, not rows
      spark.conf.set(IndexCatalog.MaxQueryBatchConf, "3")
      assert(spark.sql(q).collect().length === 4)
    } finally spark.conf.unset(IndexCatalog.MaxQueryBatchConf)
  }

  test("one SQL faiss_search plan collects its query batch once") {
    ready
    fresh("sqlidx_once")
    spark.sql("SELECT faiss_create('sqlidx_once', 4, 'IDMap,HNSW8')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_once')").collect()
    val q = "SELECT qid, faiss_search('sqlidx_once', 2, qv) AS rs FROM sql_queries"
    spark.sql(q).collect() // builds the index outside the count
    var collects = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName == "collect") collects += 1
      override def onFailure(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan // planning collects nothing
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(collects === 0)
      // execution takes the batch once: the exec reads the local table's
      // 4 distinct vectors a single time, and the only collect is the
      // statement's own
      df.collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(collects === 1)
      val exec = plan.collectFirst { case e: FaissSearchExec => e }.get
      assert(exec.metrics("distinctVectors").value === 4L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("create_params + named metric_type argument (reference faiss6.test)") {
    ready
    fresh("sqlidx6")
    spark.sql("SELECT faiss_create_params('sqlidx6', 4, 'IDMap,IVF2,Flat', " +
      "map('nprobe','2'), metric_type => 'INNER_PRODUCT')").collect()
    assert(IndexCatalog.meta("sqlidx6").metric === "ip")
    assert(IndexCatalog.meta("sqlidx6").params("nprobe") === "2")
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx6')").collect()
    val top = spark.sql(
      """SELECT r.label FROM (SELECT qid, faiss_search('sqlidx6', 1, qv) AS rs
        |FROM sql_queries WHERE qid = 15) LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(_.getLong(0))
    assert(top === Array(19L), "IP against a positive line must pick the largest point")
  }

  test("save/load/destroy round-trip through SQL") {
    ready
    fresh("sqlidx7")
    spark.sql("SELECT faiss_create('sqlidx7', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx7')").collect()
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_sql_saveload").getAbsolutePath
    spark.sql(s"SELECT faiss_save('sqlidx7', '$path')").collect()
    spark.sql("SELECT faiss_destroy('sqlidx7')").collect()
    assert(!IndexCatalog.exists("sqlidx7"))
    spark.sql(s"SELECT faiss_load('sqlidx7', '$path')").collect()
    val n = spark.sql(
      "SELECT explode(faiss_search('sqlidx7', 2, qv)) FROM sql_queries").count()
    assert(n === 8)
  }

  test("faiss_add accepts an inline subquery as the TABLE argument (faiss_add_ids_with_train)") {
    ready
    fresh("sqlidx_inline")
    spark.sql("SELECT faiss_create('sqlidx_inline', 2, 'IDMap,IVF1,Flat')").collect()
    spark.sql("SELECT faiss_add('SELECT id, vector FROM (VALUES (231, array(0.0040321066, 0.023423655))) AS tb(id, vector)', 'sqlidx_inline')").collect()
    val rows = spark.sql(
      """SELECT r.label FROM (SELECT faiss_search('sqlidx_inline', 1,
        |array(0.004, 0.023)) AS rs) LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(_.getLong(0))
    assert(rows === Array(231L))
    IndexCatalog.destroy("sqlidx_inline")
  }

  test("faiss_stats table function reports build diagnostics") {
    ready
    fresh("sqlidx_stats")
    spark.sql("SELECT faiss_create('sqlidx_stats', 4, 'IDMap,IVF2,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_stats')").collect()
    val r = spark.sql("SELECT * FROM faiss_stats('sqlidx_stats')").collect()
    assert(r.length === 1)
    assert(r(0).getLong(r(0).fieldIndex("ntotal")) === 20L)
    IndexCatalog.destroy("sqlidx_stats")
  }

  test("faiss_list table function reports the catalog snapshot") {
    ready
    fresh("sqlidx_list")
    spark.sql("SELECT faiss_create('sqlidx_list', 4, 'IDMap,IVF2,Flat', 'ip')").collect()
    val rows = spark.sql("SELECT * FROM faiss_list() WHERE name = 'sqlidx_list'").collect()
    assert(rows.length === 1)
    assert(rows(0).getInt(1) === 4)
    assert(rows(0).getString(2) === "IDMap,IVF2,Flat")
    assert(rows(0).getString(3) === "ip")
    IndexCatalog.destroy("sqlidx_list")
  }

  test("extensions path: session built with GraftExtensions rewrites at resolution") {
    ready
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = graft.GraftSession.builder(4)
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      assert(s2 ne base)
      import s2.implicits._
      (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0f, 0f, 0f)))
        .toDF("id", "v").createOrReplaceTempView("sql_corpus_ext")
      (0 until 3).map(i => (i.toLong * 7, Array(i * 7f, 0f, 0f, 0f)))
        .toDF("qid", "qv").createOrReplaceTempView("sql_queries_ext")
      fresh("sqlidx_ext")
      s2.sql("SELECT faiss_create('sqlidx_ext', 4, 'IDMap,Flat')").collect()
      s2.sql("SELECT faiss_add('sql_corpus_ext', 'sqlidx_ext')").collect()
      // no post-hoc hook on this session: the resolution rule did the work
      assert(s2.experimental.extraOptimizations.isEmpty)
      val rows = s2.sql(
        """SELECT qid, r.label FROM (SELECT qid, faiss_search('sqlidx_ext', 1, qv) AS rs
          |FROM sql_queries_ext) LATERAL VIEW explode(rs) t AS r""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows === Map(0L -> 0L, 7L -> 7L, 14L -> 14L))
      IndexCatalog.destroy("sqlidx_ext")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("faiss_range_search returns all within-radius hits, sorted, variable length") {
    ready
    fresh("sqlidx_range")
    spark.sql("SELECT faiss_create('sqlidx_range', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_range')").collect()
    // corpus = integer points on a line; radius 4.5 around qid-th point
    // catches exactly the points within |d| <= 2 (L2sq <= 4)
    val rows = spark.sql(
      """SELECT qid, r.label, r.distance
        |FROM (SELECT qid, faiss_range_search('sqlidx_range', 4.5, qv) AS rs
        |      FROM sql_queries)
        |LATERAL VIEW explode(rs) t AS r""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.forall(_._3 < 4.5))
    val byQ = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byQ(5L) === Set(3L, 4L, 5L, 6L, 7L))
    assert(byQ(0L) === Set(0L, 1L, 2L)) // boundary: only 2 neighbors exist rightward
    // sorted best-first per row list
    val lists = spark.sql(
      "SELECT faiss_range_search('sqlidx_range', 4.5, qv) AS rs FROM sql_queries")
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getDouble(0)))
    assert(lists.forall(l => l == l.sorted))
    IndexCatalog.destroy("sqlidx_range")
  }

  test("user-written empty-result filters still execute (not stripped as vacuous)") {
    ready
    import spark.implicits._
    fresh("sqlidx_guard")
    spark.sql("SELECT faiss_create('sqlidx_guard', 4, 'IDMap,Flat')").collect()
    spark.sql("SELECT faiss_add('sql_corpus', 'sqlidx_guard')").collect()
    Seq((1L, Some(Array(3f, 0f, 0f, 0f))), (2L, None))
      .toDF("qid", "qv").createOrReplaceTempView("sql_q_guard")
    // the call appears ONLY in the WHERE clause: null-vector rows have
    // empty result lists and must be dropped by the user's own guard
    val kept = spark.sql(
      "SELECT qid FROM sql_q_guard WHERE size(faiss_search('sqlidx_guard', 2, qv)) > 0")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L), s"null-vector row must fail the guard, got $kept")
    IndexCatalog.destroy("sqlidx_guard")
  }

  test("errors surface like the reference: duplicate create, unknown metric, move_gpu") {
    ready
    fresh("sqlidx8")
    spark.sql("SELECT faiss_create('sqlidx8', 4, 'Flat')").collect()
    // analysis may wrap the builder's exception — search the cause chain
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("; ")
    val dup = intercept[Exception](
      spark.sql("SELECT faiss_create('sqlidx8', 4, 'Flat')").collect())
    assert(messages(dup).contains("already exists"))
    val met = intercept[Exception](
      spark.sql("SELECT faiss_create('sqlidx8b', 4, 'Flat', 'nonexistant')").collect())
    assert(messages(met).toLowerCase.contains("metric"))
    val gpu = intercept[Exception](
      spark.sql("SELECT faiss_move_gpu('sqlidx8')").collect())
    assert(messages(gpu).contains("no Spark-CPU analog"))
    // the reference's own registered spelling (faiss_extension.cpp:1044)
    val gpu2 = intercept[Exception](
      spark.sql("SELECT faiss_to_gpu('sqlidx8', 0)").collect())
    assert(messages(gpu2).contains("no Spark-CPU analog"))
    IndexCatalog.destroy("sqlidx8")
  }
}
