package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSpec
import graft.index.IndexCatalog

/**
 * SQL `faiss_search` over a query table already in driver memory (a
 * LocalRelation: its distinct vectors are taken on the driver) must
 * answer exactly as over the same rows read back from parquet (the
 * distinct job), whatever the index's result plan: duplicate vectors,
 * 0.0 beside -0.0, two NaN payloads and a null vector included.
 */
class FaissSqlLocalSpec extends SparkSpec {

  private val nan2 = java.lang.Float.intBitsToFloat(0x7fc00001)

  /** 8 rows, 4 distinct non-null vectors once -0.0 is 0.0 and every NaN one value */
  private lazy val ready: Unit = {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, Array((i % 7).toFloat, (i / 7).toFloat, (i % 3).toFloat, 1f)))
      .toDF("id", "v").createOrReplaceTempView("fl_corpus")
    val local = Seq(
      (0L, Array(2.5f, 1f, 0f, 1f)), (1L, Array(2.5f, 1f, 0f, 1f)),
      (2L, Array(0f, 3f, 2f, 1f)), (3L, Array(-0f, 3f, 2f, 1f)),
      (4L, Array(Float.NaN, 1f, 1f, 1f)), (5L, Array(nan2, 1f, 1f, 1f)),
      (6L, null.asInstanceOf[Array[Float]]), (7L, Array(6f, 5f, 1f, 1f))).toDF("qid", "qv")
    local.createOrReplaceTempView("fl_q_local")
    val dir = Files.createTempDirectory("graft_fl_q").toString + "/q"
    local.write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("fl_q_parquet")
    for ((name, factory) <- Seq(("fl_hnsw", "IDMap,HNSW8"), ("fl_flat", "IDMap,Flat"))) {
      if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
      spark.sql(s"SELECT faiss_create('$name', 4, '$factory')").collect()
      spark.sql(s"SELECT faiss_add('fl_corpus', '$name')").collect()
    }
  }

  override def afterAll(): Unit = {
    Seq("fl_hnsw", "fl_flat").foreach(n => if (IndexCatalog.exists(n)) IndexCatalog.destroy(n))
    super.afterAll()
  }

  private def answers(call: String, table: String): Seq[(Long, String)] =
    spark.sql(s"SELECT qid, $call AS rs FROM $table").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).mkString(";")).sortBy(_._1).toSeq

  test("faiss_search over a local query table equals the same table read from parquet") {
    ready
    assert(spark.table("fl_q_local").queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!spark.table("fl_q_parquet").queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    for (name <- Seq("fl_hnsw", "fl_flat");
         call <- Seq(s"faiss_search('$name', 3, qv)", s"faiss_search('$name', 3, qv, map('pad', 'false'))",
           s"faiss_search_filter('$name', 3, qv, 'id % 2 = 0', 'id', 'fl_corpus')",
           s"faiss_range_search('$name', 2.0, qv)")) {
      val local = answers(call, "fl_q_local")
      assert(local === answers(call, "fl_q_parquet"), call)
      // duplicates and null vectors are SqlSurfaceSpec's; -0.0 and NaN grouping only here
      val byQid = local.toMap
      assert(byQid.size === 8, call)
      assert(byQid(2L).nonEmpty && byQid(2L) === byQid(3L), call) // -0.0 is 0.0
      // every NaN is one vector (under pad, its list is k rows of label -1)
      assert(byQid(4L) === byQid(5L), call)
    }
  }
}
