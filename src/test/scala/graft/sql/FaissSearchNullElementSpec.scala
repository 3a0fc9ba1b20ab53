package graft.sql

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.index.IndexCatalog

/**
 * A SQL `faiss_search` query vector with a null element equals no vector
 * the search could read: it is left out of the searched batch, so it
 * counts toward neither `maxQueryBatch` nor the distinct vectors, and
 * its rows get an empty list — over a local and a parquet query table.
 */
class FaissSearchNullElementSpec extends SparkSpec {

  private lazy val ready: Unit = {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, Array((i % 7).toFloat, (i / 7).toFloat, (i % 3).toFloat, 1f)))
      .toDF("id", "v").createOrReplaceTempView("fn_corpus")
    // 3 distinct searchable vectors, and two vectors with a null element
    val rows = Seq(
      Row(0L, Seq(2.5f, 1f, 0f, 1f)), Row(1L, Seq(2.5f, 1f, 0f, 1f)), Row(2L, Seq(0f, 3f, 2f, 1f)),
      Row(3L, Seq(null, 3f, 2f, 1f)), Row(4L, Seq(0f, null, null, 1f)), Row(5L, Seq(6f, 5f, 1f, 1f)))
    val schema = StructType(Seq(StructField("qid", LongType), StructField("qv", ArrayType(FloatType))))
    val local = spark.createDataFrame(rows.asJava, schema)
    local.createOrReplaceTempView("fn_q_local")
    val dir = Files.createTempDirectory("graft_fn_q").toString + "/q"
    local.write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("fn_q_parquet")
    for ((name, factory) <- Seq(("fn_hnsw", "IDMap,HNSW8"), ("fn_flat", "IDMap,Flat"))) {
      if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
      spark.sql(s"SELECT faiss_create('$name', 4, '$factory')").collect()
      spark.sql(s"SELECT faiss_add('fn_corpus', '$name')").collect()
    }
  }

  override def afterAll(): Unit = {
    Seq("fn_hnsw", "fn_flat").foreach(n => if (IndexCatalog.exists(n)) IndexCatalog.destroy(n))
    super.afterAll()
  }

  private def answers(call: String, table: String): Seq[(Long, String)] =
    spark.sql(s"SELECT qid, $call AS rs FROM $table").collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).mkString(";")).sortBy(_._1).toSeq

  test("a vector with a null element is not searched: the cap counts only the other distinct " +
    "vectors, and every row answers as without the cap") {
    ready
    for (name <- Seq("fn_hnsw", "fn_flat"); table <- Seq("fn_q_local", "fn_q_parquet");
         call <- Seq(s"faiss_search('$name', 3, qv)",
           s"faiss_search_filter('$name', 3, qv, 'id % 2 = 0', 'id', 'fn_corpus')")) {
      val uncapped = answers(call, table)
      spark.conf.set(IndexCatalog.MaxQueryBatchConf, "3")
      val capped = try answers(call, table) finally spark.conf.unset(IndexCatalog.MaxQueryBatchConf)
      val ctx = s"$call over $table"
      assert(capped === uncapped, ctx)
      val byQid = capped.toMap
      assert(byQid.size === 6, ctx)
      assert(byQid(3L).isEmpty && byQid(4L).isEmpty, ctx)
      assert(Seq(0L, 1L, 2L, 5L).forall(byQid(_).nonEmpty), ctx)
    }
  }
}
