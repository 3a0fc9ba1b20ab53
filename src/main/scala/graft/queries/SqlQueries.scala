package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexCatalog
import graft.sql.GraftFunctions

/**
 * The reference's SQL scripts ported statement-for-statement: lifecycle
 * through `SELECT faiss_*` calls and per-row `faiss_search[_filter]` in
 * a SELECT list (reference README:71, test/sql/faiss*.test), rewritten
 * by [[graft.sql.FaissSearchRewrite]] into a search node that the
 * index's search answers when the query executes.
 * Flat index + exhaustive scan -> both gate queries are EXACT and share
 * the brute-force oracles with the API-path twins.
 */
object SqlQueries {

  /** Create+add once per (name, dataset); later invocations serve from
    * the existing index — the steady-state shape of a SQL serving
    * deployment (full lifecycle cost is vs_index_build's job). The name
    * is dataset-keyed so a bench warmup at sf0.001 can never leak its
    * corpus into the sf0.1 timed passes. */
  private def prepare(s: SparkSession, dir: String, base: String): String = {
    GraftFunctions.registerAll(s)
    val name = s"${base}_${dir.hashCode.toHexString}"
    Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView("g_sql_corpus")
    if (!IndexCatalog.exists(name)) {
      s.sql(s"SELECT faiss_create('$name', 64, 'IDMap,Flat')").collect()
      s.sql(s"SELECT faiss_add('g_sql_corpus', '$name')").collect()
    }
    name
  }

  private def shaped(res: DataFrame): DataFrame =
    res.select(col("qid"), col("rank"), col("label"),
      Tables.quant4(col("distance")).as("distance"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // README:71 `SELECT id, UNNEST(FAISS_SEARCH('name', 10, data)) FROM queries`
    "vs_sql_search" -> { (s, dir) =>
      val name = prepare(s, dir, "q_sql_gate")
      shaped(s.sql(
        s"""SELECT qid, r.rank AS rank, r.label AS label, r.distance AS distance
           |FROM (SELECT vec_id AS qid, faiss_search('$name', ${VectorQueries.K}, embedding) AS rs
           |      FROM g_sql_corpus WHERE vec_id < 10)
           |LATERAL VIEW explode(rs) t AS r""".stripMargin))
    },
    // per-row range search through SQL (graft extension of the surface;
    // FAISS range_search semantics): variable-length sorted lists,
    // exact -> shares the brute-force radius oracle
    "vs_sql_range" -> { (s, dir) =>
      val name = prepare(s, dir, "q_sql_gate")
      s.sql(
        s"""SELECT qid, r.label AS label, r.distance AS distance
           |FROM (SELECT vec_id AS qid,
           |        faiss_range_search('$name', ${VectorQueries.RADIUS}, embedding) AS rs
           |      FROM g_sql_corpus WHERE vec_id < 10)
           |LATERAL VIEW explode(rs) t AS r""".stripMargin)
        .select(col("qid"), col("label"), Tables.quant4(col("distance")).as("distance"))
    },
    // README:67 FAISS_SEARCH_FILTER(name, k, q, filter, idselector, table)
    "vs_sql_filter" -> { (s, dir) =>
      val name = prepare(s, dir, "q_sql_gate")
      shaped(s.sql(
        s"""SELECT qid, r.rank AS rank, r.label AS label, r.distance AS distance
           |FROM (SELECT vec_id AS qid,
           |        faiss_search_filter('$name', ${VectorQueries.K}, embedding,
           |          'vec_id % 2 = 0', 'vec_id', 'g_sql_corpus') AS rs
           |      FROM g_sql_corpus WHERE vec_id < 10)
           |LATERAL VIEW explode(rs) t AS r""".stripMargin))
    })

  def oracles: Map[String, String] = Map(
    "vs_sql_search" -> VectorQueries.oracles("knn_flat_l2"),
    "vs_sql_filter" -> VectorQueries.oracles("knn_search_filter"),
    "vs_sql_range" -> VectorQueries.oracles("knn_radius"))
}
