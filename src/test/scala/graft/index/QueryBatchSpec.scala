package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.vec

/**
 * [[IndexCatalog.queryBatch]] reads a local query table in place: it
 * returns the batch (or throws the error) that the bounded collect it
 * replaced returns for the same table — kept below as
 * [[ReferenceQueryBatch]] — and runs no query to do so.
 */
class QueryBatchSpec extends SparkSpec {

  private def local(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val longFloats = StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType))))

  /** the batch, its floats as bits (so that NaN equals NaN), or the
    * error's class and message (without the query context a Spark error
    * appends: the call site that built the cast) */
  private def read(f: => Array[(Long, Array[Float])]): Either[(String, String), Seq[(Long, Seq[Int])]] =
    try Right(f.toSeq.map { case (q, v) => (q, v.toSeq.map(java.lang.Float.floatToIntBits)) })
    catch { case e: Exception => Left((e.getClass.getName, e.getMessage.linesIterator.next())) }

  /** queries the collected plans executed (query-execution callbacks), counted between two drains */
  private def queriesRun(f: => Any): Int = {
    var n = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        n += 1
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        n += 1
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    n
  }

  test("a local query table reads in place as the bounded collect reads it: null qids and vectors, " +
    "a non-long qid, a non-float vector, the cap") {
    val cases: Seq[(String, DataFrame)] = Seq(
      "null qids and vectors" -> local(longFloats,
        Row(0L, Seq(1f, 2f)), Row(null, Seq(3f, 4f)), Row(2L, null), Row(3L, Seq(5f, null)), Row(null, null)),
      "an int qid" -> local(StructType(Seq(StructField("q", IntegerType), StructField("v", ArrayType(FloatType)))),
        Row(7, Seq(1f, 2f)), Row(-1, Seq(0f, -0f))),
      "a string qid" -> local(StructType(Seq(StructField("q", StringType), StructField("v", ArrayType(FloatType)))),
        Row("7", Seq(1f, 2f)), Row(" 12 ", Seq(3f, 4f))),
      "a string qid that is no number" ->
        local(StructType(Seq(StructField("q", StringType), StructField("v", ArrayType(FloatType)))),
          Row("7", Seq(1f, 2f)), Row("x", Seq(3f, 4f))),
      "a double qid" -> local(StructType(Seq(StructField("q", DoubleType), StructField("v", ArrayType(FloatType)))),
        Row(2.9, Seq(1f, 2f))),
      "a double vector" -> local(StructType(Seq(StructField("q", LongType), StructField("v", ArrayType(DoubleType)))),
        Row(1L, Seq(0.1, 1e40)), Row(2L, Seq(Double.NaN, -2.5))),
      "an int vector with a null" ->
        local(StructType(Seq(StructField("q", LongType), StructField("v", ArrayType(IntegerType)))),
          Row(1L, Seq(1, null)), Row(2L, Seq(3, 4))),
      "a string vector" ->
        local(StructType(Seq(StructField("q", LongType), StructField("v", ArrayType(StringType)))),
          Row(1L, Seq("1.5", "2")), Row(2L, Seq("a", "2"))),
      "three rows, one more than the cap" -> local(longFloats,
        Row(0L, Seq(1f, 2f)), Row(1L, Seq(3f, 4f)), Row(2L, Seq(5f, 6f))),
      "two rows and two null rows, at the cap" -> local(longFloats,
        Row(0L, Seq(1f, 2f)), Row(null, Seq(3f, 4f)), Row(1L, null), Row(2L, Seq(5f, 6f))))
    spark.conf.set(IndexCatalog.MaxQueryBatchConf, "2")
    try for ((what, df) <- cases) {
      var inPlace: Either[(String, String), Seq[(Long, Seq[Int])]] = null
      assert(queriesRun { inPlace = read(IndexCatalog.queryBatch(df, "spec batch")) } === 0, what)
      val collected = read(ReferenceQueryBatch(df, "spec batch"))
      assert(inPlace === collected, what)
    } finally spark.conf.unset(IndexCatalog.MaxQueryBatchConf)
  }

  test("a query table that is not local still takes the bounded collect") {
    import spark.implicits._
    val df = Seq((0L, Array(1f, 2f)), (1L, Array(3f, 4f))).toDF("qid", "qvec").repartition(2)
    var got: Seq[(Long, Seq[Float])] = Nil
    assert(queriesRun { got = IndexCatalog.queryBatch(df, "spec batch").toSeq.map(e => (e._1, e._2.toSeq)) } === 1)
    assert(got.sortBy(_._1) === Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 4f))))
  }
}

/** `queryBatch` as it read every frame before the in-place read: the
  * qid cast and vector conversion, null rows dropped, then the bounded
  * collect */
private object ReferenceQueryBatch {
  def apply(queries: DataFrame, what: String): Array[(Long, Array[Float])] =
    IndexCatalog.collectBounded(
      queries
        .select(IndexCatalog.colAt(queries, 0).cast("long").as("qid"), vec.vector(IndexCatalog.colAt(queries, 1)).as("qvec"))
        .where(col("qid").isNotNull && col("qvec").isNotNull),
      what).map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
}
