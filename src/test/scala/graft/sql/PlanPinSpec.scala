package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PlanPinSpec extends SparkSpec {

  test("shareExchange rejects a plan with no shuffle exchange to share") {
    val narrow = spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")).where(col("v") > 10)
    val e = intercept[IllegalArgumentException](PlanPin.shareExchange(narrow))
    assert(e.getMessage.contains("shuffle exchange"), e.getMessage)
  }

  test("shareExchange over a repartition(col) plan feeds every consumer the same rows") {
    val src = spark.range(0, 200).select(col("id"), (col("id") % 7).as("g"))
    val pinned = PlanPin.shareExchange(src.repartition(col("g")))
    // consumers read the pinned RDD, not a re-planned copy of the source
    assert(pinned.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
    assert(pinned.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 200L))
    val perGroup = pinned.groupBy("g").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perGroup === (0L until 200L).groupBy(_ % 7).view.mapValues(_.size.toLong).toMap)
  }
}
