package graft

import org.apache.spark.sql.SparkSession

/**
 * The suite's session settings, in one place: `Bench`, `Verify`, the
 * tools under `graft.tools` and the test fixture all start from
 * `builder(cpus)`, so a number any of them reports was measured under
 * the same configuration.
 */
object GraftSession {
  /** local cores: `SPARK_GRAFT_CPUS`, else every processor of the host */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  def cpusFrom(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))
  }

  /** `(key, value)` pairs every suite session carries */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // TypedImperativeAggregates (top-k heaps, sketches) fall back to
    // SORT-based aggregation past 128 distinct keys by default — at the
    // 100x rung that sorted 1.6e9 candidate rows to disk (70 GB spill).
    // 2M heap objects per partition is still only ~200 MB.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2097152",
    // the whole-stage-codegen compile cache defaults to 100 entries;
    // this suite carries 251 distinct query plans (~6 codegen units
    // each), so at the default every pass Janino-recompiles nearly
    // every stage — measured r14 on a 60-query slice at sf0.1/32:
    // 46.0 s -> 31.9 s (-31%) from sizing the cache to the workload.
    // Generated classes are KB-scale (metaspace), so 4096 entries is
    // a few hundred MB at worst; any long-lived production session
    // running a mixed workload wants the same sizing (static conf,
    // driver + executors).
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    settings(cpus).foreach { case (k, v) => b.config(k, v) }
    b
  }
}
