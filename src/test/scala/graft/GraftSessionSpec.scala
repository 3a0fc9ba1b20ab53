package graft

class GraftSessionSpec extends SparkSpec {

  test("the builder carries exactly the six settings graftbench declares") {
    val declared = Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2097152",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.settings(4) == declared)
    // the shared test session is built from GraftSession.builder(4)
    declared.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k)).contains(v), k)
    }
  }

  test("SPARK_GRAFT_CPUS must be an integer >= 1; unset means every processor") {
    Seq("0", "-2", "four").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.cpusFrom(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
    assert(GraftSession.cpusFrom(Some("8")) == 8)
    assert(GraftSession.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
  }
}
