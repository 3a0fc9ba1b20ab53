package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/**
 * Dump `.explain("formatted")` for named queries to files — the
 * committed plan evidence for optimization rounds (plans/rN directory).
 *
 * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>
 * Writes <outDir>/<query>_<suffix>.txt. The plan is captured AFTER one
 * executed run (df.count()) so AQE's final shape is also visible in the
 * executedPlan section appended below the formatted explain.
 */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    // ADVICE r14: fail with usage, not an opaque MatchError / NSEE
    if (args.length < 4) {
      System.err.println("usage: PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val unknown = names.split(",").map(_.trim).filter(_.nonEmpty)
      .filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // execute THIS df's own QueryExecution so its AdaptiveSparkPlan
      // finalizes (df.count()/noop-write plan a SEPARATE execution and
      // leave this one isFinalPlan=false); toRdd.count() drives the
      // adaptive stages without collecting rows to the driver
      df.queryExecution.toRdd.count()
      val executed = df.queryExecution.executedPlan.toString
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        s"=== explain formatted ===\n$formatted\n=== executed (post-AQE) ===\n$executed\n")
      System.err.println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
