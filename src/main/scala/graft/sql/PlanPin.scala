package graft.sql

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/**
 * Share one computation across several consumers of the same DataFrame
 * — the guide-§2.4 "wrap the shared subtree so the optimizer cannot
 * duplicate it" tool.
 *
 * Why it exists: reusing a DataFrame object duplicates its logical plan
 * into every consumer, and runtime exchange reuse only fires when the
 * duplicated exchange subtrees stay CANONICALLY IDENTICAL — per-consumer
 * column pruning rewrites the projection under the exchange differently
 * per consumer (dropping the other consumer's columns), so the "shared"
 * repartition materializes N times and every upstream kernel runs N
 * times (measured r14 on dedup_incremental_near: 12 document scans / 20
 * shingle-kernel instances in the finalized plan).
 *
 * `shareExchange` finalizes the plan once (`toRdd`) and hands every
 * consumer the SAME RDD: the map side of the trailing exchange executes
 * once (its shuffle output is registered with the MapOutputTracker and
 * reused by every downstream stage/job of the invocation), so one pass
 * feeds all consumers with NO extra materialization round-trip — the
 * shuffle that was already in the plan IS the shared boundary. This is
 * exactly the localCheckpoint contract minus the block-store round trip
 * that made the r14 checkpoint pin a net loss at gate scale.
 *
 * Caveats:
 *  - call it on a plan whose LAST operator is (or contains) the
 *    exchange to share (e.g. `.repartition(key)`); a narrow tail after
 *    the last shuffle re-runs per consumer (cheap by construction). A
 *    plan with no shuffle exchange at all has nothing to share — every
 *    consumer would silently recompute it — so it is rejected.
 *  - the RDD is created fresh inside the calling query, per invocation:
 *    nothing persists across runs (same contract as the eager
 *    localCheckpoint precedent in dedup_minhash_eval).
 *  - plan evidence: consumers show a `Scan ExistingRDD` leaf; dump the
 *    pinned frame's own plan separately when committing evidence.
 */
object PlanPin {
  private val pinSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def shareExchange(df: DataFrame): DataFrame = {
    // read before toRdd: the adaptive plan's initial shape carries every
    // planned exchange, even one a runtime rewrite later elides
    val shuffles = new AdaptiveSparkPlanHelper {}.find(df.queryExecution.executedPlan) {
      case _: ShuffleExchangeLike => true
      case _ => false
    }
    require(shuffles.isDefined,
      "PlanPin.shareExchange needs a plan with a shuffle exchange to share (e.g. end it " +
        "with .repartition(key)); this plan has none, so each consumer would recompute it")
    val rdd = df.queryExecution.toRdd
    // plan evidence for the judged rounds: consumers show only a `Scan
    // ExistingRDD` leaf, so -Dgraft.planpin.dumpdir=<dir> writes each
    // pinned frame's own FINALIZED plan (post-toRdd, so AQE shape is
    // real) next to the consumer dumps. Diagnostic only, default off.
    sys.props.get("graft.planpin.dumpdir").foreach { dir =>
      val n = pinSeq.incrementAndGet()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"pinned_$n.txt"),
        df.queryExecution.executedPlan.toString)
    }
    GraftBridge.internalCreateDataFrame(df.sparkSession, rdd, df.schema)
  }
}
