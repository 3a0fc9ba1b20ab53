package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Measurement harness (guide §1) for the streaming-parity replay gates:
 * runs named gates once and prints every micro-batch's durationMs
 * breakdown (triggerExecution = total; addBatch = plan+run the batch;
 * queryPlanning / walCommit / commitOffsets / getBatch / latestOffset =
 * the fixed machinery) so the per-batch overhead floor is measured, not
 * guessed. Pure diagnostics — never part of the bench contract.
 *
 * Usage: runMain graft.tools.ParityProfile <sfDir> <q1,q2,...>
 */
object ParityProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Map[String, Long])]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        batches.synchronized {
          batches += ((p.name, p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap))
        }
      }
    })

    names.foreach { name =>
      batches.synchronized(batches.clear())
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // listener events are async; give the bus a moment to drain
      Thread.sleep(1500)
      val snap = batches.synchronized(batches.toSeq)
      println(f"== $name: wall ${wallMs}%.0f ms, $n rows, ${snap.size} micro-batches")
      val keys = Seq("triggerExecution", "queryPlanning", "addBatch", "getBatch",
        "latestOffset", "walCommit", "commitOffsets", "commitBatch")
      snap.sortBy(b => (b._1, b._2)).foreach { case (q, id, rows, d) =>
        val parts = keys.flatMap(k => d.get(k).map(v => f"$k=$v")).mkString(" ")
        println(f"   [$q b$id] rows=$rows $parts")
      }
      val totals = keys.map(k => k -> snap.map(_._4.getOrElse(k, 0L)).sum)
      println("   TOTALS " + totals.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }
}
