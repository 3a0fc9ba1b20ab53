package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/**
 * State-store scale rung (VERDICT r11 #4): the parity gates pin
 * streaming SEMANTICS at small key counts; this tool measures state
 * BEHAVIOR at serving cardinality — ~1e7 distinct keys through the
 * stateful operators a pipeline actually runs long-lived (windowed
 * agg, session windows, custom FMGWS state), recording state rows,
 * state memory, throughput, and per-batch wall as the store fills.
 *
 * Source: the `rate` source (deterministic monotone timestamps, no
 * disk), key = value % keys so every batch touches a uniform slice of
 * the key space — the adversarial shape for an in-memory store (no
 * locality, every key eventually resident).
 *
 * Usage:
 *   SPARK_GRAFT_SS_KEYS=10000000 SPARK_GRAFT_SS_ROWS_PER_SEC=2000000 \
 *   SPARK_GRAFT_SS_SECONDS=60 SPARK_GRAFT_SS_PROVIDER=rocksdb \
 *   sbt "runMain graft.tools.StreamStateProfile"
 * Emits one JSON line per (op, batch) plus a final summary line per op.
 */
object StreamStateProfile {
  def main(args: Array[String]): Unit = {
    val cpus = graft.GraftSession.cpus
    val keys = sys.env.getOrElse("SPARK_GRAFT_SS_KEYS", "10000000").toLong
    val rps = sys.env.getOrElse("SPARK_GRAFT_SS_ROWS_PER_SEC", "2000000").toLong
    val secs = sys.env.getOrElse("SPARK_GRAFT_SS_SECONDS", "60").toInt
    val provider = sys.env.getOrElse("SPARK_GRAFT_SS_PROVIDER", "hdfs")
    val opsFilter = sys.env.get("SPARK_GRAFT_SS_ONLY").map(_.split(",").toSet)
    // sharding knob (§25.7 follow-up): state partitions independent of
    // cores — more partitions = fewer keys per RocksDB instance at the
    // same total state, the "per-executor key width" lever the 1e8
    // working-set attribution named
    val partitions = sys.env.getOrElse("SPARK_GRAFT_SS_PARTITIONS", cpus.toString)
    val builder = graft.GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", partitions)
    // RocksDB state store: the disk-backed provider for key counts the
    // executor heap can't hold (ships with Spark 4, no extra deps).
    // HDFSBacked (default) keeps every key's state in the JVM heap —
    // fine to ~1e7 small values, the wall past that.
    val tuned = sys.env.get("SPARK_GRAFT_SS_TUNED").contains("1")
    if (provider == "rocksdb") {
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // tuned profile (VERDICT r12 #2): the untuned r12 run paid the
      // session-window cliff (1.83 -> 0.43 M rows/s vs HDFSBacked).
      // Changelog checkpointing is the structural fix — commit uploads
      // the per-batch delta instead of snapshotting the full store;
      // bigger memtables/block cache keep the merge-heavy session scans
      // off disk. trackTotalNumberOfRows=false drops the per-commit full
      // count scan (numRowsTotal then reads -1 — a metrics price, which
      // is why it's a separate opt-in).
      if (tuned) {
        builder
          .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
          .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB",
            sys.env.getOrElse("SPARK_GRAFT_SS_WBUF_MB", "128"))
          .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "4")
          .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB",
            sys.env.getOrElse("SPARK_GRAFT_SS_BLOCKCACHE_MB", "512"))
        if (sys.env.get("SPARK_GRAFT_SS_NOTRACK").contains("1"))
          builder.config(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      }
    }
    // snapshot-cadence sweep (VERDICT r13 #1): with changelog
    // checkpointing, recovery replays every changelog since the last
    // uploaded snapshot, so cadence is the direct recovery knob —
    // minDeltasForSnapshot bounds how many deltas accumulate before the
    // maintenance task consolidates, and the maintenance interval is
    // how often it gets the chance. Both surfaced as env knobs so the
    // recovery-vs-throughput price is measurable per setting.
    val minDeltas = sys.env.get("SPARK_GRAFT_SS_MINDELTAS")
    minDeltas.foreach(d =>
      builder.config("spark.sql.streaming.stateStore.minDeltasForSnapshot", d))
    val maintSec = sys.env.get("SPARK_GRAFT_SS_MAINT_SEC")
    maintSec.foreach(s =>
      builder.config("spark.sql.streaming.stateStore.maintenanceInterval", s + "s"))
    val recoverCap = sys.env.getOrElse("SPARK_GRAFT_SS_RECOVER_CAP", "300").toInt
    // key-distribution pair (VERDICT r13 #6): "seq" sprays pmod(value,
    // keys) — the rate clock walks the key space in contiguous runs —
    // "hash" scrambles the same cardinality to uniform-random order, so
    // the pair isolates per-key SST locality at fixed key count.
    val keyDist = sys.env.getOrElse("SPARK_GRAFT_SS_KEYDIST", "seq")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // bounded-admission variant (VERDICT r13 #1, instrument fix): the
    // plain rate source hands the NEXT batch every row accrued while
    // the last one ran, so at an offered rate above the single-JVM
    // floor batches grow without bound (8M -> 60M -> ...) and a 180 s
    // window measures batch-boundary luck, not state-store behavior. A
    // real deployment bounds admission (maxOffsetsPerTrigger & co);
    // rate-micro-batch is that bound here — fixed rows per batch,
    // event time advancing a fixed step per batch so watermarks close
    // sessions on schedule.
    val rowsPerBatch = sys.env.get("SPARK_GRAFT_SS_ROWS_PER_BATCH").map(_.toLong)
    def rate(): org.apache.spark.sql.DataFrame =
      (rowsPerBatch match {
        case Some(n) =>
          spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", n)
            .option("advanceMillisPerBatch", 5000)
            .option("numPartitions", cpus)
        case None =>
          spark.readStream.format("rate")
            .option("rowsPerSecond", rps)
            .option("numPartitions", cpus)
      }).load()
        // uniform key spray over the full space; event time advances
        // with the rate clock so watermarks progress realistically
        .select(
          col("timestamp").as("ts"),
          (if (keyDist == "hash") pmod(xxhash64(col("value")), lit(keys))
           else pmod(col("value"), lit(keys))).as("user_id"),
          element_at(array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
            (pmod(col("value"), lit(4)) + 1).cast("int")).as("event_type"),
          col("value").as("event_id"))

    // each op: (name, outputMode, streaming transform). Watermark kept
    // short so windows close while the run is live (state churns, not
    // only grows).
    val ops: Seq[(String, String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      // windowed agg keyed PER USER (hourlyWindowAggExact's state path —
      // StateStoreSave under a streaming aggregate — at per-key
      // cardinality instead of its 4-event-type grouping)
      ("window_agg", "update", df =>
        df.withWatermark("ts", "10 seconds")
          .groupBy(window(col("ts"), "30 seconds").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))),
      // session windows: state = open session per user
      ("sessionize", "append", df => Streaming.sessionWindowAgg(
        df.select(col("user_id"), col("event_id"), col("ts")),
        gap = "5 seconds", watermark = "10 seconds")),
      // custom FMGWS funnel state per user (the hand-rolled state path)
      ("funnel_fmgws", "append", df => Streaming.funnelFMGWS(
        df.select(col("user_id"), col("event_type"), col("ts")).as[Streaming.TypedEv],
        watermark = "10 seconds", idleCloseMs = 15000L).toDF),
      // streaming exact dedup: one state row PER EVENT ID inside the
      // watermark — the unbounded-key shape (state grows with input
      // rate x watermark, not with a fixed key space)
      ("dedup", "append", df =>
        df.withWatermark("ts", "10 seconds")
          .dropDuplicates("event_id", "ts"))
    )

    // recovery measurement (VERDICT r12 #8): a 100 TB pipeline restarts —
    // after the timed run, restart the SAME query from its checkpoint
    // and record wall until the first post-restart batch commits (state
    // reload + source replay), the number nothing had measured yet.
    val recover = sys.env.get("SPARK_GRAFT_SS_RECOVER").contains("1")

    def dirBytes(path: String): Long = {
      val root = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(root)) return 0L
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(p => try java.nio.file.Files.size(p) catch { case _: Throwable => 0L })
        .sum()
      finally s.close()
    }
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

    for ((name, mode, xform) <- ops if opsFilter.forall(_.contains(name))) {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_ss_$name").toString
      def start() = xform(rate())
        .writeStream.format("noop") // sink cost excluded: state is the subject
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .start()
      val q = start()
      val t0 = System.nanoTime()
      var lastRows = 0L
      val thrs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      try {
        while ((System.nanoTime() - t0) / 1e9 < secs) {
          Thread.sleep(5000)
          val p = q.lastProgress
          if (p != null && p.numInputRows > 0) {
            val so = if (p.stateOperators.nonEmpty) p.stateOperators(0) else null
            val stateRows = if (so != null) so.numRowsTotal else -1L
            val stateMem = if (so != null) so.memoryUsedBytes else -1L
            lastRows = stateRows
            thrs += p.processedRowsPerSecond
            batchMs += p.durationMs.getOrDefault("triggerExecution", -1L).toDouble
            println(
              s"""{"bench":"stream_state","op":"$name","provider":"$provider","keys":$keys,""" +
                s""""batch_id":${p.batchId},"input_rows":${p.numInputRows},""" +
                s""""proc_rows_per_sec":${p.processedRowsPerSecond},""" +
                s""""batch_ms":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
                s""""state_rows":$stateRows,"state_mem_bytes":$stateMem}""")
          }
        }
      } finally {
        q.stop()
        // settle before touching the checkpoint: RocksDB's JNI logger
        // callback can SIGSEGV if its directory is deleted (or the JVM
        // exits) while the store's native side is still flushing — the
        // stores unload asynchronously after stop()
        if (provider == "rocksdb") Thread.sleep(3000)
        val stateDisk = dirBytes(s"$ckpt/state")
        var recoverySec = -1.0
        if (recover) {
          // restart from the checkpoint: wall from start() to the first
          // committed batch (includes store reload + replay of the
          // rate-source offsets the stopped trigger had reserved)
          val tR = System.nanoTime()
          val q2 = start()
          try {
            while (q2.lastProgress == null && (System.nanoTime() - tR) / 1e9 < recoverCap)
              Thread.sleep(200)
            if (q2.lastProgress != null)
              recoverySec = (System.nanoTime() - tR) / 1e9
          } finally {
            q2.stop()
            if (provider == "rocksdb") Thread.sleep(3000)
          }
        }
        println(
          s"""{"bench":"stream_state_final","op":"$name","provider":"$provider","keys":$keys,""" +
            s""""tuned":$tuned,"key_dist":"$keyDist",""" +
            s""""rows_per_batch":${rowsPerBatch.getOrElse("null")},""" +
            s""""min_deltas":${minDeltas.getOrElse("null")},""" +
            s""""maint_sec":${maintSec.getOrElse("null")},""" +
            s""""recover_cap":$recoverCap,"final_state_rows":$lastRows,""" +
            s""""median_thr":${median(thrs.toSeq)},"median_batch_ms":${median(batchMs.toSeq)},""" +
            s""""state_disk_bytes":$stateDisk,"recovery_sec":$recoverySec,""" +
            s""""ran_sec":${(System.nanoTime() - t0) / 1e9}}""")
        // checkpoint dirs are disposable scratch
        try {
          import scala.reflect.io.Directory
          new Directory(new java.io.File(ckpt)).deleteRecursively()
        } catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
