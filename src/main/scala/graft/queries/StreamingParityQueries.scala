package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streaming

/**
 * Driver-gated batch==stream parity: the events table is REPLAYED
 * through a real MemoryStream — contiguous event-time chunks, each
 * internally shuffled (genuine out-of-order arrival inside every
 * micro-batch, always within the 2 h watermark) — through the same
 * Structured Streaming operators the streaming twins use, and the
 * STREAMED result itself goes under the DuckDB oracle hash. This
 * lifts the streaming family's core equivalence claims (spec-only by
 * harness design, the batch driver can't run a socket source) into
 * CORRECTNESS: if the stateful window/session machinery dropped,
 * duplicated, or mis-merged anything, the hash breaks.
 *
 * Reference anchor: the reference has no streaming surface at all
 * (duckdb-faiss-ext is batch-only) — this is part of the
 * beyond-the-reference pipeline tier.
 */
object StreamingParityQueries {

  /** r15 (guide §1.2 — remove fixed machinery): replay in 2 data
    * chunks, not 4. Each micro-batch pays ~85 ms of offset/commit-log
    * writes plus ~25-50 ms incremental planning REGARDLESS of size
    * (measured, tools/ParityProfile — and checkpoint-on-tmpfs proved
    * it is metadata-log machinery, not disk), so halving the chunk
    * count removes ~2 batches x ~120 ms of pure overhead per gate and
    * amortizes addBatch over larger batches. Coverage is preserved in
    * kind: >= 2 data micro-batches, each still internally shuffled by
    * the splitmix reorder (genuine out-of-order arrival inside every
    * batch), chunks still contiguous time slices (nothing arrives
    * behind the watermark), and the double flush sentinels are
    * untouched — the emitted multiset is chunk-count-invariant, which
    * the oracle hash re-proves at both gated SFs. */
  private val Chunks = 2

  /** deterministic replay schedule: rows sorted by event time, cut
    * into `Chunks` contiguous slices (so no row ever arrives behind
    * the watermark), each slice reordered by a splitmix of its sort
    * key — out-of-order inside every micro-batch. */
  private def chunked[T](rows: Array[T], key: T => Long): Seq[Array[T]] = {
    val per = math.max(1, (rows.length + Chunks - 1) / Chunks)
    rows.grouped(per).map(_.sortBy(r => {
      var z = key(r) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    })).toSeq
  }

  /** every parity gate runs with few state partitions: the replay is a
    * VERIFICATION harness (6-8 tiny micro-batches over a bounded
    * corpus), and stateful operators pay per-partition state-store +
    * task overhead on EVERY micro-batch — at the bench's 32 shuffle
    * partitions that overhead is ~4x the useful work. The state logic
    * is partition-count-invariant (the driver hash gate proves it);
    * production streams size their own partitioning. Measured at
    * sf0.1/32 cores: 77.8s -> 34.5s for the 11-gate family. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        val key = "spark.sql.shuffle.partitions"
        val nkey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val old = s.conf.get(key)
        val nold = s.conf.get(nkey)
        // r14 ran the stream-stream interval gate at ONE state partition
        // (two state stores per partition per micro-batch made 4 a
        // loss at 4-chunk replay: 8.3 -> 6.2 s). The r15 2-chunk
        // schedule doubles rows per batch, and the per-row join/state
        // work now outweighs the per-store overhead — re-swept at
        // sf0.1/32: 1 part 4.8 s, 2 parts 5.3 s, 4 parts 4.3 s,
        // 8 parts 7.1 s — so every gate runs the family default of 4
        // again. Output is partition-count-invariant (the driver hash
        // gate proves it); production streams size their own
        // partitioning.
        s.conf.set(key, "4")
        // r14: no-data micro-batches OFF for the replay — every
        // processAllAvailable otherwise appends an empty batch for
        // eager state maintenance, ~doubling per-chunk machinery. The
        // gates' emission is watermark-gated on DATA batches by
        // design (each flush sentinel is sent TWICE exactly so the
        // second data batch emits what the first unlocked), so the
        // collected multiset is invariant — re-proven by the oracle
        // hash at sf0.001+sf0.01 with the flag off (11/11 PASS).
        // Measured on the 5 heaviest gates at sf0.1/32: 30.7 -> 21.4 s.
        // Production streams keep Spark's default (true); this wrapper
        // scopes the setting to the replay harness only.
        s.conf.set(nkey, "false")
        try fn(s, dir) finally { s.conf.set(key, old); s.conf.set(nkey, nold) }
      })
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hourly windowed aggregation, streamed: complete-mode memory sink,
    // four out-of-order micro-batches; output == the batch GROUP BY
    "streaming_parity" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("user_id").cast("long"),
          col("value").cast("double"), col("event_id").cast("long"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .sortBy(r => (r._1.getTime, r._5))
      val mem = MemoryStream[(Timestamp, String, Long, Double)]
      val df = mem.toDF.toDF("ts", "event_type", "user_id", "value")
      val q = Streaming.hourlyWindowAggExact(df)
        .writeStream.format("memory").queryName("parity_hourly")
        .outputMode("complete").start()
      try {
        chunked[(Timestamp, String, Long, Double, Long)](input, _._5).foreach { chunk =>
          mem.addData(chunk.map(r => (r._1, r._2, r._3, r._4)).toSeq)
          q.processAllAvailable()
        }
        // r15: return the memory sink directly (same columns/types) —
        // the old collect + createDataFrame rewrap re-serialized every
        // output row through the driver for nothing; the sink's rows
        // survive q.stop() and the next start() rebinds the name fresh
        s.table("parity_hourly")
      } finally q.stop()
    },
    // native session windows, streamed in APPEND mode: sessions only
    // emit once the watermark strictly passes their end, so two
    // far-future sentinel batches (reserved user -1, never emitted —
    // its session stays open) flush every real session. Output == the
    // batch gap-sessionization under session_window's exact merge rule
    // (new session iff gap >= 30 min, microsecond precision).
    "streaming_parity_session" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
        .sortBy(r => (r._3.getTime, r._2))
      val maxTs = input.last._3.getTime
      val mem = MemoryStream[(Long, Long, Timestamp)]
      val df = mem.toDF.toDF("user_id", "event_id", "ts")
      val q = Streaming.sessionWindowAgg(df, gap = "30 minutes", watermark = "2 hours")
        .writeStream.format("memory").queryName("parity_session")
        .outputMode("append").start()
      try {
        chunked[(Long, Long, Timestamp)](input, _._2).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // watermark advances at END of the batch that saw the sentinel;
        // the SECOND sentinel batch emits everything the first unlocked
        mem.addData((-1L, -1L, new Timestamp(maxTs + 30L * 86400 * 1000)))
        q.processAllAvailable()
        mem.addData((-1L, -2L, new Timestamp(maxTs + 60L * 86400 * 1000)))
        q.processAllAvailable()
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_session").where(col("user_id") >= 0)
      } finally q.stop()
    },
    // the CUSTOM-state sessionizer (flatMapGroupsWithState, hand-rolled
    // gap split + watermark-gated close) under the same replay — unlike
    // parity_session this pins OUR state code, not Spark's session_window.
    // FMGWS semantics: millisecond precision (Timestamp.getTime), same
    // session iff gap <= 30 min, session bounds are first/last EVENT time
    // (no +gap) — the oracle replays exactly that.
    "streaming_parity_fmgws" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
        .sortBy(r => (r._3.getTime, r._2))
      val maxTs = input.last._3.getTime
      val mem = MemoryStream[(Long, Long, Timestamp)]
      val ds = mem.toDF.toDF("user_id", "event_id", "ts").as[Streaming.Ev]
      val q = Streaming.sessionizeFMGWS(ds, gapSeconds = 1800L, watermark = "2 hours")
        .toDF()
        .writeStream.format("memory").queryName("parity_fmgws")
        .outputMode("append").start()
      try {
        chunked[(Long, Long, Timestamp)](input, _._2).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        mem.addData((-1L, -1L, new Timestamp(maxTs + 30L * 86400 * 1000)))
        q.processAllAvailable()
        mem.addData((-1L, -2L, new Timestamp(maxTs + 60L * 86400 * 1000)))
        q.processAllAvailable()
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_fmgws").where(col("user_id") >= 0)
      } finally q.stop()
    },
    // per-user transition emission (the streaming markov feeder):
    // a pair is final only when the watermark strictly passes its 'to'
    // event. Idle-close is disabled for the replay (its firing depends
    // on micro-batch boundaries; the watermark path is deterministic),
    // so the emitted multiset is EXACTLY the batch lead() pair list.
    "streaming_parity_markov" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("event_type"), col("ts"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
        .sortBy(r => (r._4.getTime, r._2))
      val maxTs = input.last._4.getTime
      val mem = MemoryStream[(Long, Long, String, Timestamp)]
      val ds = mem.toDF.toDF("user_id", "event_id", "event_type", "ts")
        .as[Streaming.TransEv]
      val q = Streaming.markovFMGWS(ds, watermark = "2 hours",
          idleCloseMs = 3650L * 86400 * 1000) // ~10 years: never idle-close
        .toDF()
        .writeStream.format("memory").queryName("parity_markov")
        .outputMode("append").start()
      try {
        chunked[(Long, Long, String, Timestamp)](input, _._2).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // with idle-close disabled a user's tail pairs only finalize on
        // its OWN next batch — so the flush sentinel goes to EVERY user
        // (marker type, filtered below), twice: the first advances the
        // watermark past all real 'to' events, the second triggers the
        // per-user emission under that watermark
        val users = input.map(_._1).distinct
        mem.addData(users.map(u =>
          (u, -1L, "__flush__", new Timestamp(maxTs + 30L * 86400 * 1000))).toSeq)
        q.processAllAvailable()
        mem.addData(users.map(u =>
          (u, -2L, "__flush__", new Timestamp(maxTs + 60L * 86400 * 1000))).toSeq)
        q.processAllAvailable()
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_markov")
          .where(col("from_type") =!= "__flush__" && col("to_type") =!= "__flush__")
      } finally q.stop()
    },
    // funnel depth per user (funnelFMGWS): emission happens ONLY via
    // the idle timeout, so the window is stretched past the data span
    // (40 days > the corpus's ~30) — no user closes mid-stream with a
    // partial funnel — and the far-future sentinels push the watermark
    // past every user's last+idle so each closes exactly once, with
    // its full first-occurrence state. The state folds are min/max
    // (order-insensitive), so out-of-order replay cannot change depth.
    "streaming_parity_funnel" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_type"), col("ts"),
          col("event_id").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(r => (r._3.getTime, r._4))
      val maxTs = input.last._3.getTime
      val mem = MemoryStream[(Long, String, Timestamp)]
      val ds = mem.toDF.toDF("user_id", "event_type", "ts").as[Streaming.TypedEv]
      val q = Streaming.funnelFMGWS(ds, watermark = "2 hours",
          idleCloseMs = 40L * 86400 * 1000)
        .toDF()
        .writeStream.format("memory").queryName("parity_funnel")
        .outputMode("append").start()
      try {
        chunked[(Long, String, Timestamp, Long)](input, _._4).foreach { chunk =>
          mem.addData(chunk.map(r => (r._1, r._2, r._3)).toSeq)
          q.processAllAvailable()
        }
        mem.addData((-1L, "view", new Timestamp(maxTs + 60L * 86400 * 1000)))
        q.processAllAvailable()
        mem.addData((-1L, "view", new Timestamp(maxTs + 120L * 86400 * 1000)))
        q.processAllAvailable()
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_funnel").where(col("user_id") >= 0)
      } finally q.stop()
    },
    // real-time ANN serving (serveAnn: a stream of query vectors
    // answered micro-batch by micro-batch against a catalog index via
    // foreachBatch): queries replayed in two chunks against an
    // exhaustive-probe IVF — the union of the served batches must
    // hash-equal the brute-force oracle. Gates the streaming SERVING
    // path end-to-end (was spec-only).
    "streaming_parity_serve" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      import graft.index.IndexCatalog
      val name = "q_serve_parity"
      if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(
        Tables(s, dir, "embeddings")
          .select(col("vec_id").as("label"),
            graft.functions.vec.vector(col("embedding")).as("vec")), name)
      val qIn = Tables(s, dir, "embeddings").where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val mem = MemoryStream[(Long, Array[Float])]
      val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      val q = Streaming.serveAnn(
          mem.toDF.toDF("qid", "qvec"), name, 5) { (res, _) =>
        served ++= res.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
      try {
        qIn.grouped(math.max(1, qIn.length / 2)).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      served.toSeq.toDF("qid", "rank", "label", "d")
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("d")).as("distance"))
    },
    // per-window bounded top-k heap (windowTopK): the streamed hourly
    // top-3 events by value (ties by event_id, the heap's rule) in
    // complete mode — values pass through untouched, so the oracle is
    // a plain window-rank replay
    "streaming_parity_topk" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("ts"), col("event_id").cast("long"), col("value").cast("double"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .sortBy(r => (r._1.getTime, r._2))
      val mem = MemoryStream[(Timestamp, Long, Double)]
      val df = mem.toDF.toDF("ts", "event_id", "value")
      val q = Streaming.windowTopK(df, k = 3)
        .writeStream.format("memory").queryName("parity_topk")
        .outputMode("complete").start()
      try {
        chunked[(Timestamp, Long, Double)](input, _._2).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_topk")
      } finally q.stop()
    },
    // the COMPOSED at-ingest curation gate (quality filter + fp dedup +
    // PII scrub, one streaming pass with observe() counters): replayed
    // in duplicate-rank waves like parity_dedup; survivors carry the
    // raw IEEE quality score (the chain is bit-exact cross-engine —
    // text_quality gates it unquantized) and the scrubbed-text md5
    "streaming_parity_curation" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val docs = Tables.wide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      val waves = docs.groupBy(_._2).values.toArray
        .flatMap(g => g.sortBy(_._1).zipWithIndex.map { case ((id, t), k) => (k, id, t) })
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, rows) => (k, rows.map(r => (r._2, r._3)).sortBy(_._1)) }
      val base = 1700000000000L
      val mem = MemoryStream[(Long, String, Timestamp)]
      val df = mem.toDF.toDF("doc_id", "text", "ts")
      val q = Streaming.curationGate(df, minQuality = 0.6, watermark = "30 days")
        .writeStream.format("memory").queryName("parity_curation")
        .outputMode("append").start()
      try {
        waves.foreach { case (k, rows) =>
          mem.addData(rows.map { case (id, t) =>
            (id, t, new Timestamp(base + k * 3600 * 1000L)) }.toSeq)
          q.processAllAvailable()
        }
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_curation")
          .select(col("doc_id"), col("quality"), md5(col("text")).as("scrubbed_md5"))
      } finally q.stop()
    },
    // stream-STREAM interval join (intervalJoin): orders and events
    // replayed as two lockstep-chunked streams; inner-join matches
    // emit as both sides arrive (no suppression to flush), join state
    // survives because the global watermark is the min over both
    // streams and each stream's chunks are time-ordered. The emitted
    // multiset hash-equals the batch range join.
    "streaming_parity_interval" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val eventsIn = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts"), col("value").cast("double"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
        .sortBy(r => (r._3.getTime, r._2))
      // orders dates (1995-2001) never overlap the events epoch (2024):
      // remap each o_orderdate onto the events day-span (day index since
      // 1995-01-01, mod span — deterministic, mirrored in the DuckDB
      // oracle) so the join is NON-vacuous. Custkeys that never appear
      // as event users are trimmed — output-preserving under inner join.
      val dayMs = 86400000L
      val d0Day = Math.floorDiv(eventsIn.head._3.getTime, dayMs)
      val spanDays = Math.floorDiv(eventsIn.last._3.getTime, dayMs) - d0Day + 1
      val users = eventsIn.map(_._1).toSet
      val ordersIn = Tables(s, dir, "orders")
        .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01"))
            .cast("long").as("day_idx"))
        .collect()
        .map { r =>
          val idx = Math.floorMod(r.getLong(2), spanDays)
          (r.getLong(0), r.getLong(1), new Timestamp((d0Day + idx) * dayMs))
        }
        .filter(r => users.contains(r._2))
        .sortBy(r => (r._3.getTime, r._1))
      val memO = MemoryStream[(Long, Long, Timestamp)]
      val memE = MemoryStream[(Long, Long, Timestamp, Double)]
      val q = Streaming.intervalJoin(
          memO.toDF.toDF("o_orderkey", "o_custkey", "o_ts"),
          memE.toDF.toDF("user_id", "event_id", "ts", "value"),
          windowHours = 72)
        .writeStream.format("memory").queryName("parity_interval")
        .outputMode("append").start()
      try {
        val oChunks = chunked[(Long, Long, Timestamp)](ordersIn, _._1)
        val eChunks = chunked[(Long, Long, Timestamp, Double)](eventsIn, _._2)
        oChunks.zipAll(eChunks, Array.empty[(Long, Long, Timestamp)],
            Array.empty[(Long, Long, Timestamp, Double)])
          .foreach { case (oc, ec) =>
            if (oc.nonEmpty) memO.addData(oc.toSeq)
            if (ec.nonEmpty) memE.addData(ec.toSeq)
            q.processAllAvailable()
          }
        // r15: sink returned directly (see streaming_parity); the
        // vacuous-gate guard stays, as a limit-1 probe instead of a
        // full collect
        val out = s.table("parity_interval")
        // the round-8 gate passed on a 0-row hash (vacuous); never again
        require(!out.isEmpty,
          "streaming_parity_interval emitted 0 rows — vacuous gate")
        out
      } finally q.stop()
    },
    // streaming exact dedup (dropDuplicatesWithinWatermark): the corpus
    // replays in duplicate-rank waves — wave k carries each text's
    // (k+1)-th lowest-id copy, so within any micro-batch all keys are
    // DISTINCT (state dedup is deterministic regardless of partition
    // order) and the survivor of every group is provably its lowest id.
    // The surviving set hash-equals batch exact dedup.
    "streaming_parity_dedup" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val docs = Tables.wide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      val waves = docs.groupBy(_._2).values.toArray
        .flatMap(g => g.sortBy(_._1).zipWithIndex.map { case ((id, t), k) => (k, id, t) })
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, rows) => (k, rows.map(r => (r._2, r._3)).sortBy(_._1)) }
      val base = 1700000000000L
      val mem = MemoryStream[(Long, String, Timestamp)]
      val df = mem.toDF.toDF("doc_id", "text", "ts")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark("text")
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
      val q = df.writeStream.format("memory").queryName("parity_dedup")
        .outputMode("append").start()
      try {
        waves.foreach { case (k, rows) =>
          mem.addData(rows.map { case (id, t) =>
            (id, t, new Timestamp(base + k * 3600 * 1000L)) }.toSeq)
          q.processAllAvailable()
        }
        // r15: sink returned directly (see streaming_parity)
        s.table("parity_dedup")
      } finally q.stop()
    },
    // last-touch attribution (attributionFMGWS): purchases emit with
    // the channel carried at their (ms, event_id) position; idle-close
    // disabled, per-user marker-typed sentinels (neither touch nor
    // purchase — they only advance the watermark) flush the tail.
    "streaming_parity_attribution" -> { (s, dir) =>
      import s.implicits._
      implicit val ctx = s.sqlContext
      val input = Tables.events(s, dir)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("event_type"), col("value").cast("double"), col("ts"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getTimestamp(4)))
        .sortBy(r => (r._5.getTime, r._2))
      val maxTs = input.last._5.getTime
      val mem = MemoryStream[(Long, Long, String, Double, Timestamp)]
      val ds = mem.toDF.toDF("user_id", "event_id", "event_type", "value", "ts")
        .as[Streaming.AttrEv]
      val q = Streaming.attributionFMGWS(ds, watermark = "2 hours",
          idleCloseMs = 3650L * 86400 * 1000)
        .toDF()
        .writeStream.format("memory").queryName("parity_attribution")
        .outputMode("append").start()
      try {
        chunked[(Long, Long, String, Double, Timestamp)](input, _._2).foreach { chunk =>
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val users = input.map(_._1).distinct
        mem.addData(users.map(u =>
          (u, -1L, "__flush__", 0.0, new Timestamp(maxTs + 30L * 86400 * 1000))).toSeq)
        q.processAllAvailable()
        mem.addData(users.map(u =>
          (u, -2L, "__flush__", 0.0, new Timestamp(maxTs + 60L * 86400 * 1000))).toSeq)
        q.processAllAvailable()
        // r15: sink returned directly (see streaming_parity); AttrOut's
        // event_id field carries the purchase id — renamed here exactly
        // as the old rewrap did
        s.table("parity_attribution").where(col("user_id") >= 0)
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("channel"), col("value"))
      } finally q.stop()
    })

  def oracles: Map[String, String] = Map(
    // the batch GROUP BY the stream must reproduce (events_window_agg's
    // oracle minus the distinct column — distinct doesn't stream)
    "streaming_parity" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
         |  count(*) AS n_events,
         |  ${Tables.moneySumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2""".stripMargin,
    // session_window's exact merge rule replayed relationally:
    // new session iff the gap to the previous event is >= 30 min
    // (microsecond precision — an event AT first_ts+gap starts a new
    // window); session_end is last event + gap, per session_window
    "streaming_parity_session" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ts, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    // the FMGWS sessionizer's exact rule: MILLISECOND precision
    // (Timestamp.getTime floors µs→ms on both engines), same session
    // iff gap <= 30 min (new iff > — note the strictness differs from
    // session_window's >=), bounds are first/last event time at ms
    "streaming_parity_fmgws" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events
        |), flagged AS (
        |  SELECT user_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |           OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms)
        |), sess AS (
        |  SELECT user_id, ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, make_timestamp(min(ms) * 1000) AS session_start,
        |  make_timestamp(max(ms) * 1000) AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    // every consecutive (from, to) pair per user under (ms, event_id)
    // order — the multiset the stream must emit exactly once each
    "streaming_parity_markov" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events
        |), ord AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |      AS next_type
        |  FROM ev
        |)
        |SELECT user_id, event_type AS from_type, next_type AS to_type
        |FROM ord WHERE next_type IS NOT NULL""".stripMargin,
    // the when-chain over first-occurrence (ms) minima — exactly the
    // state the stream folds, evaluated relationally
    "streaming_parity_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events
        |), m AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ms END) AS t1,
        |    min(CASE WHEN event_type = 'click' THEN ms END) AS t2,
        |    min(CASE WHEN event_type = 'purchase' THEN ms END) AS t3
        |  FROM ev GROUP BY user_id
        |)
        |SELECT user_id,
        |  CAST(CASE
        |    WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
        |         AND t1 < t2 AND t2 < t3 THEN 3
        |    WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t1 < t2 THEN 2
        |    WHEN t1 IS NOT NULL THEN 1
        |    ELSE 0 END AS INTEGER) AS funnel_depth
        |FROM m""".stripMargin,
    // the lowest-id copy of every text survives, nothing else
    "streaming_parity_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
        |FROM documents GROUP BY md5(text), text""".stripMargin,
    // served batches union == brute force (exhaustive-probe IVF)
    "streaming_parity_serve" -> VectorQueries.oracles("knn_flat_l2"),
    // hourly top-3 by (value desc, event_id) — the heap's tie rule
    "streaming_parity_topk" ->
      """WITH r AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
        |    event_id, value,
        |    CAST(row_number() OVER (
        |      PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP))
        |      ORDER BY value DESC, event_id) - 1 AS INTEGER) AS rank
        |  FROM events
        |)
        |SELECT bucket, rank, event_id, value FROM r WHERE rank < 3""".stripMargin,
    // quality gate >= 0.6 (the bit-exact chain text_quality gates raw),
    // min-id survivor per surviving text, scrubbed-text md5
    "streaming_parity_curation" ->
      s"""WITH ${TextQueries.qualityCtesSql},
         |s AS (SELECT doc_id, text, ${TextQueries.qualityExprSql} AS q FROM f),
         |pass AS (SELECT doc_id, text, q FROM s WHERE q >= 0.6),
         |surv AS (SELECT min(doc_id) AS doc_id FROM pass GROUP BY md5(text), text)
         |SELECT p.doc_id, p.q AS quality,
         |  md5(regexp_replace(regexp_replace(p.text, 'https?://[^\\s]+', '<URL>', 'g'),
         |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g')) AS scrubbed_md5
         |FROM pass p JOIN surv USING (doc_id)""".stripMargin,
    // the batch range join the stream must reproduce, row for row —
    // with the SAME deterministic date remap (orders day-index since
    // 1995-01-01 mod the events day-span) the replay applies, so the
    // join is non-vacuous (≈9k rows at sf0.01, vs 0 before round 9)
    "streaming_parity_interval" ->
      """WITH span AS (
        |  SELECT CAST(date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS DATE) AS d0,
        |         CAST(date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS DATE) AS d1
        |  FROM events
        |), o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(d0 + CAST((CAST(o_orderdate AS DATE) - DATE '1995-01-01')
        |                   % (d1 - d0 + 1) AS INTEGER) AS TIMESTAMP) AS o_ts
        |  FROM orders, span
        |)
        |SELECT o.o_orderkey, e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value
        |FROM o JOIN events e
        |  ON e.user_id = o.o_custkey
        | AND CAST(e.ts AS TIMESTAMP) >= o.o_ts
        | AND CAST(e.ts AS TIMESTAMP) < o.o_ts + INTERVAL 72 HOURS""".stripMargin,
    // per purchase: the last touch (click/view/signup) at or before its
    // (ms, event_id) position, 'direct' when none — the carry replay
    "streaming_parity_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_id, event_type, value, ms,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
        |  FROM ev
        |)
        |SELECT user_id, event_id AS purchase_id,
        |  coalesce(carry, 'direct') AS channel, value
        |FROM c WHERE event_type = 'purchase'""".stripMargin)
}
