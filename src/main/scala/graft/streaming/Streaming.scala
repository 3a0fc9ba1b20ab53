package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming twins of the batch event queries: the same
 * engine serves bounded parquet and unbounded streams — `readStream`
 * in, identical transform, `writeStream` out. Tested with
 * MemoryStream sources (StreamingSpec).
 */
object Streaming {

  /**
   * Streaming top-k: the bounded-heap TypedImperativeAggregate running
   * under a watermarked window aggregation — per hourly bucket, the k
   * highest-value events. Exercises the heap's serialize/merge contract
   * inside the state store: partial heaps merge across micro-batches
   * exactly as they merge across map tasks in batch, so the streaming
   * answer equals the batch answer on the same rows (spec-asserted).
   */
  def windowTopK(events: DataFrame, k: Int = 3, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.vec
        .topk(k, col("value"), col("event_id"), ascending = false).as("top"))
      .select(col("w.start").as("bucket"), posexplode(col("top")).as(Seq("pos", "nn")))
      .select(col("bucket"), col("nn.rank").as("rank"),
        col("nn.label").as("event_id"), col("nn.distance").as("value"))

  /**
   * Streaming distinct-users sketch: the theta aggregate under a
   * watermarked window. Partial sketches union across micro-batches in
   * the state store exactly as they union across map tasks in batch,
   * so the streaming answer equals the batch answer on the same rows
   * (spec-asserted via exact-mode estimates). Per-window state is a
   * KB-sized sketch rather than an id set — the bounded-memory
   * property that survives unbounded user cardinality, and emitted
   * sketches stay mergeable into coarser offline rollups.
   */
  def windowDistinctSketch(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.theta.sketchAgg(col("user_id")).as("sk"))
      .select(col("w.start").as("bucket"),
        graft.functions.theta.estimate(col("sk")).cast("long").as("distinct_users"))

  /**
   * Streaming per-window quantiles: the KLL sketch aggregate under a
   * watermarked window — p50/p95/p99 latency-style monitoring with
   * KB-sized per-window state instead of a full value buffer. Partial
   * sketches merge across micro-batches through the state store
   * exactly as across map tasks in batch (same deterministic
   * compaction), so streaming equals batch on the same rows
   * (spec-asserted), and the emitted windows stay mergeable into
   * coarser offline rollups via KllMergeAgg.
   */
  def windowQuantileSketch(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.kll.sketchAgg(col("value")).as("sk"))
      .select(col("w.start").as("bucket"), col("event_type"),
        graft.functions.kll.quantiles(col("sk"), Seq(0.5, 0.95, 0.99)).as("q"))
      .select(col("bucket"), col("event_type"),
        col("q")(0).as("p50"), col("q")(1).as("p95"), col("q")(2).as("p99"))

  /**
   * Streaming per-window heavy hitters: the Misra-Gries frequent-items
   * aggregate under a watermarked window — top users per hour with a
   * fixed-size map as state, completing the streaming sketch tier
   * (theta distinct + KLL quantiles + frequent items). Right-sized
   * (map >> distinct keys) the counts are exact, max_err = 0; partial
   * maps merge across micro-batches through the state store exactly
   * as across map tasks in batch (spec-asserted parity).
   */
  def windowHeavyHitters(
      events: DataFrame, k: Int = 5, maxMapSize: Int = 4096,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.freqitems
        .agg(array(col("user_id").cast("string")), maxMapSize).as("sk"))
      .select(col("w.start").as("bucket"),
        explode(graft.functions.freqitems.topK(col("sk"), k)).as("h"))
      .select(col("bucket"), col("h.term").as("user_id"),
        col("h.n").as("n"), col("h.max_err").as("max_err"))

  /** tumbling 1h aggregation with a watermark (streaming twin of events_window_agg) */
  def hourlyWindowAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("approx_users"),
        sum("value").as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n_events"), col("approx_users"), col("sum_value"))

  /** [[hourlyWindowAgg]]'s exact-sum twin for driver-gated parity:
    * integer-cents money sum (associative + order-independent, so
    * batch == stream is bit-exact and DuckDB-hashable) and no sketch
    * column — distinct aggregation doesn't stream. */
  def hourlyWindowAggExact(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))

  /**
   * Native session windows: Spark's session_window keeps per-key state
   * and merges windows under watermark control — the declarative path
   * (Catalyst owns state store layout, AQE-compatible).
   */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /**
   * Real-time ANN serving: an unbounded stream of query vectors is
   * answered micro-batch by micro-batch against a catalog index (the
   * gap the reference leaves open — FAISS serves from one process;
   * here the index is distributed and the stream rides foreachBatch).
   * Each micro-batch runs the same search plan as the batch path:
   * broadcast the batch, scan/prune the index, merge top-k.
   */
  def serveAnn(
      queryStream: DataFrame, // streaming (qid bigint, qvec array<float>)
      indexName: String,
      k: Int,
      params: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          sink(graft.index.IndexCatalog.search(indexName, k, batch.toDF(), params), id)
      }
      .start()

  /**
   * Stream-stream interval join (streaming twin of the batch
   * events_range_join): each order matches the same user's events
   * within [o_ts, o_ts + windowHours). Both sides carry watermarks and
   * the join condition bounds event time relative to order time, so
   * Spark can expire join state on both sides — without the range
   * bound the state store would grow forever. Inner join: the
   * left-outer rollup happens downstream once an order's window closes.
   */
  def intervalJoin(
      orders: DataFrame, // streaming (o_orderkey, o_custkey, o_ts)
      events: DataFrame, // streaming (user_id, event_id, ts, value)
      windowHours: Int = 72,
      watermark: String = "2 hours"): DataFrame = {
    val o = orders.withWatermark("o_ts", watermark)
    val e = events.withWatermark("ts", watermark)
    o.join(e,
      col("user_id") === col("o_custkey") &&
        col("ts") >= col("o_ts") &&
        col("ts") < col("o_ts") + expr(s"INTERVAL $windowHours HOURS"))
      .select(col("o_orderkey"), col("event_id"), col("ts"), col("value"))
  }

  /**
   * Stream-static enrichment: every micro-batch LEFT-joins the static
   * dimension snapshot — stateless (no watermark, no join state), the
   * standard at-ingest enrichment step before a streaming rollup or a
   * curation gate. The broadcast hint keeps the unbounded stream side
   * from ever shuffling: at 100 TB-of-stream the dimension ships to
   * executors once per micro-batch and each event row is touched once.
   * LEFT (not inner) so an event with no dimension row survives with
   * nulls — enrichment must not silently drop traffic.
   */
  def enrich(
      events: DataFrame, // streaming, keyed by `key`
      dim: DataFrame, // static dimension
      key: String, dimKey: String): DataFrame = {
    // dataset-qualified columns: the common enrichment shape has the
    // SAME key name on both sides, where bare col(...) would be ambiguous
    val d = broadcast(dim)
    events.join(d, events(key) === d(dimKey), "left")
  }

  /**
   * Real-time index ingestion: an unbounded (id, vector) stream feeds a
   * catalog index micro-batch by micro-batch — the write side of
   * [[serveAnn]], closing the "batch build only" gap a Spark port of
   * the reference would otherwise have. Each micro-batch runs the same
   * `IndexCatalog.add` as the batch path (dim guard, IDMap gating,
   * id bookkeeping). On a built, trained IVF each micro-batch extends
   * the search structure INCREMENTALLY (only the batch is assigned,
   * O(batch) per add); other kinds rebuild lazily on the next search.
   * Schedule `IndexCatalog.compact(name)` periodically to fold the
   * appended batches back into one co-partitioned cache.
   */
  def indexIngest(
      vecStream: DataFrame, // streaming (id bigint, vec array<float>) or (vec) for auto-ids
      indexName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch is at-least-once: after a mid-epoch failure the same
    // batchId is re-delivered, and blindly re-adding would duplicate
    // labels (or mint fresh auto-ids for the same vectors). Track the
    // last applied id so a same-run redelivery is a no-op. Across a
    // RESTART this guard resets with the JVM — exactly-once there needs
    // a durable applied-batch store keyed by the checkpoint location,
    // which is the caller's call (same caveat as any foreachBatch sink).
    val lastApplied = new java.util.concurrent.atomic.AtomicLong(-1L)
    vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // materialize before handing off: IndexCatalog.add holds the
        // DataFrame lazily (pending batches evaluate at build time), but
        // a foreachBatch frame is only re-scannable DURING its
        // micro-batch — the source purges committed offsets. An eager
        // localCheckpoint pins the rows as executor blocks, cut from the
        // streaming source.
        if (id > lastApplied.get() && !batch.isEmpty) {
          graft.index.IndexCatalog.add(batch.toDF().localCheckpoint(true), indexName)
          lastApplied.set(id)
        }
      }
      .start()
  }

  /**
   * Streaming twin of the batch pipeline_curate: quality gate + PII
   * scrub (stateless scan-stage projections — the identical codegen'd
   * expressions as batch) + exact dedup on the content fingerprint,
   * bounded by the watermark horizon (dropDuplicatesWithinWatermark
   * keeps the state store from growing with the corpus — the at-ingest
   * curation shape: filter the firehose before anything lands).
   */
  def curationGate(
      docs: DataFrame, // streaming (doc_id, text, ts)
      minQuality: Double = 0.6, // = pipeline_curate's batch gate — the twins must agree by default
      watermark: String = "1 hour"): DataFrame = {
    import graft.text.TextFunctions._
    docs
      .withWatermark("ts", watermark)
      // observability rides the SAME pass (CollectMetrics): ingest and
      // survivor counters per micro-batch with zero extra scans —
      // read them from StreamingQueryProgress.observedMetrics (streams)
      // or an Observation handle (batch). A curation gate that can't
      // report its drop rate is unoperable at 100 TB; a second counting
      // pass over 100 TB is unaffordable.
      .observe("curation_in", count(lit(1)).as("n_in"))
      // tokens bound once per row; qualityScore on a raw text column
      // re-splits per component read (~6 regex splits/row)
      .withColumn("_toks", graft.text.TextFunctions.tokens(col("text")))
      .withColumn("quality", graft.text.TextFunctions.qualityScoreT(col("text"), col("_toks")))
      .drop("_toks")
      .where(col("quality") >= minQuality)
      .withColumn("fp", md5(col("text")))
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("ts"), col("quality"), scrub(col("text")).as("text"))
      .observe("curation_out", count(lit(1)).as("n_out"),
        avg(col("quality")).as("mean_quality"))
  }

  /**
   * At-ingest benchmark-decontamination screen: the streaming twin of
   * the batch contamination query. The eval/benchmark side is static
   * and small by contract, so its distinct shingle hashes collect ONCE
   * driver-side (loud cap, no silent OOM) and ride the task closure as
   * a sorted array; each streaming document then scores via one
   * STATELESS projection — shingle hashes → binary-search hit count
   * (`SortedSetHitCount`, occurrence semantics identical to the batch
   * explode+join+count) — so there is no state store, no watermark
   * coupling, and nothing to shuffle: the screen scales with the
   * document stream alone. n_overlap matches the batch query row for
   * row (spec-asserted); `keep` gates the clean docs through.
   */
  def contaminationScreen(
      docs: DataFrame, // streaming (idCol, textCol, ...)
      evalDocs: DataFrame, // static eval/benchmark corpus (textCol)
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3): DataFrame = {
    import graft.text.TextFunctions
    def hashed(c: org.apache.spark.sql.Column) =
      TextFunctions.shingleHashesXx(TextFunctions.tokens(c), shingleSize)
    val maxEval = 4 << 20
    val evalRows = evalDocs
      .select(explode(hashed(col(textCol))).as("s")).distinct()
      .limit(maxEval + 1).collect()
    if (evalRows.length > maxEval)
      throw new IllegalStateException(
        s"eval set exceeds $maxEval distinct shingles; screen against a " +
          "corpus that size with the batch contamination join instead")
    val sorted = evalRows.map(_.getLong(0)).sorted
    docs.select(col(idCol), col(textCol),
        graft.functions.hashes.sortedSetHitCount(hashed(col(textCol)), sorted)
          .as("n_overlap"))
      .withColumn("keep", col("n_overlap") === 0L)
  }

  case class NearBuf(ids: Seq[Long], sigs: Seq[Seq[Long]])
  case class NearDupOut(doc_id: Long, dup_of: Long, overlap: Int)

  /**
   * Streaming NEAR-dup screen at ingest — the LSH complement of
   * curationGate's exact fingerprint dedup, sharing the batch MinHash
   * family lane-for-lane (`hashes.minhashShingles` + `hashes.bandBuckets`,
   * the kernels `Dedup.minhashCandidates` buckets with). Stateless
   * scan-stage work computes the 128-lane signature and explodes it
   * into band buckets; state lives PER (band, bucket) as a bounded
   * FIFO of (id, signature) — `maxBucketSize` entries, oldest evicted —
   * so a degenerate bucket (boilerplate) cannot grow state with the
   * corpus: the streaming analog of the batch hot-bucket cap, and the
   * reason this holds at 100 TB (state = buckets × cap × 1 KB,
   * independent of stream length). A doc emits one row per stored
   * neighbor agreeing on >= minOverlap of 128 lanes (72 ≈ Jaccard
   * 0.56); band-duplicate emissions collapse under distinct
   * downstream. "First seen survives" in arrival order — the honest
   * at-ingest semantics. The same code runs on a BATCH Dataset
   * (flatMapGroupsWithState degenerates to one per-group fold), which
   * is what the parity spec pins.
   */
  def nearDedupFMGWS(
      docs: DataFrame, // (doc_id, text, ts) — streaming or batch
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      seed: Long = 42L, minOverlap: Int = 72,
      maxBucketSize: Int = 64): Dataset[NearDupOut] = {
    import docs.sparkSession.implicits._
    import graft.functions.hashes
    import graft.text.TextFunctions
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        hashes.minhashShingles(TextFunctions.tokens(col("text")), shingleSize, numHashes, seed)
          .as("sig"))
      // shingle-less stubs share the empty-input sentinel signature,
      // which gets no band buckets (same rule as the batch path)
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(hashes.bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("doc_id"), col("ts"), col("sig"))
      .as[(Int, Long, Long, Timestamp, Seq[Long])]
      .groupByKey { case (band, bucket, _, _, _) => (band, bucket) }
      .flatMapGroupsWithState[NearBuf, NearDupOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), grp: Iterator[(Int, Long, Long, Timestamp, Seq[Long])],
            state: GroupState[NearBuf]) =>
          var buf = state.getOption.getOrElse(NearBuf(Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupOut]
          // deterministic within a micro-batch: fold in (ts, id) order
          grp.toSeq.sortBy(r => (r._4.getTime, r._3)).foreach { case (_, _, id, _, sig) =>
            buf.ids.indices.foreach { i =>
              if (buf.ids(i) != id) {
                val s = buf.sigs(i)
                var ov = 0
                var j = 0
                while (j < numHashes) { if (s(j) == sig(j)) ov += 1; j += 1 }
                if (ov >= minOverlap) out += NearDupOut(id, buf.ids(i), ov)
              }
            }
            buf = NearBuf(
              (buf.ids :+ id).takeRight(maxBucketSize),
              (buf.sigs :+ sig).takeRight(maxBucketSize))
          }
          state.update(buf)
          out.iterator
      }
  }

  case class TypedEv(user_id: Long, event_type: String, ts: Timestamp)
  private val Unset = Long.MinValue // sentinel no real epoch-millis can hit (0 would shadow epoch-0 events)
  case class FunnelState(t1: Long, t2: Long, t3: Long, last: Long) // first view/click/purchase mins + max seen ts
  case class FunnelOut(user_id: Long, funnel_depth: Int)

  /**
   * Streaming twin of the batch events_funnel: per-user ordered
   * view -> click -> purchase progression tracked in
   * flatMapGroupsWithState (three unconditional first-occurrence
   * minimums, exactly the batch semantics), emitted when the
   * event-time timeout closes the user. The timeout is set from the
   * MAX timestamp ever seen for the user (carried in state), so a
   * late-but-in-watermark event can only extend the close, never pull
   * it earlier. Null-timestamp rows are dropped like the batch twin's
   * min(when(...)) skips them. Batch/stream parity is spec-asserted
   * on identical inputs.
   */
  def funnelFMGWS(
      events: Dataset[TypedEv], watermark: String = "2 hours",
      idleCloseMs: Long = 3600 * 1000L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .filter(_.ts != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TypedEv], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // depth falls out of the first-occurrence ordering, exactly
            // the batch query's when-chain over min(when(type, ts))
            val s = state.get
            state.remove()
            val depth =
              if (s.t1 != Unset && s.t2 != Unset && s.t3 != Unset && s.t1 < s.t2 && s.t2 < s.t3) 3
              else if (s.t1 != Unset && s.t2 != Unset && s.t1 < s.t2) 2
              else if (s.t1 != Unset) 1 else 0
            Iterator(FunnelOut(user, depth))
          } else {
            // three unconditional first-occurrence mins: order-insensitive
            // within and across micro-batches, so late/reordered events
            // inside the watermark cannot change the result
            var s = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset, Unset))
            rows.foreach { e =>
              val t = e.ts.getTime
              s = s.copy(last = math.max(s.last, t))
              e.event_type match {
                case "view" => s = s.copy(t1 = minSet(s.t1, t))
                case "click" => s = s.copy(t2 = minSet(s.t2, t))
                case "purchase" => s = s.copy(t3 = minSet(s.t3, t))
                case _ => ()
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(s.last + idleCloseMs)
            Iterator.empty
          }
      }
  }

  private def minSet(cur: Long, cand: Long): Long =
    if (cur == Unset) cand else math.min(cur, cand)

  case class Ev(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)
  /** undecided events within the watermark horizon (parallel arrays —
    * simple state-store encoding), kept sorted by (ts, event_id) */
  case class SessBuf(ts: Seq[Long], ids: Seq[Long])

  case class TransEv(user_id: Long, event_id: Long, event_type: String, ts: Timestamp)
  case class TransOut(user_id: Long, from_type: String, to_type: String)
  /** buffered (ts, event_id, type) rows awaiting a final successor */
  case class TransBuf(ts: Seq[Long], ids: Seq[Long], types: Seq[String])

  /**
   * Streaming twin of the batch events_markov: per-user next-event
   * transitions emitted INCREMENTALLY. A pair (a -> b) is final once
   * the watermark passes b strictly: any still-admissible event has
   * ts >= watermark and could otherwise order between a and b (at
   * b.ts it could even tie-break by event_id), so eager emission would
   * mis-order exactly the late events the watermark admits. The buffer
   * keeps the last emitted 'to' row — it is the next pair's 'from' —
   * plus everything unemitted, so state is bounded by the watermark
   * horizon. The event-time timeout flushes the tail pairs when the
   * user goes idle. Downstream, a plain streaming groupBy over
   * (from_type, to_type) turns the append stream into the transition
   * matrix; batch/stream parity is spec-asserted on identical inputs.
   */
  def markovFMGWS(
      events: Dataset[TransEv], watermark: String = "2 hours",
      idleCloseMs: Long = 3600 * 1000L): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.ts != null && e.event_type != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransBuf, TransOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TransEv], state: GroupState[TransBuf]) =>
          val prior = state.getOption
            .map(b => b.ts.indices.map(i => (b.ts(i), b.ids(i), b.types(i))))
            .getOrElse(Seq.empty)
          val all = (prior ++ rows.map(e => (e.ts.getTime, e.event_id, e.event_type)))
            .sortBy(t => (t._1, t._2)).toVector
          if (all.length < 2) {
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else if (all.isEmpty) { if (state.exists) state.remove(); Iterator.empty }
            else {
              state.update(TransBuf(all.map(_._1), all.map(_._2), all.map(_._3)))
              state.setTimeoutTimestamp(
                math.max(all.last._1 + idleCloseMs, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
          } else if (state.hasTimedOut) {
            // idle close: every buffered pair is final
            state.remove()
            all.sliding(2).map(p => TransOut(user, p(0)._3, p(1)._3))
          } else {
            val wm = state.getCurrentWatermarkMs()
            // pairs whose 'to' sits strictly before the watermark are final
            val nFinal = all.lastIndexWhere(_._1 < wm) // index of last final 'to'
            val emit = (1 to math.max(nFinal, 0))
              .map(i => TransOut(user, all(i - 1)._3, all(i)._3))
            val keep = all.drop(math.max(nFinal, 0))
            state.update(TransBuf(keep.map(_._1), keep.map(_._2), keep.map(_._3)))
            state.setTimeoutTimestamp(math.max(keep.last._1 + idleCloseMs, wm + 1))
            emit.iterator
          }
      }
  }

  case class AttrEv(
      user_id: Long, event_id: Long, event_type: String, value: Double,
      ts: Timestamp)
  case class AttrOut(
      user_id: Long, event_id: Long, channel: String, value: Double)
  /** carried last-finalized touch ("" = none yet) + pending event buffer */
  case class AttrBuf(
      carry: String, ts: Seq[Long], ids: Seq[Long], types: Seq[String],
      values: Seq[Double])

  /**
   * Streaming twin of the batch events_attribution: each purchase
   * credits the user's most recent PRECEDING touch (click/view/signup),
   * 'direct' when none precedes — emitted incrementally. A purchase is
   * final only once the watermark STRICTLY passes its ts: any
   * still-admissible late event has ts >= watermark and could otherwise
   * order between the last seen touch and the purchase (at purchase.ts
   * it could even tie-break ahead by event_id), flipping its channel.
   * Finalized events fold into ONE carried touch type (the latest —
   * older touches can never be "most recent preceding" for any later
   * purchase), so state is that scalar plus the sub-watermark buffer:
   * bounded by the horizon, independent of stream length. The
   * event-time timeout flushes pending purchases when the user goes
   * idle. Downstream a plain streaming groupBy over channel turns the
   * append stream into the batch query's revenue rollup; batch/stream
   * parity is spec-asserted on identical out-of-order inputs.
   */
  def attributionFMGWS(
      events: Dataset[AttrEv], watermark: String = "2 hours",
      idleCloseMs: Long = 3600 * 1000L): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    val touches = Set("click", "view", "signup")
    events
      .filter(e => e.ts != null && e.event_type != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrBuf, AttrOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[AttrEv], state: GroupState[AttrBuf]) =>
          val prior = state.getOption
          val carried = prior.map(_.carry).getOrElse("")
          val pending = prior
            .map(b => b.ts.indices.map(i => (b.ts(i), b.ids(i), b.types(i), b.values(i))))
            .getOrElse(Seq.empty)
          val all = (pending ++
            rows.map(e => (e.ts.getTime, e.event_id, e.event_type, e.value)))
            .sortBy(t => (t._1, t._2)).toVector
          // replay events up to `until` against the carry: purchases emit
          // with the channel carried at that point, touches advance it
          def replay(evs: Seq[(Long, Long, String, Double)], carry0: String) = {
            var carry = carry0
            val out = Vector.newBuilder[AttrOut]
            evs.foreach { case (_, id, tpe, v) =>
              if (touches(tpe)) carry = tpe
              else if (tpe == "purchase")
                out += AttrOut(user, id, if (carry.isEmpty) "direct" else carry, v)
            }
            (out.result(), carry)
          }
          if (state.hasTimedOut) {
            // idle close: everything buffered is final
            state.remove()
            replay(all, carried)._1.iterator
          } else if (all.isEmpty) {
            // nothing buffered or new; keep any carried touch — it is
            // still the channel of the user's next purchase
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val (fin, rest) = all.partition(_._1 < wm)
            val (emit, carry) = replay(fin, carried)
            state.update(AttrBuf(carry, rest.map(_._1), rest.map(_._2),
              rest.map(_._3), rest.map(_._4)))
            state.setTimeoutTimestamp(math.max(
              (if (rest.nonEmpty) rest.last._1 else wm) + idleCloseMs, wm + 1))
            emit.iterator
          }
      }
  }

  case class AnomEv(event_id: Long, event_type: String, value: Double, ts: Timestamp)
  case class AnomOut(event_id: Long, event_type: String, z: Double, anomalous: Boolean)
  /** O(1) running stats (count + cents-fixed-point sum / sum-of-squares)
    * plus the sub-watermark event buffer */
  case class AnomBuf(
      n: Long, s: Long, ss: Long, ts: Seq[Long], ids: Seq[Long], vals: Seq[Double])

  /**
   * Streaming anomaly gate: each event scores against the running
   * mean/std of all STRICTLY-EARLIER finalized events of its type —
   * the at-ingest quality fence a 100 TB feed runs (flag a metric
   * spike the moment its window finalizes, not in tomorrow's batch).
   * An event is final once the watermark strictly passes it: a
   * still-admissible late event could order before it (or tie at its
   * ts by id) and change the statistics it must be scored against.
   * Finalized events fold into THREE longs (count + cents-fixed-point
   * sum and sum-of-squares — the associative form events_zscore uses,
   * so replay order can't drift the doubles): state is those scalars
   * plus the sub-watermark buffer, bounded by the horizon and
   * independent of stream length. Unlike the session families the
   * running sums are LIFETIME state — the idle timeout flushes the
   * buffered tail but keeps the scalars, so a type that goes quiet
   * resumes with its history intact. Batch/stream parity
   * (running-prefix replay on identical out-of-order input) is
   * spec-asserted.
   */
  def anomalyFMGWS(
      events: Dataset[AnomEv], watermark: String = "2 hours",
      idleCloseMs: Long = 3600 * 1000L): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.ts != null && e.event_type != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomBuf, AnomOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (etype: String, rows: Iterator[AnomEv], state: GroupState[AnomBuf]) =>
          val prior = state.getOption.getOrElse(AnomBuf(0L, 0L, 0L, Nil, Nil, Nil))
          val pending = prior.ts.indices.map(i => (prior.ts(i), prior.ids(i), prior.vals(i)))
          val all = (pending ++ rows.map(e => (e.ts.getTime, e.event_id, e.value)))
            .sortBy(t => (t._1, t._2)).toVector
          var n = prior.n; var s = prior.s; var ss = prior.ss
          // score from the sums BEFORE folding the event in (an event is
          // never its own baseline), then fold
          def scoreAndFold(id: Long, v: Double): AnomOut = {
            val out =
              if (n < 2) AnomOut(id, etype, 0.0, anomalous = false)
              else {
                val mean = s.toDouble / 100.0 / n.toDouble
                val vr = ss.toDouble / 10000.0 / n.toDouble - mean * mean
                val std = math.sqrt(math.max(vr, 0.0))
                if (std <= 0.0) AnomOut(id, etype, 0.0, anomalous = false)
                else AnomOut(id, etype, (v - mean) / std,
                  anomalous = math.abs(v - mean) > 3.0 * std)
              }
            val c = math.round(v * 100)
            n += 1; s += c; ss += c * c
            out
          }
          val cut =
            if (state.hasTimedOut) all.length
            else all.lastIndexWhere(_._1 < state.getCurrentWatermarkMs()) + 1
          val emit = all.take(cut).map { case (_, id, v) => scoreAndFold(id, v) }
          val keep = all.drop(cut)
          state.update(AnomBuf(n, s, ss, keep.map(_._1), keep.map(_._2), keep.map(_._3)))
          if (keep.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              keep.last._1 + idleCloseMs, state.getCurrentWatermarkMs() + 1))
          emit.iterator
      }
  }

  /**
   * Custom sessionization via flatMapGroupsWithState (the escape hatch
   * for state logic session_window can't express — e.g. emitting
   * event-level session ids or capping session length).
   *
   * Events BUFFER in state until the WATERMARK passes their session's
   * close (last event + gap): a session is only emitted once no
   * late-but-in-watermark event can still join or split it — eager
   * in-batch emission would mis-assign such events, and a single
   * running (start, last) pair cannot re-open for an out-of-order
   * arrival. The buffer is bounded by the watermark horizon: everything
   * older than a closed session's end has already been emitted and
   * dropped. Timeout is set to the EARLIEST unclosed session's close,
   * so sessions flush as soon as the watermark allows, oldest first.
   */
  def sessionizeFMGWS(
      events: Dataset[Ev], gapSeconds: Long = 1800L,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    events
      .filter(_.ts != null)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(b => b.ts.zip(b.ids)).getOrElse(Seq.empty)
          val all = (prior ++ rows.map(e => (e.ts.getTime, e.event_id)))
            .sortBy(identity).toVector
          if (all.isEmpty) { if (state.exists) state.remove(); Iterator.empty }
          else {
            // split the sorted buffer into gap-delimited sessions
            val sessions = all.tail.foldLeft(Vector(Vector(all.head))) { (acc, e) =>
              if (e._1 - acc.last.last._1 <= gapMs) acc.init :+ (acc.last :+ e)
              else acc :+ Vector(e)
            }
            // a session is final once the watermark passes its close
            val (closed, open) = sessions.partition(s => s.last._1 + gapMs < wm)
            if (open.isEmpty) state.remove()
            else {
              val keep = open.flatten
              state.update(SessBuf(keep.map(_._1), keep.map(_._2)))
              // timeout must sit strictly past the watermark (Spark
              // rejects <=); an exactly-at-watermark close waits one tick
              state.setTimeoutTimestamp(math.max(open.head.last._1 + gapMs, wm + 1))
            }
            closed.iterator.map { s =>
              SessionOut(user, new Timestamp(s.head._1), new Timestamp(s.last._1), s.length.toLong)
            }
          }
      }
  }
}
