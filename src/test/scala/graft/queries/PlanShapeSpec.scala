package graft.queries

import graft.SparkSpec

/**
 * Plan-shape regression guards: the scale properties SURVEY §5 claims
 * (pushdown to the scan, broadcast dims, shuffle-free projections) are
 * asserted here so a refactor can't silently regress them.
 */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physical(q: String): String =
    graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q6: selective predicates are pushed to the parquet scan") {
    val plan = physical("q6_forecast")
    val pushed = plan.split("PushedFilters: \\[").drop(1)
    assert(pushed.nonEmpty && pushed.exists(seg => !seg.startsWith("]")), plan.take(2000))
    assert(plan.contains("l_shipdate"), "shipdate range should reach the reader")
  }

  test("q6: scan reads only the referenced columns") {
    val plan = physical("q6_forecast")
    val readSchema = plan.split("ReadSchema: ").drop(1).headOption.getOrElse("")
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_returnflag"),
      readSchema.take(300))
  }

  test("q5: dimension joins broadcast") {
    val plan = physical("q5_multijoin")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q5/q7/q10/q14: no forced broadcast on SF-scaling tables (only nation/region hinted)") {
    // a broadcast() hint FORCES the strategy regardless of size — fine
    // for fixed-cardinality dims, an executor OOM for customer/supplier/
    // part at 100x SF. Statistics/AQE must pick those; the hint count in
    // the analyzed plan pins exactly the fixed dims.
    def analyzedHints(q: String): Int =
      "UnresolvedHint|ResolvedHint".r.findAllIn(
        graft.SparkEntry.queries(q)(spark, dir).queryExecution.analyzed.toString).length
    assert(analyzedHints("q5_multijoin") === 2, "q5 should hint only nation+region")
    assert(analyzedHints("q7_volume") === 2, "q7 should hint only the two nation views")
    assert(analyzedHints("q10_returns") === 0, "q10 should leave customer to AQE")
    assert(analyzedHints("q14_promo") === 0, "q14 should leave part to AQE")
    // and statistics still pick broadcast at test scale (plans don't regress)
    for (q <- Seq("q7_volume", "q10_returns", "q14_promo"))
      assert(physical(q).contains("BroadcastHashJoin"), s"$q lost its stats-picked broadcast")
  }

  test("q4_priority: single shuffled LEFT SEMI join, no dedup-aggregate rewrite") {
    val plan = physical("q4_priority")
    assert(plan.contains("LeftSemi"), plan.take(2000))
    // the only aggregates are the final groupBy's partial+final pair; a
    // dedup-then-inner-join rewrite would add more
    assert("HashAggregate".r.findAllIn(plan).length <= 2, plan.take(3000))
    // both semi-join sides shuffle on the key plus the agg shuffle — no
    // extra data movement beyond that
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3, plan.take(3000))
  }

  test("knn_ivf_filter: the label predicate joins the pruned-list scan, not a flat fallback") {
    // the selector runs inside the probed-list scan job (selector-inside-
    // IVF): the search's one shard top-k job is submitted by IVF's
    // restricted route and runs one stage, and no job scans the flat
    // fallback. A job's call site is its stages' `details`.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add((j.stageInfos.map(_.details).mkString("\n"), j.stageIds))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        submitted.add(s.stageInfo.stageId)
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { physical("knn_ivf_filter"); org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toSeq
    val search = all.filter(_._1.contains("graft.search.Knn$.shardTopK"))
    assert(search.size === 1, all.map(_._1.take(400)).mkString("\n---\n"))
    assert(search.head._1.contains("IndexCatalog$IvfBuilt.searchRestricted"), search.head._1)
    assert(search.head._2.count(s => submitted.contains(s)) === 1, search.head._1.take(400))
    assert(!all.exists(_._1.contains("searchFlatFast")), all.map(_._1.take(400)).mkString("\n---\n"))
  }

  test("embed_quantize: pure projection, no exchange") {
    val plan = physical("embed_quantize")
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("knn_flat_l2: map-side partial top-k before the single shuffle") {
    val plan = physical("knn_flat_l2")
    assert(plan.contains("partial_vec_topk"), plan.take(3000))
    assert(plan.split("Exchange hashpartitioning").length <= 2, // exactly one agg shuffle
      plan.take(3000))
  }

  test("pack_sequences: the only shuffle is keyed by the packing group") {
    val plan = physical("pack_sequences")
    assert(plan.contains("hashpartitioning(lang"), plan.take(2000))
  }

  private def exchanges(q: String): Int =
    "Exchange hashpartitioning".r.findAllIn(physical(q)).length

  test("per-row pipelines are shuffle-free (scan-stage only)") {
    // these run entirely inside the scan stage: any Exchange appearing
    // here means a per-row operator started moving data
    for (q <- Seq("mm_decode", "text_quality", "text_repetition", "text_tokens",
        "text_scrub", "sample_split", "mm_resize"))
      assert(exchanges(q) === 0, s"$q grew a shuffle")
  }

  test("single-shuffle aggregations stay single-shuffle") {
    // map-side partial aggregation means ONE hash exchange end-to-end
    assert(exchanges("dedup_exact") === 1)
    assert(exchanges("events_props_extract") === 1)
    assert(exchanges("events_asof") === 1, "as-of join must stay the tagged-union window plan")
    assert(exchanges("q18_large_orders") === 1, "lineitem agg is the only hash shuffle (joins broadcast at this scale)")
    assert(exchanges("events_funnel") === 2, "user agg + tiny depth rollup")
  }

  test("q2_mincost: decorrelated to ONE shuffle (window min), no self-join") {
    val plan = physical("q2_mincost")
    assert(exchanges("q2_mincost") === 1, plan.take(2000))
    assert(!plan.contains("Join"), "argmin must not plan as a self-join: " + plan.take(2000))
  }

  test("q13_custdist: left join survives (ON-clause filter doesn't turn it inner)") {
    val plan = physical("q13_custdist")
    assert(plan.contains("LeftOuter"), plan.take(3000))
  }

  test("q22_idle_rich: NOT EXISTS plans as an anti join, threshold as a 1-row broadcast") {
    val plan = physical("q22_idle_rich")
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "scalar avg must broadcast, not collect: " + plan.take(3000))
  }

  test("q15_top_supplier: scalar max is a broadcast equality join, lineitem scanned once") {
    val plan = physical("q15_top_supplier")
    // rev is computed once and reused under a broadcast-exchange of the
    // 1-row max — the plan must not re-aggregate lineitem twice
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("sales_rollup/sales_pivot: one-pass grouping (expand before a single agg shuffle)") {
    val rp = physical("sales_rollup")
    assert(rp.contains("Expand"), rp.take(2000))
    assert(exchanges("sales_rollup") === 1, rp.take(2000))
    // enumerated-value pivot: no distinct-discovery job; phase-one
    // group agg is map-side combined, so the second (pivotfirst)
    // shuffle moves only the tiny grouped intermediate
    val pp = physical("sales_pivot")
    assert(exchanges("sales_pivot") === 2, pp.take(2000))
    assert(pp.contains("partial_pivotfirst"), pp.take(2000))
    assert(pp.contains("partial_sum"), "phase one must map-side combine: " + pp.take(2000))
  }

  test("text_chunk: chunking is a scan-stage explode, no shuffle") {
    assert(exchanges("text_chunk") === 0)
  }

  test("knn_hamming: one packed-bits scan (broadcast queries) + the top-k shuffle only") {
    val plan = physical("knn_hamming")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(exchanges("knn_hamming") === 1, "coarse scan -> one top-k aggregate shuffle")
  }

  test("pipeline_curate/pipeline_rag: dedup step partial-aggregates, no window over text") {
    for (q <- Seq("pipeline_curate")) { // pipeline_rag plans lazily through the catalog
      val plan = physical(q)
      assert(plan.contains("partial_min"), s"$q: struct min must combine map-side")
      assert(!plan.contains("Window"), s"$q: no window sort over gated rows")
    }
  }

  test("dedup_chunks: one hash shuffle with map-side partial min, no window sort") {
    val plan = physical("dedup_chunks")
    assert(exchanges("dedup_chunks") === 1)
    assert(plan.contains("partial_min"), "struct min must partial-aggregate map-side")
    assert(!plan.contains("Window"), "no window rank over chunk rows")
  }

  test("sample_quota: one shuffle, keyed by the quota domain") {
    val plan = physical("sample_quota")
    assert(exchanges("sample_quota") === 1)
    assert(plan.contains("hashpartitioning(source"), plan.take(2000))
  }

  test("knn_radius: broadcast queries, no shuffle — radius filter inside the scan stage") {
    val plan = physical("knn_radius")
    assert(exchanges("knn_radius") === 0, plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("hot paths stay inside WholeStageCodegen (no interpreted fallback in the scan stage)") {
    // the distance kernel, text kernels, and hash projections are
    // native codegen Expressions; if one falls back to interpreted
    // eval, the scan stage loses its codegen span. AQE hides codegen
    // annotations until stages materialize, so execute first and read
    // the FINAL plan.
    for (q <- Seq("knn_flat_l2", "text_repetition", "text_quality", "dist_metrics",
        "sample_split", "events_zscore", "knn_radius")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect() // count() plans a separate clone; execute THIS plan so AQE finalizes it
      val plan = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Operator" in the compact tree
      assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined ||
        plan.contains("WholeStageCodegen"), s"$q lost codegen")
    }
  }

  test("new analytics hint audit: only fixed dims / 1-row aggregates are broadcast-hinted") {
    def analyzedHints(q: String): Int =
      "UnresolvedHint|ResolvedHint".r.findAllIn(
        graft.SparkEntry.queries(q)(spark, dir).queryExecution.analyzed.toString).length
    assert(analyzedHints("q8_share") === 3, "q8: nation x2 + region only")
    assert(analyzedHints("q15_top_supplier") === 1, "q15: the 1-row max only")
    assert(analyzedHints("q22_idle_rich") === 1, "q22: the 1-row avg only")
    assert(analyzedHints("q13_custdist") === 0, "q13: orders/customer stay AQE-picked")
    assert(analyzedHints("q17_small_qty") === 0, "q17: part/avgq stay AQE-picked")
    assert(analyzedHints("q9_profit") === 1, "q9: nation only")
    assert(analyzedHints("q11_part_value") === 1, "q11: the 1-row total only")
    assert(analyzedHints("q12_late_priority") === 0, "q12: orders stays AQE-picked")
    assert(analyzedHints("q16_variety") === 0, "q16: part stays AQE-picked")
    assert(analyzedHints("q20_heavy_suppliers") === 1, "q20: nation only")
    assert(analyzedHints("q21_waiting") === 0, "q21: supplier stays AQE-picked")
  }

  test("q11_part_value: the per-part aggregate shuffle is REUSED for the global total") {
    // byPart feeds both the survivors filter and the 1-row total; if the
    // exchange stopped being reused, lineitem would be scanned+aggregated
    // twice (2x the biggest table at 100 TB)
    val df = graft.SparkEntry.queries("q11_part_value")(spark, dir)
    df.collect() // AQE finalizes reuse only on the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      plan.contains("TableCacheQueryStage"), plan.take(3000))
  }

  test("dedup_span_removal: corpus scanned + tokenized ONCE (window count, no join-back)") {
    // the repeated-window filter is a window count over h on the single
    // hashed projection; an aggregate+join-back shape would scan and
    // md5-tokenize the corpus twice (column pruning makes the two
    // subtrees non-identical, so exchange reuse cannot save it)
    val df = graft.SparkEntry.queries("dedup_span_removal")(spark, dir)
    df.collect()
    // executedPlan.toString repeats the tree under "== Initial Plan ==";
    // count scans in the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans === 1, s"expected one documents scan, got $scans:\n${plan.take(3000)}")
  }

  test("q16/q20/q21: exclusion and semi-join plan shapes survive") {
    assert(physical("q16_variety").contains("LeftAnti"), "q16 NOT IN must stay anti join")
    assert(physical("q20_heavy_suppliers").contains("LeftSemi"),
      "q20 IN-subquery must stay semi join")
    val q21 = physical("q21_waiting")
    assert(q21.contains("TakeOrderedAndProject"),
      "q21 top-10 must not global-sort: " + q21.take(2000))
    assert(!q21.contains("Expand"),
      "q21 must use the two-level aggregate, not Expand-based distinct counts")
  }

  test("text_gopher: shuffle-free multi-kernel projection, tokenize evaluated once") {
    val plan = physical("text_gopher")
    assert(exchanges("text_gopher") === 0, plan.take(2000))
    // subexpression elimination: the split appears once in the project
    // (4 kernel columns share it), not once per output column
    val df = graft.SparkEntry.queries("text_gopher")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\)""".r.findFirstIn(fin).isDefined, "gopher panel lost codegen")
  }

  test("embed_cluster: assignment is a scan-stage projection; one rollup shuffle") {
    val plan = physical("embed_cluster")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(exchanges("embed_cluster") === 1, plan.take(2000))
  }

  test("text_bm25: stats broadcast back, top-k via TakeOrdered — no global sort") {
    val plan = physical("text_bm25")
    // the 1-row stats aggregate joins back as a broadcast nested loop
    // (no key), never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not be a global Sort+Limit")
    assert(!plan.contains("GlobalLimit"), plan.take(3000))
  }

  test("hybrid_rrf: fusion operates on truncated lists — both sides TakeOrdered") {
    val plan = physical("hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      "both modality top-100s must come from per-partition heaps:\n" + plan.take(3000))
  }

  test("vs_sql_search: the rewrite plans exactly ONE search (no inferred-filter duplicate)") {
    // InferFiltersFromGenerate once duplicated the whole search through a
    // pushed-down size(faiss_search(...)) > 0 guard; the vacuous-guard
    // strip must keep the plan at a single search node
    val df = graft.SparkEntry.queries("vs_sql_search")(spark, dir)
    val before = graft.index.IndexCatalog.searchesPlanned.get()
    df.collect()
    // ...and executing it searched exactly once (a duplicated call would
    // be a second node, and a second search)
    val planned = graft.index.IndexCatalog.searchesPlanned.get() - before
    assert(planned === 1L, s"execution ran $planned searches, expected 1")
    val plan = df.queryExecution.executedPlan
    val execs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case e: graft.sql.FaissSearchExec => e }
    assert(execs.length === 1, plan.toString.take(3000))
  }

  test("contamination_bloom: sorted-set screen in the scan stage, no joins or keyed shuffles") {
    val plan = physical("contamination_bloom")
    // small eval set -> the distinct hashes ride the closure as ONE
    // sorted array and the screen is a scan-stage projection: one
    // compiled shingle kernel + binary searches, NO join, NO keyed
    // shuffle, NO explode (the Bloom + broadcast-verify-join fallback
    // only engages past the sorted-array closure bound)
    assert(plan.contains("sorted_set_hit_count"), plan.take(2000))
    assert(plan.contains("shingle_hashes_xx"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(4000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("text_heavy_hitters: partial sketches merge, no keyed term shuffle") {
    val plan = physical("text_heavy_hitters")
    assert(plan.contains("partial_freq_items_agg"), plan.take(2000))
    // the ONLY exchanges are the round-robin widen and the single-
    // partition sketch merge — a keyed shuffle would mean terms moved
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(4000))
  }

  test("events_theta_churn / events_hll_rollup: rollup shuffles carry sketches, not ids") {
    val churn = physical("events_theta_churn")
    assert(churn.contains("partial_theta_sketch_agg"), churn.take(2000))
    val rollup = physical("events_hll_rollup")
    // two-level sketch shape: raw ids fold into partial sketches before
    // the fine shuffle, and the coarse rollup PARTIALLY UNIONS sketches
    // map-side — so the second shuffle moves union buffers, never ids
    assert(rollup.contains("partial_hll_sketch_agg(user_id"), rollup.take(3000))
    assert(rollup.contains("partial_hll_union_agg(sk"), rollup.take(3000))
  }

  test("dedup_spans: the span-key shuffle carries (doc_id, span) pairs, not documents") {
    val q = graft.SparkEntry.queries("dedup_spans")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // no full-text column may cross a KEYED shuffle (the round-robin
    // widen of the single-file scan is allowed to carry text — it IS
    // the scan stage): every hashpartitioning Exchange moves spans/ids
    assert(!plan.split("Exchange hashpartitioning").drop(1).exists(_.take(400).contains("text#")),
      plan.take(4000))
  }

  test("knn_matryoshka: both stages broadcast the small side; survivors fetched by broadcast join") {
    val plan = physical("knn_matryoshka")
    // coarse queries + survivor set + re-rank queries all broadcast —
    // the corpus never shuffles for a join; the only hash exchanges are
    // the two bounded top-k merges (partitions x Q x k rows each)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan.take(3000))
    assert("partial_vec_topk".r.findAllIn(plan).length === 2,
      "expected exactly two top-k pipelines (coarse + re-rank):\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("text_winnowing: fingerprint selection is a scan-stage projection, zero shuffles") {
    assert(exchanges("text_winnowing") === 0,
      physical("text_winnowing").take(3000))
  }

  test("dedup_winnow: only (doc_id, fp) longs cross keyed shuffles, never text") {
    val plan = physical("dedup_winnow")
    assert(!plan.split("Exchange hashpartitioning").drop(1).exists(_.take(400).contains("text#")),
      plan.take(4000))
  }

  test("sample_temperature: rates broadcast back, documents shuffle only for the count") {
    val plan = physical("sample_temperature")
    // the sampling filter itself must join via broadcast (never shuffle
    // the corpus on source), and the only hash exchanges belong to the
    // tiny source rollup (partial-aggregated)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.split("Exchange hashpartitioning").drop(1).exists(_.take(400).contains("text#")),
      "document text must never cross a keyed shuffle:\n" + plan.take(4000))
  }

  test("events_markov: one user window shuffle + partial-aggregated rollup, no text movement") {
    val plan = physical("events_markov")
    // window over user_id, then the (from,to) rollup; the normalizer
    // windows over the aggregate — 3 keyed exchanges total, all narrow
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3, plan.take(3000))
    val lines = plan.linesIterator.toVector
    val ex = lines.indexWhere(l => l.contains("Exchange hashpartitioning") && l.contains("from_type"))
    assert(ex >= 0, "rollup exchange present:\n" + plan.take(2000))
  }

  test("events_seasonality: ONE raw-events scan; totals come from the profile window") {
    val plan = physical("events_seasonality")
    assert("FileScan parquet".r.findAllIn(plan).length === 1,
      "type totals must window over the profile, not re-scan events:\n" + plan.take(2000))
    assert(plan.contains("Window"), "share_bp should come from a window over the rollup")
  }

  test("sample_importance: two corpus passes (DSIR count + score), distributed top-M") {
    val plan = physical("sample_importance")
    assert("FileScan parquet".r.findAllIn(plan).length === 2,
      "the DSIR pipeline is exactly two passes:\n" + plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-M must be a distributed TakeOrdered, not a global sort")
    assert(plan.contains("BroadcastHashJoin"), "the ppm table must broadcast")
  }

  test("pipeline_pretrain: text never reaches the selection shuffles, top-M is TakeOrdered") {
    val plan = physical("pipeline_pretrain")
    assert(plan.contains("TakeOrderedAndProject"),
      "DSIR selection must be a distributed top-M")
    assert(plan.contains("BroadcastHashJoin"), "ppm/selection joins should broadcast")
  }

  test("events_burst_users: one hourly rollup then a user argmax — two aggregate layers only") {
    val plan = physical("events_burst_users")
    assert("FileScan parquet".r.findAllIn(plan).length === 1, "events read once")
    // hourly partial+final, then argmax partial+final = at most 4 HashAggregates
    assert("HashAggregate".r.findAllIn(plan).length <= 4, plan.take(2000))
  }

  test("basket_pairs: the pair self-join is co-partitioned on the order key") {
    val plan = physical("basket_pairs")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("text_classifier: hash/bucket/weight in the scan stage, ONE partial-aggregated shuffle") {
    assert(exchanges("text_classifier") === 1)
    val plan = physical("text_classifier")
    // partial aggregation before the exchange: the shuffle carries one
    // (doc_id, sum, count) row per doc per partition, never tokens
    // the exchange's DIRECT child is the partial aggregate — shuffled
    // rows are (doc_id, partial sum, partial count), never tokens
    val lines = plan.linesIterator.toVector
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(ex >= 0 && lines(ex + 1).contains("partial_sum"),
      "shuffle input must be the partial aggregate:\n" + plan.take(3000))
  }
}
