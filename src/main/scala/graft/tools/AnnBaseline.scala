package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.index.IndexCatalog
import graft.queries.Tables

/**
 * Reproducible ANN micro-bench: QPS at matched recall for the index
 * family vs the exact scan — the comparison shape of the reference's
 * own SQL-vs-FAISS plot (/root/reference/plots/vss.png: brute-force
 * SQL scan vs faiss index search, log-scale wall time). The DuckDB
 * twin of the brute-force tier lives in tools/baseline_duckdb.py; the
 * two together produce BASELINE.md's "within 2x" table.
 *
 * Method: build each index once (untimed — build cost is amortized
 * over a serving lifetime), warm once, then time R repeated top-5
 * search batches end-to-end (plan + execute + collect, what a serving
 * call pays) and keep the per-tier MIN (the truer cost of the plan on
 * a noisy shared box). Recall@5 is measured against the flat scan on
 * the identical batch.
 *
 * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
 *   sbt "runMain graft.tools.AnnBaseline"
 * Emits one JSON line per (corpus, tier).
 */
object AnnBaseline {
  private val K = 5
  private val Reps = 5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("label"), vec.vector(col("embedding")).as("vec"))
    val queries = Tables(spark, sfDir, "embeddings").where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))
      .cache()
    val nQueries = queries.count()

    // two corpus rungs: the raw table and a 50x replicated twin —
    // the rung where pruning visibly beats the scan
    def replicated(times: Int): DataFrame =
      spark.range(0, times).select(col("id").as("copy"))
        .join(broadcast(Tables(spark, sfDir, "embeddings")))
        .select((col("vec_id") + col("copy") * 1000000L).as("label"),
          vec.vector(col("embedding")).as("vec"))

    // DISTINCT-vector rung (VERDICT r11 #5): per-copy deterministic
    // jitter makes every one of the ~1M vectors unique, so recall@5
    // against the exact scan carries information at the rung where
    // pruning matters — on the pure replicas each query's true
    // neighbors exist in 500 copies that all land in the same IVF list
    // and recall is trivially 1.0 (BASELINE.md's * caveat). Jitter is
    // uniform in [-0.2, 0.2] per dim from a hash of (label, dim):
    // copies stay CLUSTERED around their original (the adversarial
    // shape for a partial probe: a query's true top-5 are 5 specific
    // jittered copies, and a missed list loses them) but are never
    // equal. copy 0 keeps the exact original so queries have an
    // in-corpus anchor.
    def jittered(times: Int): DataFrame =
      spark.range(0, times).select(col("id").as("copy"))
        .join(broadcast(Tables(spark, sfDir, "embeddings")))
        .select(
          (col("vec_id") + col("copy") * 1000000L).as("label"),
          vec.vector(when(col("copy") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + (pmod(xxhash64(col("vec_id") + col("copy") * 1000000L, i),
                lit(400001L)).cast("double") / 1000000.0 - 0.2).cast("float"))
                .cast("float")))).as("vec"))

    val corpora = Seq(
      "raw" -> emb,
      "x50" -> replicated(50),
      "x500" -> replicated(500), // ~1M vectors: where pruning must win
      "x500_distinct" -> jittered(500)) // ~1M DISTINCT vectors: honest recall

    // optional corpus filter for single-rung runs (SPARK_GRAFT_BB_ONLY=x500_distinct)
    val corpusFilter = sys.env.get("SPARK_GRAFT_BB_ONLY").map(_.split(",").toSet)

    for ((corpusName, corpus) <- corpora if corpusFilter.forall(_.contains(corpusName))) {
      val n = corpus.count()
      // exact truth for recall, computed once per corpus
      val truth = graft.search.Knn.searchFlatFast(
          corpus, graft.search.Knn.collectBatch(queries), K, "l2sq")
        .select(col("qid"), col("label")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      // on replicated corpora recall@5 against the flat scan is an
      // ARTIFACT (duplicate vectors make many equally-correct answer
      // sets) — flag it in the JSON so consumers can discount it. The
      // jittered corpus is distinct-by-construction: its recall is
      // honest and the flag stays false.
      val replicatedCorpus = corpusName != "raw" && !corpusName.endsWith("_distinct")
      def run(tier: String, search: () => DataFrame): Unit = {
        search().count() // warm: builds/caches the index layout + JIT
        var best = Double.MaxValue
        var hits = -1L
        (1 to Reps).foreach { rep =>
          val t0 = System.nanoTime()
          val got = search().select(col("qid"), col("label")).collect()
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt < best) best = dt
          // recall from the FIRST measured rep only (a nondeterministic
          // tier would otherwise report whichever rep ran last); later
          // reps assert agreement instead of silently overwriting
          val repHits = got.count(r => truth((r.getLong(0), r.getLong(1)))).toLong
          if (rep == 1) hits = repHits
          else if (repHits != hits)
            System.err.println(s"[ann_baseline] $corpusName/$tier: rep $rep hit count " +
              s"$repHits != rep 1's $hits — tier is nondeterministic across reps")
        }
        val recall = hits.toDouble / truth.size
        val qps = nQueries / best
        println(s"""{"bench":"ann_baseline","engine":"graft","corpus":"$corpusName","n":$n,"tier":"$tier","k":$K,"n_queries":$nQueries,"batch_sec":$best,"qps":$qps,"recall_at_5":$recall,"replicated_corpus":$replicatedCorpus}""")
      }

      run("flat_scan", () =>
        graft.search.Knn.searchFlatFast(corpus, graft.search.Knn.collectBatch(queries), K, "l2sq"))

      // driver-local serving tier: the in-process shape the reference
      // gets from FAISS — a catalog Flat index searched over its driver
      // replica with the identical kernels (bit-equal, spec-pinned). This
      // is what removes Spark's ~0.2 s fixed job cost at the honest N=2k
      // rung; the replica budget bounds it (past it, one job a batch).
      val flat = s"bb_flat_$corpusName"
      if (IndexCatalog.exists(flat)) IndexCatalog.destroy(flat)
      IndexCatalog.create(flat, 64, "IDMap,Flat", "l2sq")
      IndexCatalog.add(corpus, flat)
      run("flat_local", () => IndexCatalog.search(flat, K, queries))

      val ivf = s"bb_ivf_$corpusName"
      if (IndexCatalog.exists(ivf)) IndexCatalog.destroy(ivf)
      IndexCatalog.create(ivf, 64, "IDMap,IVF64,Flat", "l2sq", Map("nprobe" -> "8"))
      IndexCatalog.add(corpus, ivf)
      run("ivf64_np8", () => IndexCatalog.search(ivf, K, queries))

      val hnsw = s"bb_hnsw_$corpusName"
      if (IndexCatalog.exists(hnsw)) IndexCatalog.destroy(hnsw)
      IndexCatalog.create(hnsw, 64, "IDMap,HNSW16", "l2sq", Map("efConstruction" -> "96"))
      IndexCatalog.add(corpus, hnsw)
      run("hnsw16_ef128", () =>
        IndexCatalog.search(hnsw, K, queries, Map("efSearch" -> "128")))

      val ivfpq = s"bb_ivfpq_$corpusName"
      if (IndexCatalog.exists(ivfpq)) IndexCatalog.destroy(ivfpq)
      IndexCatalog.create(ivfpq, 64, "IDMap,IVF64,PQ8", "l2sq",
        Map("nprobe" -> "8", "refine" -> "16"))
      IndexCatalog.add(corpus, ivfpq)
      run("ivfpq_np8_rf16", () => IndexCatalog.search(ivfpq, K, queries))

      // refine/nprobe recovery sweep (VERDICT r12 #1) — only on the
      // distinct-vector rung, where recall carries information: at that
      // jitter scale PQ8's quantization error sits above the intra-
      // cluster distance differences, so rf16's re-rank pool misses
      // true neighbors (0.606 @ r12). refine and nprobe are SEARCH-TIME
      // params (vs_refine_eval / vs_recall_eval are the sf-scale gates
      // predicting this), so the sweep reuses the one built index:
      // refine recovers PQ error up to the nprobe probe ceiling
      // (ivf64_np8's own recall), past which only more probes help.
      if (corpusName.endsWith("_distinct")) {
        Seq(64, 128, 256).foreach { rf =>
          run(s"ivfpq_np8_rf$rf", () =>
            IndexCatalog.search(ivfpq, K, queries, Map("refine" -> rf.toString)))
        }
        run("ivfpq_np16_rf128", () => IndexCatalog.search(ivfpq, K, queries,
          Map("nprobe" -> "16", "refine" -> "128")))
        // finer codes at the same list layout: PQ16 halves the per-sub
        // quantization error for 2x the code bytes (16 vs 8 per vector)
        val ivfpq16 = s"bb_ivfpq16_$corpusName"
        if (IndexCatalog.exists(ivfpq16)) IndexCatalog.destroy(ivfpq16)
        IndexCatalog.create(ivfpq16, 64, "IDMap,IVF64,PQ16", "l2sq",
          Map("nprobe" -> "8", "refine" -> "16"))
        IndexCatalog.add(corpus, ivfpq16)
        run("ivfpq16_np8_rf16", () => IndexCatalog.search(ivfpq16, K, queries))
        run("ivfpq16_np8_rf64", () => IndexCatalog.search(ivfpq16, K, queries,
          Map("refine" -> "64")))
      }
    }
    spark.stop()
  }
}
