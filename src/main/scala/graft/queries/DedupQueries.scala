package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dedup parity queries over documents/embeddings (SURVEY §2). */
object DedupQueries {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")

  /** SemDeDup cosine-distance prune threshold (matches the house
    * near-dup radius used by dedup_embedding_ann) */
  private val SemTau = 0.65

  /** candidate pairs: ids within a bounded window, so the exact-jaccard
    * oracle stays O(n x window) instead of O(n^2) */
  private def windowPairs(d: DataFrame, idCol: String, window: Int): DataFrame = {
    val a = d.select(col(idCol).as("a_id"))
    val b = d.select(col(idCol).as("b_id"))
    a.join(b, col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
    },
    // the splitmix/FNV hash FAMILY itself under the driver hash: the
    // exact MinHash lane values (sig[j] = min over shingles of
    // mix(fnv1a(shingle) ^ (seed + GOLDEN*j))) for a bounded doc slice,
    // replayed bit-for-bit in DuckDB via HUGEINT 64-bit-wraparound
    // arithmetic (32-bit split multiply — a 64x64 product overflows
    // INT128). This converts the "custom hash family -> rows-only"
    // justification of the banding gates into a driver-verified fact:
    // the lanes the LSH buckets are built from are cross-engine exact.
    "dedup_minhash_sig" -> { (s, dir) =>
      Dedup.minhashSignatures(
          Tables.wide(s, dir, "documents").where(col("doc_id") < 50),
          "doc_id", "text", numHashes = 16, shingleSize = 3, seed = 42L)
        .select(col("id").as("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("lane"), col("col").as("sig"))
    },
    // same treatment for the 64-bit SimHash fingerprint: per-token
    // mix(fnv1a ^ seed), per-bit +-1 tally with multiplicity, majority
    // bit assembly — the whole fingerprint replayed in SQL
    "dedup_simhash_sig" -> { (s, dir) =>
      Tables.wide(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.functions.hashes.simhash(
            graft.text.TextFunctions.tokens(col("text")), 42L).as("simhash"))
    },
    // scale pair for text dedup (the knn_flat_big pattern): the corpus
    // replicated 20x with distinct ids — 100k docs at sf0.1 — through
    // the same one-shuffle exact dedup. Replication is generated
    // partition-parallel (range join broadcast), so the scan side never
    // serializes; the text-key shuffle is the only data movement.
    "dedup_exact_big" -> { (s, dir) =>
      val copies = s.range(0, 20).select(col("id").as("copy"))
      val big = copies.join(broadcast(docs(s, dir)))
        .select((col("doc_id") + col("copy") * 1000000L).as("doc_id"), col("text"))
      Dedup.exact(big, "doc_id", "text")
    },
    // continuous-ingest dedup: screen a new crawl batch against the
    // accepted corpus (docs < 250). The batch mixes genuinely-new docs
    // (>= 250), recrawls of corpus content (ids +1e6 — must be dropped
    // by the corpus anti-join), and within-batch duplicates (ids +2e6 —
    // must collapse to the min-id copy). Exact oracle.
    "dedup_incremental" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.where(col("doc_id") < 250)
      val batch = d.where(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(d.where(col("doc_id") >= 250 && col("doc_id") < 300)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.incremental(corpus, batch, "doc_id", "text")
    },
    // the fuzzy complement of dedup_incremental: batch band buckets
    // join corpus band buckets, candidates verified by exact jaccard
    // over sorted shingle hashes. Planted recrawls (corpus docs with a
    // small appended tail, ids +1e6) must flag against their originals.
    // Custom minhash banding -> rows-only; planted-edit/unrelated-doc
    // behavior spec-asserted (DedupSpec).
    "dedup_incremental_near" -> { (s, dir) =>
      val d = docs(s, dir)
      // ASCII precondition of the XXH64 oracle, MEASURED not assumed
      // (ADVICE r13): the SQL replay hashes codepoints (ord) while the
      // engine hashes UTF-8 bytes — identical only when every byte is
      // single-byte. One cheap scan; a non-ASCII corpus withholds the
      // oracle (rows-only, loud) instead of an opaque hash mismatch.
      incNearAsciiOk =
        d.where(octet_length(col("text")) =!= length(col("text"))).isEmpty
      val corpus = d.where(col("doc_id") < 250).select(col("doc_id"), col("text"))
      val batch = d.where(col("doc_id") >= 250).select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" near dup tail")).as("text")))
      Dedup.incrementalNearDup(corpus, batch, "doc_id", "text", minJaccard = 0.7)
        .select(col("batch_id"), col("corpus_id"),
          Tables.quant4(col("jaccard")).as("jaccard"))
        .orderBy("batch_id", "corpus_id")
    },
    // shingle document-frequency profile — the histogram that sizes
    // every hot-bucket / stop-fingerprint cap in this file (how much
    // boilerplate mass sits at high df?): 3-shingle doc frequencies
    // bucketed by bit-length (floor(log2 df)+1 — an integer, no libm
    // log) with the bucket's max df. One explode + two map-side-
    // combined rollups. Exact oracle.
    "dedup_df_profile" -> { (s, dir) =>
      import graft.text.TextFunctions._
      val df = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
      df.groupBy(length(bin(col("df"))).as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"), max("df").as("max_df"))
        .orderBy("df_bucket")
    },
    // dedup impact accounting — what exact dedup actually removes, per
    // source: docs/tokens/bytes dropped and the integer-bp removal
    // rate (the cost-savings line in every dedup report). min-id
    // survivor rule replayed as one text-hash rollup, removal stats
    // re-aggregated per source; token/byte counts are integers. Exact.
    "dedup_impact" -> { (s, dir) =>
      import graft.text.TextFunctions.tokens
      val d = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          // octet_length: TRUE byte count (UTF-8), not chars — a
          // cost-savings report in "bytes" must not silently shrink on
          // a non-ASCII corpus (duck twin: strlen)
          octet_length(col("text")).cast("long").as("n_bytes"))
      val surv = d.groupBy("h").agg(min("doc_id").as("survivor"))
      d.join(surv, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("doc_id") =!= col("survivor"), 1)).as("n_removed"),
          sum(when(col("doc_id") =!= col("survivor"), col("n_tokens"))
            .otherwise(lit(0L))).as("tokens_removed"),
          sum(when(col("doc_id") =!= col("survivor"), col("n_bytes"))
            .otherwise(lit(0L))).as("bytes_removed"))
        .select(col("source"), col("n_docs"), col("n_removed"),
          col("tokens_removed"), col("bytes_removed"),
          expr("(n_removed * 10000L) div n_docs").as("removal_bp"))
    },
    // MinHash estimator audit — is the sketch good enough to trust the
    // near-dup verdicts? For every LSH candidate pair: estimated
    // jaccard (lane agreement / 128) vs TRUE shingle jaccard, with the
    // integer-bp error. Signatures join the candidate pairs (both
    // dimension-bounded), truth comes from the bounded pair list only —
    // never an all-pairs scan. Custom hash family → rows-only; the
    // estimator's error envelope (theory: σ ≈ 1/√128 ≈ 0.088) is
    // spec-asserted.
    "dedup_minhash_eval" -> { (s, dir) =>
      val d = docs(s, dir)
      // r14 (guide §2.4): this gate consumed the corpus-scan kernel
      // FOUR ways (candidate banding, est's two signature joins, the
      // truth verify) and fed `pairs` to two consumers — the finalized
      // adaptive plan ran 10 document scans with 18 minhash kernel
      // instances (plans/r14/dedup_minhash_eval_before.txt). Compute
      // the signatures ONCE and pin them (eager localCheckpoint: ~128 B
      // per doc, computed inside the timed query, never across runs);
      // derive candidates from the pinned frame and pin the bounded
      // pair list so est and truth stop re-running the LSH self-join.
      // NOTE (ADVICE r14): the two pinned frames are released by the
      // ContextCleaner when the DataFrames become unreachable after the
      // pass — ~128 B/doc each, bounded at every committed SF; a larger
      // SF rung that re-runs this gate many passes per JVM should
      // explicitly unpersist them after materializing the result
      val sig = Dedup.minhashSignatures(d, "doc_id", "text",
        numHashes = 128, shingleSize = 3, seed = 42L).localCheckpoint()
      val pairs = Dedup.candidatesFromSignatures(sig).localCheckpoint()
      val est = pairs
        .join(sig.select(col("id").as("a_id"), col("sig").as("sa")), "a_id")
        .join(sig.select(col("id").as("b_id"), col("sig").as("sb")), "b_id")
        .select(col("a_id"), col("b_id"),
          expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            .as("lanes"))
      val truth = Dedup.ngramJaccard(d, "doc_id", "text", pairs, shingleSize = 3)
      est.join(truth, Seq("a_id", "b_id"))
        .select(col("a_id"), col("b_id"),
          expr("(lanes * 10000) div 128").cast("long").as("est_bp"),
          floor(col("jaccard") * 10000 + 0.5).cast("long").as("true_bp"))
        .withColumn("err_bp", abs(col("est_bp") - col("true_bp")))
    },
    // quality-aware exact dedup: the survivor of each duplicate group
    // is the HIGHEST-QUALITY copy (ties to lowest id), not the first
    // id — when a recrawl has both a clean copy and a boilerplate-
    // mangled one of the same body, keep the better one. The group key
    // is the SCRUB-NORMALIZED hash (URLs/emails masked), so two copies
    // that differ only in volatile link spans — the classic recrawl
    // mutation — land in one group while their raw-text quality scores
    // genuinely differ; a byte-identical key would make the quality
    // tie-break vacuous. One normalized-hash shuffle with a map-side-
    // combining struct max; the quality expression is the engine-wide
    // exact chain, so survivor choice is oracle-gated too.
    "dedup_best_copy" -> { (s, dir) =>
      // tokens bound before the aggregate: the quality chain reads the
      // token array ~6 times, each a full regex split on a raw expr
      val q = graft.text.TextFunctions.qualityScoreT(col("text"), col("_toks"))
      Tables.wide(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.text.TextFunctions.tokens(col("text")).as("_toks"))
        .groupBy(md5(graft.text.TextFunctions.scrub(col("text"))).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"),
          max(struct(q.as("q"), (lit(0L) - col("doc_id")).as("nid"))).as("m"))
        .select(col("text_hash"), col("n_copies"),
          (lit(0L) - col("m.nid")).as("survivor_id"),
          // fixed-point via floor on the identical double — quant4's
          // decimal conversion half-grid-flips when quality lands on
          // x.xxxx5 (8 docs at sf0.1 did); floor of the same double is
          // bit-equal on any engine
          floor(col("m.q") * 10000 + 0.5).cast("long").as("quality_fp"))
    },
    // top-20 subset-duplication pairs (overlap coefficient
    // |A∩B|/min(|A|,|B|)) in the same id window — catches a doc QUOTED
    // inside a larger one, which symmetric jaccard dilutes
    "dedup_containment" -> { (s, dir) =>
      Dedup.containmentWindow(docs(s, dir), "doc_id", "text", window = 25, shingleSize = 2)
        .orderBy(col("containment").desc, col("a_id"), col("b_id"))
        .limit(20)
    },
    // top-20 most-similar bigram-jaccard pairs within an id window of 25
    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardWindow(docs(s, dir), "doc_id", "text", window = 25, shingleSize = 2)
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
        .limit(20)
    },
    // Winnowing-based near-dup candidates (the MOSS pipeline's second
    // half): docs sharing >= 2 selected fingerprints pair up — catches
    // PARTIAL overlap (any shared 6-token run shares a fingerprint)
    // that whole-doc hashing misses, with an EXACT oracle unlike the
    // custom-hash minhash/simhash banding (the 15-hex-md5 fingerprint
    // replays in SQL). Hot boilerplate fingerprints (doc freq > 50)
    // are dropped before pairing — the stop-fingerprint cap that keeps
    // the bucket self-join quadratic bounded at any corpus size. Only
    // (doc_id, fp) longs cross shuffles; text stays in the scan stage.
    "dedup_winnow" -> { (s, dir) =>
      import graft.text.TextFunctions._
      // single-consumption shape: ONE fp-keyed groupBy collects each
      // fingerprint's (capped) doc list, pairs explode from the list in
      // the reduce stage — the corpus is winnowed exactly once and the
      // only shuffles are the fp rollup and the bounded pair rollup
      // (a join formulation would re-hash the corpus per consumer)
      val fp = Tables.wide(s, dir, "documents")
        .withColumn("hs", shingleHashes15(tokens(col("text")), 3))
        .select(col("doc_id"), explode(winnowSelect(col("hs"), 4)).as("fp"))
      val buckets = fp.groupBy("fp").agg(collect_list("doc_id").as("ids"))
        .where(size(col("ids")).between(2, 50))
        .select(array_sort(col("ids")).as("ids"))
      buckets
        .select(explode(flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
        .select(col("p.a_id"), col("p.b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
        .limit(20)
    },
    // top-20 nearest embedding pairs within an id window of 50
    "dedup_embedding" -> { (s, dir) =>
      val e = embs(s, dir)
      Dedup.embeddingNearDup(e, "vec_id", "embedding",
          windowPairs(e, "vec_id", 50), maxCosineDist = 2.0)
        .orderBy(col("cosine_dist"), col("a_id"), col("b_id"))
        .limit(20)
        .select(col("a_id"), col("b_id"),
          Tables.quant4(col("cosine_dist")).as("cosine_dist"))
    },
    // the 100 TB twin of dedup_embedding: a distributed radius SELF-JOIN
    // through IVF buckets — both sides shuffle once on list ids, no
    // driver collect of either side, no aggregate (hits stream out of
    // the co-partitioned join). Approximate (cross-list pairs are
    // missed) -> rows-only; containment + recall spec-asserted.
    "dedup_embedding_ann" -> { (s, dir) =>
      val e = embs(s, dir)
      val res = graft.search.AnnJoin.ivfRadiusJoin(
          left = e.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          right = e.select(col("vec_id").as("label"), col("embedding").as("vec")),
          radius = 0.65, nlist = 16, nprobe = 4, metric = "cosine",
          excludeSelf = true,
          onTrained = cs => dedupAnnCents = Some(cs))
        // canonicalize orientation with least/greatest + distinct rather
        // than filtering qid < label: probing is asymmetric (b may sit in
        // a's probed lists but not vice versa), so a filter would drop
        // pairs the join already discovered in the other orientation
        .select(least(col("qid"), col("label")).as("a_id"),
          greatest(col("qid"), col("label")).as("b_id"),
          Tables.quant4(col("distance")).as("cosine_dist"))
        .dropDuplicates("a_id", "b_id")
      // EXACT via the AnnJoin per-call onTrained callback (the
      // knn_join_ann move): the radius predicate + canonicalization
      // replay in SQL against THIS call's quantizer
      res
    },
    // SemDeDup (Abbas et al. '23): cluster the corpus by centroid
    // assignment, then prune near-duplicate pairs ONLY within a cluster
    // — the clustering bounds the quadratic to sum(|cluster|^2) instead
    // of n^2, which is the whole trick (at 100 TB: k scales with the
    // corpus so clusters stay bounded, and the self-join co-partitions
    // on cluster_id — one shuffle each side, pairs never leave their
    // partition). Assignment reuses the IVF argmin kernel (shuffle-free
    // projection); survivors keep the min id, matching the house dedup
    // convention. EXACT: assignment replays in the oracle (same double
    // accumulation, ties to lowest cid) and the cosine threshold
    // compares quantized values on both sides.
    "dedup_semantic" -> { (s, dir) =>
      import graft.functions.{vec, VectorMath}
      import graft.index.FlatCoarse
      val e = embs(s, dir)
      // bounded collect: 8 seed rows (the IVF-centroid-training shape)
      val cents: Array[Array[Float]] = e.where(col("vec_id") < 8)
        .orderBy("vec_id")
        .select(vec.vector(col("embedding")))
        .collect().map(_.getSeq[Float](0).toArray)
      val assigned = e.select(
        col("vec_id"),
        vec.vector(col("embedding")).as("v"),
        element_at(FlatCoarse(cents, VectorMath.L2SQ).nearestCol(vec.vector(col("embedding")), 1), 1)
          .cast("long").as("cluster_id"))
      val a = assigned
        .select(col("cluster_id"), col("vec_id").as("a_id"), col("v").as("va"))
      val b = assigned.select(col("cluster_id").as("cb"),
        col("vec_id").as("b_id"), col("v").as("vb"))
      val pruned = a
        .join(b, col("cluster_id") === col("cb") && col("b_id") > col("a_id"))
        .where(Tables.quant4(vec.cosineDist(col("va"), col("vb"))) <= lit(SemTau))
        .select(col("cluster_id"), col("b_id")).distinct()
      assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .join(pruned.groupBy("cluster_id").agg(count(lit(1)).as("n_pruned")),
          Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("n_members"),
          coalesce(col("n_pruned"), lit(0L)).as("n_pruned"))
    },
    // MinHash-LSH: per-doc candidate-duplicate degree (custom hash family
    // -> no SQL oracle; planted dups at sf0.1 give nonzero counts)
    "dedup_minhash" -> { (s, dir) =>
      val d = docs(s, dir)
      val cands = Dedup.minhashCandidates(d, "doc_id", "text")
      // r15: explode both endpoints from ONE pass over the candidate
      // subtree — the old union of two projections duplicated the whole
      // LSH pipeline (signatures + banding self-join) into each branch
      val degree = cands
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_candidates"))
      d.select(col("doc_id"))
        .join(degree, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_dup_candidates"), lit(0L)).as("n_dup_candidates"))
    },
    // duplicate clusters: verified-pair edges -> connected components;
    // cluster_id = min reachable doc id (the canonical survivor)
    "dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup
        .ngramJaccardWindow(docs(s, dir), "doc_id", "text",
          window = 100, shingleSize = 2, minJaccard = 0.5)
        .select(col("a_id"), col("b_id"))
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id"))
            .as("cluster_size"))
    },
    // the dedup END PRODUCT: the corpus with non-canonical near-dup
    // cluster members removed (one anti-join against the cluster map)
    "dedup_survivors" -> { (s, dir) =>
      val pairs = Dedup
        .ngramJaccardWindow(docs(s, dir), "doc_id", "text",
          window = 100, shingleSize = 2, minJaccard = 0.5)
        .select(col("a_id"), col("b_id"))
      val dropped = Dedup.connectedComponents(pairs)
        .where(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs(s, dir)
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
    },
    "dedup_simhash" -> { (s, dir) =>
      val d = docs(s, dir)
      val cands = Dedup.simhashCandidates(d, "doc_id", "text", maxHamming = 3)
      // r15: one pass over the candidate subtree (see dedup_minhash)
      val degree = cands
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_near_dups"))
      d.select(col("doc_id"))
        .join(degree, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
    },
    // span-level dedup (RefinedWeb/SlimPajama-style): per doc, how many
    // of its distinct 4-token spans also occur elsewhere in the corpus.
    // One explode + one span-key shuffle + one join back — the shuffle
    // carries (doc_id, span) pairs, never documents. At 100 TB the span
    // string would ride as a 64-bit hash; it stays text here so the
    // DuckDB oracle can replay the pipeline exactly.
    "dedup_spans" -> { (s, dir) =>
      import graft.text.TextFunctions.tokens
      val n = 4
      val d = Tables.wide(s, dir, "documents")
      // bound column, not the raw split expr — slice(<split expr>, i, n)
      // in the lambda re-runs the regex per span (HOF O(n^2) trap)
      val toks = col("toks")
      val sh = d.select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
        array_distinct(
          when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - (n - 1)),
              i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("spans"))
      // r15 (guide §2.4, found by the noop-sink migration — .count()
      // pruned this query to a bare scan): the span kernel
      // (tokenize -> 4-gram transform -> array_distinct) previously fed
      // THREE subtrees (the explode for df, the explode again for the
      // per-doc join, and the final n_spans projection), and the
      // df-filter join re-shuffled the exploded pairs a second time.
      // Single pass instead: carry n_spans through one explode_outer
      // (so spanless docs keep their row), count each span's document
      // frequency with a whole-partition window (per-doc spans are
      // distinct, so the partition count IS the doc frequency), then
      // one per-doc aggregation. Kernel runs once, two shuffles, no
      // joins; row set proven identical vs the unchanged oracle.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
      sh.select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"),
          explode_outer(col("spans")).as("s"))
        .select(col("doc_id"), col("n_spans"), col("s"),
          count(lit(1)).over(w).as("df"))
        .groupBy("doc_id")
        .agg(max(col("n_spans")).as("n_spans"),
          count(when(col("s").isNotNull && col("df") >= 2, lit(1)))
            .as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          when(col("n_spans") === 0, lit(0.0))
            .otherwise(col("n_dup_spans").cast("double") /
              col("n_spans").cast("double")).as("dup_frac"))
    },
    // ExactSubstr span REMOVAL (Lee et al. '21 "Deduplicating Training
    // Data Makes Language Models Better", the production form of span
    // dedup): every W-token window repeated ANYWHERE in the corpus
    // (other docs or the same doc) marks its token range, and
    // overlapping/adjacent ranges merge into maximal cut spans —
    // exactly what a dedup pass hands the writer as per-doc (start,
    // end) token ranges to drop. TWO keyed shuffles, both carrying
    // (doc_id, pos, 60-bit hash) triples, never text: the h-partition
    // repeat count and the per-doc interval-merge window (bounded by
    // tokens-per-doc, the sessionize shape). A pathological boilerplate
    // window co-locates its occurrences in one task — the count itself
    // is O(rows) over tiny rows, the same co-location any h-keyed plan
    // needs. The 15-hex-md5 window hash replays digit-for-digit in
    // DuckDB -> exact oracle incl. the gaps-and-islands merge.
    "dedup_span_removal" -> { (s, dir) =>
      import graft.text.TextFunctions
      import org.apache.spark.sql.expressions.Window
      val W = 8
      // repeated-window detection as ONE window count over h: the corpus
      // tokenizes + hashes ONCE and shuffles once (an aggregate+join-back
      // would either re-tokenize the corpus for the count side — column
      // pruning makes the two subtrees non-identical, so the exchange is
      // NOT reusable — or shuffle the triples twice)
      val pos = Tables.wide(s, dir, "documents").select(col("doc_id"),
          TextFunctions.shingleHashes15(
            TextFunctions.tokens(col("text")), W).as("hs"))
        .select(col("doc_id"), posexplode(col("hs")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
      val spans = pos
        .withColumn("c", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .where(col("c") > 1)
        .select(col("doc_id"), col("pos").as("s"), (col("pos") + (W - 1)).as("e"))
      val w = Window.partitionBy("doc_id").orderBy("s", "e")
      spans
        .withColumn("maxe",
          max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("newg",
          when(col("maxe").isNull || col("s") > col("maxe") + 1, 1L).otherwise(0L))
        .withColumn("grp", sum("newg").over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min("s").as("span_start"), max("e").as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("n_tokens"))
    })

  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"
  private val shinglesSql =
    s"""list_distinct(CASE WHEN len(toks) >= 2
       |  THEN [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
       |  ELSE [] END)""".stripMargin

  // ---- 64-bit wraparound arithmetic in DuckDB (oracle side) --------
  // The oracle engine has no wrapping UBIGINT: a 64x64 product is done
  // in HUGEINT via a 32-bit split (hi*b mod 2^32 shifted + lo*b, all
  // mod 2^64 — no intermediate exceeds INT128), xors/shifts operate on
  // the non-negative HUGEINT representation directly.
  private[queries] val M64 = "18446744073709551616::HUGEINT"
  private[queries] def wmul(a: String, b: String): String =
    s"((((($a) >> 32) * ($b)) % 4294967296::HUGEINT) * 4294967296::HUGEINT" +
      s" + ((($a) % 4294967296::HUGEINT) * ($b))) % $M64"
  /** FNV-1a over the (ASCII) chars of string expression `g` */
  private def fnvSql(g: String): String =
    s"""list_reduce(
       |      list_prepend(14695981039346656037::HUGEINT,
       |        [ord(substring($g, i, 1))::HUGEINT FOR i IN range(1, len($g)+1)]),
       |      (acc, x) -> ${wmul("xor(acc, x)", "1099511628211::HUGEINT")})""".stripMargin
  /** splitmix64 mix() as chained CTE stages over column `z` keyed by `keys` */
  private def mixCtes(prev: String, keys: String): String =
    s"""z1 AS (SELECT $keys, (z + 11400714819323198485::HUGEINT) % $M64 AS z FROM $prev),
       |z2 AS (SELECT $keys, ${wmul("xor(z, z >> 30)", "13787848793156543929::HUGEINT")} AS z FROM z1),
       |z3 AS (SELECT $keys, ${wmul("xor(z, z >> 27)", "10723151780598845931::HUGEINT")} AS z FROM z2),
       |mx AS (SELECT $keys, xor(z, z >> 31) AS h FROM z3)""".stripMargin
  /** HUGEINT in [0, 2^64) -> the signed BIGINT Spark emits */
  private def signedSql(v: String): String =
    s"CAST(CASE WHEN $v >= 9223372036854775808::HUGEINT THEN $v - $M64 ELSE $v END AS BIGINT)"

  // ---- XXH64 (seed 42) over the UTF8 bytes of string column `g`,
  // spelled as exact HUGEINT-wraparound SQL (round 16): the full
  // algorithm — 4-lane 32-byte stripes via a list_reduce whose
  // accumulator is a 4-element HUGEINT list, the <=3 trailing 8-byte
  // words, the 4-byte word, the <=3 trailing bytes, and the avalanche —
  // validated bit-exact against Spark's xxhash64 on 60 adversarial
  // vectors (empty, every tail length, 1..2-stripe strings). ASCII
  // input assumed (ord(substring) reads codepoints; the documents
  // corpus is pure ASCII at both SFs, asserted before promotion).
  // This retires the "xxhash64 has no oracle-engine twin" adjudication.
  private val XxP1 = "11400714785074694791::HUGEINT"
  private val XxP2 = "14029467366897019727::HUGEINT"
  private val XxP3 = "1609587929392839161::HUGEINT"
  private val XxP4 = "9650029242287828579::HUGEINT"
  private val XxP5 = "2870177450012600261::HUGEINT"
  private[queries] def rotlSql(u: String, r: Int): String =
    s"(((($u) * ${1L << r}::HUGEINT) % $M64) + (($u) >> ${64 - r}))"
  private def xxWord(off: String, nBytes: Int): String =
    (1 to nBytes).map { k =>
      val mult = java.math.BigInteger.valueOf(256L).pow(k - 1)
      s"bs[($off) + $k] * $mult::HUGEINT"
    }.mkString(" + ")
  private def xxRound(v: String, w: String): String =
    wmul(rotlSql(s"((($v) + ${wmul(w, XxP2)}) % $M64)", 31), XxP1)
  private def xxRound0(w: String): String = wmul(rotlSql(wmul(w, XxP2), 31), XxP1)
  private def xxMerge(acc: String, v: String): String =
    s"(${wmul(s"xor(($acc), ${xxRound0(v)})", XxP1)} + $XxP4) % $M64"
  private def xxStepWord(h: String, w: String): String =
    s"(${wmul(rotlSql(s"xor(($h), ${xxRound0(w)})", 27), XxP1)} + $XxP4) % $M64"

  /** CTE chain `$prev($keys, g)` -> `xh($keys, g, h)` with h = the
    * unsigned XXH64(seed 42) of g's ASCII bytes. Lane inits and the
    * short-input constant are precomputed for seed 42. */
  private def xxh64Ctes(prev: String, keys: String): String = {
    val seed = BigInt(42)
    val m = BigInt(1) << 64
    val p1 = BigInt("11400714785074694791"); val p2 = BigInt("14029467366897019727")
    val p5 = BigInt("2870177450012600261")
    val iv1 = (seed + p1 + p2) mod m
    val iv2 = (seed + p2) mod m
    val iv3 = seed
    val iv4 = (seed - p1) mod m
    val h0Short = (seed + p5) mod m
    val k = keys
    s"""xb AS (SELECT $k, g, [ord(substring(g, i, 1))::HUGEINT FOR i IN range(1, len(g)+1)] AS bs,
       |  len(g)::HUGEINT AS L FROM $prev),
       |xs AS (SELECT $k, g, bs, L,
       |  CASE WHEN L >= 32 THEN list_reduce(
       |    list_prepend([$iv1::HUGEINT, $iv2::HUGEINT, $iv3::HUGEINT, $iv4::HUGEINT],
       |      [[(s*32)::HUGEINT] FOR s IN range(0, CAST(L // 32 AS BIGINT))]),
       |    (acc, st) -> [
       |      ${xxRound("acc[1]", xxWord("CAST(st[1] AS BIGINT)", 8))},
       |      ${xxRound("acc[2]", xxWord("CAST(st[1] AS BIGINT) + 8", 8))},
       |      ${xxRound("acc[3]", xxWord("CAST(st[1] AS BIGINT) + 16", 8))},
       |      ${xxRound("acc[4]", xxWord("CAST(st[1] AS BIGINT) + 24", 8))}])
       |  ELSE NULL END AS vv FROM xb),
       |xm0 AS (SELECT $k, g, bs, L, CAST((L // 32) * 32 AS BIGINT) AS o,
       |  CASE WHEN L >= 32 THEN
       |    (${rotlSql("vv[1]", 1)} + ${rotlSql("vv[2]", 7)} + ${rotlSql("vv[3]", 12)} + ${rotlSql("vv[4]", 18)}) % $M64
       |  ELSE $h0Short::HUGEINT END AS h, vv FROM xs),
       |xm1 AS (SELECT $k, g, bs, L, o, CASE WHEN L >= 32 THEN ${xxMerge("h", "vv[1]")} ELSE h END AS h, vv FROM xm0),
       |xm2 AS (SELECT $k, g, bs, L, o, CASE WHEN L >= 32 THEN ${xxMerge("h", "vv[2]")} ELSE h END AS h, vv FROM xm1),
       |xm3 AS (SELECT $k, g, bs, L, o, CASE WHEN L >= 32 THEN ${xxMerge("h", "vv[3]")} ELSE h END AS h, vv FROM xm2),
       |xm4 AS (SELECT $k, g, bs, L, o, (CASE WHEN L >= 32 THEN ${xxMerge("h", "vv[4]")} ELSE h END + L) % $M64 AS h FROM xm3),
       |xw1 AS (SELECT $k, g, bs, L, CASE WHEN o + 8 <= L THEN o + 8 ELSE o END AS o,
       |  CASE WHEN o + 8 <= L THEN ${xxStepWord("h", xxWord("o", 8))} ELSE h END AS h FROM xm4),
       |xw2 AS (SELECT $k, g, bs, L, CASE WHEN o + 8 <= L THEN o + 8 ELSE o END AS o,
       |  CASE WHEN o + 8 <= L THEN ${xxStepWord("h", xxWord("o", 8))} ELSE h END AS h FROM xw1),
       |xw3 AS (SELECT $k, g, bs, L, CASE WHEN o + 8 <= L THEN o + 8 ELSE o END AS o,
       |  CASE WHEN o + 8 <= L THEN ${xxStepWord("h", xxWord("o", 8))} ELSE h END AS h FROM xw2),
       |x4 AS (SELECT $k, g, bs, L, CASE WHEN o + 4 <= L THEN o + 4 ELSE o END AS o,
       |  CASE WHEN o + 4 <= L THEN
       |    (${wmul(rotlSql(s"xor(h, ${wmul(xxWord("o", 4), XxP1)})", 23), XxP2)} + $XxP3) % $M64
       |  ELSE h END AS h FROM xw3),
       |xt1 AS (SELECT $k, g, bs, L, CASE WHEN o + 1 <= L THEN o + 1 ELSE o END AS o,
       |  CASE WHEN o + 1 <= L THEN ${wmul(rotlSql(s"xor(h, ${wmul("bs[o + 1]", XxP5)})", 11), XxP1)} ELSE h END AS h FROM x4),
       |xt2 AS (SELECT $k, g, bs, L, CASE WHEN o + 1 <= L THEN o + 1 ELSE o END AS o,
       |  CASE WHEN o + 1 <= L THEN ${wmul(rotlSql(s"xor(h, ${wmul("bs[o + 1]", XxP5)})", 11), XxP1)} ELSE h END AS h FROM xt1),
       |xt3 AS (SELECT $k, g, bs, L, CASE WHEN o + 1 <= L THEN o + 1 ELSE o END AS o,
       |  CASE WHEN o + 1 <= L THEN ${wmul(rotlSql(s"xor(h, ${wmul("bs[o + 1]", XxP5)})", 11), XxP1)} ELSE h END AS h FROM xt2),
       |xa1 AS (SELECT $k, g, ${wmul("xor(h, h >> 33)", XxP2)} AS h FROM xt3),
       |xa2 AS (SELECT $k, g, ${wmul("xor(h, h >> 29)", XxP3)} AS h FROM xa1),
       |xh AS (SELECT $k, g, xor(h, h >> 32) AS h FROM xa2)""".stripMargin
  }

  /** shared MinHash chain CTEs (through the per-(doc, lane) SIGNED
    * minimum `sigl(doc_id, lane, sv)`): docs -> distinct 3-shingles ->
    * FNV bases -> lane xor/mix -> signed min. Tails differ per oracle. */
  private def minhashChainCtes(nLanes: Int): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
       |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
       |    ELSE [] END)) AS g
       |  FROM t),
       |base AS (SELECT doc_id, ${fnvSql("g")} AS b FROM sh),
       |lanes AS (SELECT CAST(unnest(range(0, $nLanes)) AS BIGINT) AS lane),
       |z0 AS (
       |  SELECT doc_id, lane,
       |    xor(b, (42::HUGEINT + ${wmul("lane::HUGEINT", "11400714819323198485::HUGEINT")}) % $M64) AS z
       |  FROM base CROSS JOIN lanes),
       |${mixCtes("z0", "doc_id, lane")},
       |sigl AS (SELECT doc_id, lane, min(${signedSql("h")}) AS sv FROM mx GROUP BY doc_id, lane)""".stripMargin

  /** banding tail over [[minhashChainCtes]]: unsigned lane lists ->
    * rotl7-xor band buckets -> hot-bucket cap -> distinct a<b pairs */
  private def bandPairCtes(bands: Int, rows: Int, cap: Int): String =
    s"""sigu AS (
       |  SELECT doc_id, lane,
       |    CASE WHEN sv < 0 THEN sv::HUGEINT + $M64 ELSE sv::HUGEINT END AS u
       |  FROM sigl),
       |sigarr AS (SELECT doc_id, list(u ORDER BY lane) AS sig FROM sigu GROUP BY doc_id),
       |bb AS (
       |  SELECT doc_id, band,
       |    list_reduce(
       |      list_prepend(11400714819323198485::HUGEINT, sig[band*$rows+1 : band*$rows+$rows]),
       |      (acc, x) -> xor(((acc << 7) % $M64) + (acc >> 57), x)) AS bucket
       |  FROM sigarr CROSS JOIN (SELECT CAST(unnest(range(0, $bands)) AS INTEGER) AS band)),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket,
       |      count(*) OVER (PARTITION BY band, bucket) AS n FROM bb)
       |  WHERE n <= $cap),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB replay of the incremental MinHash-LSH near-dup screen
    * (round 16 — retires the LAST hash-family adjudication): both
    * sides' 3-shingle grams -> XXH64(seed 42) via [[xxh64Ctes]] ->
    * distinct signed hash sets -> 128 minhash lanes (xor with
    * seed + GOLDEN*lane, splitmix, SIGNED min — the proven
    * dedup_minhash_sig chain) -> rotl7-xor band buckets (32 x 4) ->
    * hot-bucket cap on the CORPUS side only (count <= 1000) ->
    * distinct (batch, corpus) bucket-join candidates -> exact jaccard
    * over the full hash sets (the engine's size-ratio prefilter is a
    * pure optimization: j <= min/max, so the >= threshold filter
    * subsumes it) -> quant4 + threshold. */
  private def incrementalNearOracle: String = {
    val (nLanes, bands, rows, cap, minJ) = (128, 32, 4, 1000, 0.7)
    s"""WITH both0 AS (
       |  SELECT 0 AS side, doc_id, $toksSql AS toks FROM documents WHERE doc_id < 250
       |  UNION ALL
       |  SELECT 1, doc_id, $toksSql FROM documents WHERE doc_id >= 250
       |  UNION ALL
       |  SELECT 1, doc_id + 1000000,
       |    string_split_regex(lower(trim(text || ' near dup tail')), '\\s+')
       |  FROM documents WHERE doc_id < 30),
       |shg AS (
       |  SELECT side, doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
       |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
       |    ELSE [] END)) AS g
       |  FROM both0),
       |${xxh64Ctes("shg", "side, doc_id")},
       |hs AS (SELECT DISTINCT side, doc_id, h FROM xh),
       |ns AS (SELECT side, doc_id, count(*) AS n FROM hs GROUP BY side, doc_id),
       |lanes AS (SELECT CAST(unnest(range(0, $nLanes)) AS BIGINT) AS lane),
       |z0 AS (
       |  SELECT side, doc_id, lane,
       |    xor(h, (42::HUGEINT + ${wmul("lane::HUGEINT", "11400714819323198485::HUGEINT")}) % $M64) AS z
       |  FROM hs CROSS JOIN lanes),
       |${mixCtes("z0", "side, doc_id, lane")},
       |sigl AS (SELECT side, doc_id, lane, min(${signedSql("h")}) AS sv FROM mx GROUP BY side, doc_id, lane),
       |sigu AS (
       |  SELECT side, doc_id, lane,
       |    CASE WHEN sv < 0 THEN sv::HUGEINT + $M64 ELSE sv::HUGEINT END AS u
       |  FROM sigl),
       |sigarr AS (SELECT side, doc_id, list(u ORDER BY lane) AS sig FROM sigu GROUP BY side, doc_id),
       |bb AS (
       |  SELECT side, doc_id, band,
       |    list_reduce(
       |      list_prepend(11400714819323198485::HUGEINT, sig[band*$rows+1 : band*$rows+$rows]),
       |      (acc, x) -> xor(((acc << 7) % $M64) + (acc >> 57), x)) AS bucket
       |  FROM sigarr CROSS JOIN (SELECT CAST(unnest(range(0, $bands)) AS INTEGER) AS band)),
       |capped_c AS (
       |  SELECT doc_id, band, bucket FROM (
       |    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS n
       |    FROM bb WHERE side = 0)
       |  WHERE n <= $cap),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM (SELECT doc_id, band, bucket FROM bb WHERE side = 1) b
       |  JOIN capped_c c ON b.band = c.band AND b.bucket = c.bucket),
       |inter AS (
       |  SELECT cand.batch_id, cand.corpus_id, count(*) AS i
       |  FROM cand
       |  JOIN hs a ON a.side = 1 AND a.doc_id = cand.batch_id
       |  JOIN hs b ON b.side = 0 AND b.doc_id = cand.corpus_id AND b.h = a.h
       |  GROUP BY cand.batch_id, cand.corpus_id),
       |j AS (
       |  SELECT c.batch_id, c.corpus_id,
       |    CAST(COALESCE(i.i, 0) AS DOUBLE)
       |      / CAST(na.n + nb.n - COALESCE(i.i, 0) AS DOUBLE) AS jac
       |  FROM cand c
       |  LEFT JOIN inter i ON i.batch_id = c.batch_id AND i.corpus_id = c.corpus_id
       |  JOIN ns na ON na.side = 1 AND na.doc_id = c.batch_id
       |  JOIN ns nb ON nb.side = 0 AND nb.doc_id = c.corpus_id)
       |SELECT batch_id, corpus_id, ${Tables.quant4Sql("jac")} AS jaccard
       |FROM j WHERE jac >= $minJ
       |ORDER BY batch_id, corpus_id""".stripMargin
  }

  /** whether the gate-run documents corpus is pure ASCII (measured in
    * the dedup_incremental_near gate — the XXH64 oracle's byte-level
    * precondition); false until the gate runs → oracle withheld */
  @volatile private[queries] var incNearAsciiOk: Boolean = false

  def oracles: Map[String, String] = {
    if (!incNearAsciiOk) System.err.println(
      "[graft] dedup_incremental_near oracle withheld: corpus text not " +
        "verified pure ASCII this run — degrading to rows-only")
    (if (incNearAsciiOk) Map("dedup_incremental_near" -> incrementalNearOracle)
     else Map.empty[String, String]) ++ staticOracles
  }

  private def staticOracles: Map[String, String] = Map(
    // lane-exact MinHash signature replay (doc_id < 50, 16 lanes):
    // distinct 3-shingles -> FNV-1a base -> xor with the lane constant
    // (seed + GOLDEN*j mod 2^64) -> splitmix -> per-lane min; shingle-
    // less docs coalesce to the Long.MaxValue sentinel like the kernel
    "dedup_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 50),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
         |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
         |    ELSE [] END)) AS g
         |  FROM t),
         |base AS (SELECT doc_id, ${fnvSql("g")} AS b FROM sh),
         |lanes AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS lane),
         |z0 AS (
         |  SELECT doc_id, lane,
         |    xor(b, (42::HUGEINT + ${wmul("lane::HUGEINT", "11400714819323198485::HUGEINT")}) % $M64) AS z
         |  FROM base CROSS JOIN lanes),
         |${mixCtes("z0", "doc_id, lane")},
         |-- the kernel's per-lane min compares SIGNED longs: convert
         |-- each mixed hash to its signed value BEFORE taking the min
         |s AS (SELECT doc_id, lane, min(${signedSql("h")}) AS sv FROM mx GROUP BY doc_id, lane)
         |SELECT t.doc_id, CAST(l.lane AS INTEGER) AS lane,
         |  coalesce(s.sv, 9223372036854775807) AS sig
         |FROM t CROSS JOIN lanes l
         |LEFT JOIN s ON s.doc_id = t.doc_id AND s.lane = l.lane""".stripMargin,
    // the FULL MinHash+LSH banding pipeline replayed end-to-end (the
    // sig gate's chain continued): 128 signed-min lanes -> 32 rotl7-xor
    // band buckets (unsigned fold, init GOLDEN) -> hot-bucket cap ->
    // same-bucket pairs a<b distinct -> per-doc candidate degree.
    // Converts dedup_minhash itself from rows-only to EXACT.
    "dedup_minhash" ->
      s"""WITH ${minhashChainCtes(128)},
         |${bandPairCtes(32, 4, 1000)},
         |deg AS (
         |  SELECT doc_id, count(*) AS n FROM (
         |    SELECT a_id AS doc_id FROM pairs
         |    UNION ALL SELECT b_id AS doc_id FROM pairs) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(deg.n, 0) AS BIGINT) AS n_dup_candidates
         |FROM t LEFT JOIN deg USING (doc_id)""".stripMargin,
    // the MinHash estimator audit replayed end-to-end: the SAME lane
    // chain feeds both the banding pairs and the per-pair lane-agreement
    // estimate; truth is the distinct-shingle jaccard on the pair list.
    // est/true/err are integer fixed-point. EXACT (was rows-only).
    "dedup_minhash_eval" ->
      s"""WITH ${minhashChainCtes(128)},
         |${bandPairCtes(32, 4, 1000)},
         |siga AS (SELECT doc_id, list(sv ORDER BY lane) AS sig FROM sigl GROUP BY doc_id),
         |sharr AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
         |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
         |    ELSE [] END) AS shs
         |  FROM t),
         |est AS (
         |  SELECT p.a_id, p.b_id,
         |    len([i FOR i IN range(1, 129) IF sa.sig[i] = sb.sig[i]]) AS lanes
         |  FROM pairs p
         |  JOIN siga sa ON sa.doc_id = p.a_id
         |  JOIN siga sb ON sb.doc_id = p.b_id),
         |tru AS (
         |  SELECT p.a_id, p.b_id,
         |    len(list_intersect(ha.shs, hb.shs)) AS inter,
         |    len(ha.shs) AS na, len(hb.shs) AS nb
         |  FROM pairs p
         |  JOIN sharr ha ON ha.doc_id = p.a_id
         |  JOIN sharr hb ON hb.doc_id = p.b_id)
         |SELECT e.a_id, e.b_id,
         |  CAST((e.lanes * 10000) // 128 AS BIGINT) AS est_bp,
         |  CAST(floor(CAST(t2.inter AS DOUBLE) / CAST(t2.na + t2.nb - t2.inter AS DOUBLE)
         |       * 10000 + 0.5) AS BIGINT) AS true_bp,
         |  CAST(abs(CAST((e.lanes * 10000) // 128 AS BIGINT)
         |    - CAST(floor(CAST(t2.inter AS DOUBLE) / CAST(t2.na + t2.nb - t2.inter AS DOUBLE)
         |           * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS err_bp
         |FROM est e JOIN tru t2 ON t2.a_id = e.a_id AND t2.b_id = e.b_id""".stripMargin,
    // the FULL SimHash near-dup pipeline: bit-exact fingerprints ->
    // 4x16-bit block keys (pigeonhole for hamming <= 3) -> same-block
    // pairs -> hamming verify -> per-doc degree. Token-less docs keep
    // fingerprint 0 and DO participate, like the kernel. EXACT.
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
         |base AS (SELECT doc_id, ${fnvSql("g")} AS b FROM tok),
         |z0 AS (SELECT doc_id, xor(b, 42::HUGEINT) AS z FROM base),
         |${mixCtes("z0", "doc_id")},
         |bits AS (
         |  SELECT doc_id, h, CAST(unnest(range(0, 64)) AS BIGINT) AS bit FROM mx),
         |tally AS (
         |  SELECT doc_id, bit,
         |    sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc_id, bit),
         |asm AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS hu
         |  FROM tally GROUP BY doc_id),
         |sims AS (
         |  SELECT t.doc_id, coalesce(a.hu::HUGEINT, 0::HUGEINT) AS hu,
         |    coalesce(${signedSql("a.hu::HUGEINT")}, 0) AS sim
         |  FROM t LEFT JOIN asm a USING (doc_id)),
         |blocked AS (
         |  SELECT doc_id, sim, k, (hu >> (k * 16)) % 65536::HUGEINT AS key
         |  FROM sims CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS k)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM blocked a JOIN blocked b
         |    ON a.k = b.k AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         |deg AS (
         |  SELECT doc_id, count(*) AS n FROM (
         |    SELECT a_id AS doc_id FROM pairs
         |    UNION ALL SELECT b_id AS doc_id FROM pairs) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(deg.n, 0) AS BIGINT) AS n_near_dups
         |FROM t LEFT JOIN deg USING (doc_id)""".stripMargin,
    // bit-exact SimHash replay: per-token (with multiplicity) mixed
    // hash -> 64 per-bit +-1 tallies -> majority assembly; token-less
    // docs coalesce to fingerprint 0 like the kernel
    "dedup_simhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 50),
         |tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
         |base AS (SELECT doc_id, ${fnvSql("g")} AS b FROM tok),
         |z0 AS (SELECT doc_id, xor(b, 42::HUGEINT) AS z FROM base),
         |${mixCtes("z0", "doc_id")},
         |bits AS (
         |  SELECT doc_id, h, CAST(unnest(range(0, 64)) AS BIGINT) AS bit FROM mx),
         |tally AS (
         |  SELECT doc_id, bit,
         |    sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc_id, bit),
         |asm AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS hu
         |  FROM tally GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(${signedSql("a.hu::HUGEINT")}, 0) AS simhash
         |FROM t LEFT JOIN asm a ON a.doc_id = t.doc_id""".stripMargin,
    "dedup_df_profile" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
         |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
         |    ELSE [] END)) AS g
         |  FROM t
         |),
         |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
         |SELECT CAST(length(bin(df)) AS INTEGER) AS df_bucket,
         |  count(*) AS n_shingles, CAST(max(df) AS BIGINT) AS max_df
         |FROM df GROUP BY 1""".stripMargin,
    "dedup_impact" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, md5(text) AS h,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes
         |  FROM documents
         |), s AS (SELECT h, min(doc_id) AS survivor FROM d GROUP BY h)
         |SELECT source, count(*) AS n_docs,
         |  count(CASE WHEN doc_id <> survivor THEN 1 END) AS n_removed,
         |  CAST(sum(CASE WHEN doc_id <> survivor THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_removed,
         |  CAST(sum(CASE WHEN doc_id <> survivor THEN n_bytes ELSE 0 END) AS BIGINT) AS bytes_removed,
         |  CAST((count(CASE WHEN doc_id <> survivor THEN 1 END) * 10000) // count(*) AS BIGINT) AS removal_bp
         |FROM d JOIN s USING (h)
         |GROUP BY source""".stripMargin,
    // identical quality chain + (q desc, id) survivor order; group key
    // is the scrub-normalized hash (same regexes as text_scrub's twin)
    "dedup_best_copy" ->
      s"""WITH ${TextQueries.qualityCtesSql},
         |s AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
         |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g')) AS text_hash,
         |    ${TextQueries.qualityExprSql} AS q
         |  FROM f
         |),
         |c AS (SELECT text_hash, count(*) AS n_copies FROM s GROUP BY text_hash),
         |w AS (
         |  SELECT text_hash, doc_id, q,
         |    row_number() OVER (PARTITION BY text_hash ORDER BY q DESC, doc_id) AS rn
         |  FROM s
         |)
         |SELECT w.text_hash, c.n_copies, w.doc_id AS survivor_id,
         |  CAST(floor(q * 10000 + 0.5) AS BIGINT) AS quality_fp
         |FROM w JOIN c USING (text_hash) WHERE rn = 1""".stripMargin,
    // the identical 8-token 15-hex-md5 window hashes with positions,
    // repeated-anywhere filter, and gaps-and-islands interval merge
    "dedup_span_removal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 8
         |    THEN [CAST(('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT)
         |          FOR i IN range(1, len(toks) - 6)]
         |    ELSE [] END AS hs
         |  FROM t
         |), p AS (
         |  SELECT doc_id, CAST(unnest(range(len(hs))) AS BIGINT) AS pos, unnest(hs) AS h FROM h
         |), rep AS (SELECT h FROM p GROUP BY h HAVING count(*) > 1),
         |sp AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM p JOIN rep USING (h)),
         |m AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |      THEN 1 ELSE 0 END AS newg
         |  FROM sp
         |), g AS (
         |  SELECT doc_id, s, e,
         |    sum(newg) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM m
         |)
         |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
         |  CAST(max(e) AS BIGINT) AS span_end,
         |  CAST(max(e) - min(s) + 1 AS BIGINT) AS n_tokens
         |FROM g GROUP BY doc_id, grp""".stripMargin,
    // identical winnowing selection as text_winnowing's oracle, then
    // the same capped fp self-join pairing
    "dedup_winnow" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3
         |    THEN [CAST(('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)) AS BIGINT)
         |          FOR i IN range(1, len(toks) - 1)]
         |    ELSE [] END AS hs
         |  FROM t
         |), sel AS (
         |  SELECT doc_id, list_distinct(CASE
         |      WHEN len(hs) >= 4 THEN [list_min(hs[i:i+3]) FOR i IN range(1, len(hs) - 2)]
         |      WHEN len(hs) >= 1 THEN [list_min(hs)]
         |      ELSE [] END) AS fps
         |  FROM h
         |), fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
         |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50),
         |f2 AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp)),
         |p AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS n_shared
         |  FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a_id, b_id, n_shared FROM p WHERE n_shared >= 2
         |ORDER BY n_shared DESC, a_id, b_id LIMIT 20""".stripMargin,
    "dedup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
         |  THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] FOR i IN range(1, len(toks)-2)]
         |  ELSE [] END) AS spans FROM t),
         |ex AS (SELECT doc_id, unnest(spans) AS s FROM sh),
         |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         |dup AS (SELECT doc_id AS d_id, count(*) AS n_dup FROM ex JOIN dfreq USING (s) WHERE df >= 2 GROUP BY doc_id)
         |SELECT sh.doc_id, CAST(len(sh.spans) AS BIGINT) AS n_spans,
         |  coalesce(dup.n_dup, CAST(0 AS BIGINT)) AS n_dup_spans,
         |  CASE WHEN len(sh.spans) = 0 THEN 0.0
         |       ELSE CAST(coalesce(dup.n_dup, 0) AS DOUBLE) / CAST(len(sh.spans) AS DOUBLE) END AS dup_frac
         |FROM sh LEFT JOIN dup ON sh.doc_id = dup.d_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "dedup_incremental" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id >= 250 AND doc_id < 300
        |),
        |canon AS (
        |  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM batch GROUP BY text
        |)
        |SELECT c.text_hash, c.keep_id, c.n_copies FROM canon c
        |WHERE NOT EXISTS (SELECT 1 FROM corpus k WHERE md5(k.text) = c.text_hash)""".stripMargin,
    "dedup_exact_big" ->
      """WITH big AS (
        |  SELECT d.doc_id + c.c * 1000000 AS doc_id, d.text
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 20)) AS c) c
        |)
        |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM big GROUP BY text""".stripMargin,
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sa, b.sh AS sb
         |  FROM sh a JOIN sh b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |)
         |SELECT a_id, b_id,
         |  CAST(len(list_intersect(sa, sb)) AS DOUBLE)
         |    / CAST(least(len(sa), len(sb)) AS DOUBLE) AS containment
         |FROM pairs
         |ORDER BY containment DESC, a_id, b_id LIMIT 20""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sa, b.sh AS sb
         |  FROM sh a JOIN sh b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
         |),
         |j AS (
         |  SELECT a_id, b_id,
         |    CAST(len(list_intersect(sa, sb)) AS DOUBLE)
         |      / CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS DOUBLE) AS jaccard
         |  FROM pairs
         |)
         |SELECT a_id, b_id, jaccard FROM j
         |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin,
    // transitive closure via recursive CTE = the oracle for min-label
    // propagation (both converge to min reachable id per component)
    "dedup_clusters" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |jp AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |  FROM sh a JOIN sh b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 100
         |),
         |p AS (SELECT a_id, b_id FROM jp WHERE jaccard >= 0.5),
         |e AS (SELECT a_id AS src, b_id AS dst FROM p UNION SELECT b_id, a_id FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |),
         |c AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM c""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |jp AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |  FROM sh a JOIN sh b
         |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 100
         |),
         |p AS (SELECT a_id, b_id FROM jp WHERE jaccard >= 0.5),
         |e AS (SELECT a_id AS src, b_id AS dst FROM p UNION SELECT b_id, a_id FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |),
         |c AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |dropped AS (SELECT doc_id FROM c WHERE doc_id != cluster_id)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN dropped x ON d.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL""".stripMargin,
    "dedup_embedding" ->
      """WITH p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    1.0 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])) AS cosine_dist
        |  FROM embeddings a JOIN embeddings b
        |    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50
        |)
        |SELECT a_id, b_id, CAST(CAST(cosine_dist AS DECIMAL(18,4)) AS DOUBLE) AS cosine_dist FROM p
        |WHERE cosine_dist <= 2.0
        |ORDER BY p.cosine_dist, a_id, b_id LIMIT 20""".stripMargin,
    // replays the centroid assignment (same double accumulation, ties to
    // lowest cid) then the intra-cluster pairwise prune on quantized
    // cosine distances — both sides threshold the SAME rounded value
    "dedup_semantic" ->
      s"""WITH q AS (SELECT vec_id, embedding AS a FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS b FROM embeddings WHERE vec_id < 8),
         |d AS (
         |  SELECT q.vec_id, seeds.cid, ${VectorQueries.l2sqSql} AS dist
         |  FROM q CROSS JOIN seeds
         |),
         |asg AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d
         |),
         |m AS (
         |  SELECT asg.vec_id, asg.cid, e.embedding
         |  FROM asg JOIN embeddings e USING (vec_id) WHERE rn = 1
         |),
         |p AS (
         |  SELECT x.cid, y.vec_id AS b_id,
         |    CAST(CAST(1.0 - list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])) AS DECIMAL(18,4)) AS DOUBLE) AS cd
         |  FROM m x JOIN m y ON x.cid = y.cid AND y.vec_id > x.vec_id
         |),
         |dup AS (SELECT cid, b_id FROM p WHERE cd <= $SemTau GROUP BY cid, b_id),
         |nm AS (SELECT cid, count(*) AS n_members FROM m GROUP BY cid),
         |nd AS (SELECT cid, count(*) AS n_pruned FROM dup GROUP BY cid)
         |SELECT nm.cid AS cluster_id, nm.n_members,
         |  coalesce(nd.n_pruned, CAST(0 AS BIGINT)) AS n_pruned
         |FROM nm LEFT JOIN nd ON nm.cid = nd.cid""".stripMargin) ++
    dedupAnnCents.map(cs => "dedup_embedding_ann" -> dedupAnnOracle(cs, nprobe = 4))

  /** AnnJoin quantizer of the last dedup_embedding_ann run (captured
    * per-call via the onTrained callback), for the injected oracle */
  @volatile private[queries] var dedupAnnCents: Option[Array[Array[Float]]] = None

  /** DuckDB replay of the ANN radius self-join dedup: injected
    * centroids -> assignment (L2 coarse, the cosine metric's non-IP
    * branch) + per-row nprobe probing, candidate pairs from probed
    * lists (self excluded), STRICT radius predicate on the raw cosine
    * distance, then the least/greatest canonicalization + distinct the
    * gate applies (symmetric metric -> both orientations carry the
    * same quantized distance). */
  private def dedupAnnOracle(cents: Array[Array[Float]], nprobe: Int): String = {
    val dim = cents(0).length
    s"""WITH cents(cid, cv) AS (VALUES
       |  ${IndexQueries.centRows(cents)}),
       |cd AS MATERIALIZED (
       |  SELECT e.vec_id, cents.cid, ${IndexQueries.l2CentSql("e.embedding", "cv", dim)} AS dist
       |  FROM embeddings e CROSS JOIN cents
       |),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM cd) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM cd) WHERE rn <= $nprobe
       |),
       |hits AS (
       |  SELECT p.qid, a.vec_id AS label,
       |    1.0 - list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])) AS dist
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN embeddings qe ON qe.vec_id = p.qid
       |  JOIN embeddings ce ON ce.vec_id = a.vec_id
       |)
       |SELECT DISTINCT least(qid, label) AS a_id, greatest(qid, label) AS b_id,
       |  CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS cosine_dist
       |FROM hits WHERE dist < 0.65""".stripMargin
  }
}
