package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.index.IndexCatalog

/**
 * Index-lifecycle parity queries: create -> (train) -> add -> search
 * through the catalog, exercising the same flow as the reference's
 * test/sql/faiss*.test scripts.
 */
object IndexQueries {

  private def embData(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id").as("label"), vec.vector(col("embedding")).as("vec"))

  private def embQueries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))

  private def fresh(name: String): String = {
    if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
    name
  }

  private def quantized(res: DataFrame): DataFrame =
    res.select(col("qid"), col("rank"), col("label"),
      Tables.quant4(col("distance")).as("distance"))

  /** Gate parameters shared between the gates' IndexCatalog.create args
    * and the replay oracles that regenerate seeded/sized state from the
    * SAME numbers (knn_lsh hyperplanes, fp16 candidate heap, the
    * compression dashboard's LSH tier). One definition per number: a
    * drift between gate and oracle surfaces only as an opaque driver
    * hash failure, so the literals must not be duplicated. */
  private object GateParams {
    val Dim = 64 // embeddings table dim (TESTDATA.md)
    val K = 5 // gate top-k
    val Refine = 8 // coded-tier refine factor (the create() "refine" param)
    def refineK: Int = K * Refine // candidate-heap cut the oracles replay
    val LshBands = 24 // knn_lsh gate "bands" param
    val LshBits = 12 // knn_lsh factory IDMap,LSH<bits>
    val CompLshBands = IndexCatalog.LshBuilt.DefaultBands // LSH16 tier, no param
    val CompLshBits = 16 // vs_compression_eval factory IDMap,LSH<bits>
    val Seed = IndexCatalog.DefaultSeed
  }

  /** refine factor that makes a coded search's k x refine candidate
    * heap cover the ENTIRE corpus: the re-rank then brute-forces every
    * row on original vectors, so the result is exact regardless of code
    * fidelity — the "exhaustive settings" end of each codec's knob,
    * computed from the live corpus count so it holds at any SF. */
  private def exhRefine(d: DataFrame, k: Int): String = (d.count() / k + 1).toString

  /** overlap independent per-tier index builds (guide §2.6): each eval
    * tier's create/add/search is independent (its own catalog entry,
    * its own training sample, its own driver k-means), so the sweeps
    * run them from a small thread pool — the next tier's sample-collect
    * job back-fills executors freed by the current tier's tail, and the
    * driver-side k-means of different tiers overlap. Results are
    * unchanged: per-tier training inputs and seeds are exactly the
    * sequential ones, and the output union keeps `items` order.
    * The first tier to fail fails the sweep at once (whatever tier it
    * is), and a sweep whose tiers are not all done within
    * [[TierSweepTimeout]] of its start throws a TimeoutException; either
    * way the tiers still running are interrupted. */
  private def inParallel[A, B](items: Seq[A], maxThreads: Int = 3)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxThreads, items.size)))
    val done = new java.util.concurrent.ExecutorCompletionService[(Int, B)](pool)
    try {
      items.zipWithIndex.foreach { case (a, i) => done.submit(() => (i, f(a))) }
      val deadline = System.nanoTime() + TierSweepTimeout.toNanos
      val out = new Array[Any](items.size)
      items.indices.foreach { _ =>
        val next = done.poll(deadline - System.nanoTime(), java.util.concurrent.TimeUnit.NANOSECONDS)
        if (next == null)
          throw new java.util.concurrent.TimeoutException(
            s"index tier sweep not done within $TierSweepTimeout")
        val (i, b) =
          try next.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        out(i) = b
      }
      out.toSeq.asInstanceOf[Seq[B]]
    } finally pool.shutdownNow()
  }

  /** the bound on one [[inParallel]] sweep: an hour, far past any tier
    * sweep of the gate scales (seconds to minutes), so it only ends a
    * sweep that hangs */
  private val TierSweepTimeout = scala.concurrent.duration.Duration(1, "hour")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full lifecycle with an exhaustive IVF probe (nprobe = nlist):
    // result is exact, so it shares the brute-force L2 oracle
    "vs_index_build" -> { (s, dir) =>
      val name = fresh("q_ivf_exact")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // filtered search composed INSIDE the IVF structure (selector joins
    // the pruned-list scan, not a flat fallback); exhaustive probe ->
    // exact, shares the filtered brute-force oracle. Partial-probe
    // recall is spec-asserted (IndexCatalogSpec).
    "knn_ivf_filter" -> { (s, dir) =>
      val name = fresh("q_ivf_filter")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.searchFilter(name, 5, embQueries(s, dir), col("label") % 2 === 0))
    },
    // FAISS reconstruct parity: stored vectors come back by id — raw
    // for Flat (exact oracle: the original embeddings), decoded for
    // coded indexes (spec'd: decode error IS the search-time
    // quantization error)
    "vs_reconstruct" -> { (s, dir) =>
      val name = fresh("q_recon")
      IndexCatalog.create(name, 64, "IDMap,Flat", "l2sq")
      IndexCatalog.add(embData(s, dir), name)
      val ids = Tables(s, dir, "embeddings").where(col("vec_id") < 20).select("vec_id")
      // one (label, dim, val) row per component: the driver's hasher
      // canonicalizes scalar cells only (an array<float> column crashes
      // it), and the exploded shape is the same parity check
      IndexCatalog.reconstruct(name, ids)
        .select(col("label"), posexplode(col("vec")))
        .select(col("label"), col("pos").as("dim"),
          Tables.quant4(col("col")).as("val"))
    },
    // FAISS remove_ids analog: deletes fold into the plan as one
    // anti-join, trained state survives, and the flat search over the
    // survivors stays exact — oracle = brute force over the non-removed
    // corpus. The delete path a 100 TB corpus needs (GDPR erasure)
    // without a rebuild.
    "vs_index_remove" -> { (s, dir) =>
      val name = fresh("q_remove")
      IndexCatalog.create(name, 64, "IDMap,Flat", "l2sq")
      IndexCatalog.add(embData(s, dir), name)
      IndexCatalog.remove(name,
        Tables(s, dir, "embeddings").where(col("vec_id") % 7 === 0).select("vec_id"))
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // drift maintenance: train the coarse quantizer on a deliberately
    // skewed sample (one label's corner of the space — the "old
    // snapshot" an embed_drift spike would flag), then retrain from
    // the full current contents and search. Exhaustive probing keeps
    // the search exact through BOTH centroid generations, so the
    // oracle pins that retraining re-clusters without corrupting ids
    // or distances; the imbalance improvement itself is spec-asserted
    // (IndexCatalogSpec).
    "vs_index_retrain" -> { (s, dir) =>
      val name = fresh("q_retrain")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.manualTrain(
        Tables(s, dir, "embeddings").where(col("label") === 0).select(col("embedding")),
        name)
      IndexCatalog.add(embData(s, dir), name)
      IndexCatalog.retrain(name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // cost-based filtered search: the SAME index serves a narrow slice
    // via a pre-filter exact scan (5% selectivity <= the 10% cutoff)
    // and a wide predicate via a post-filter boosted probe (50%).
    // Exhaustive probe + 2/selectivity over-fetch keep both paths
    // exact, so the strategy SWITCH itself is oracle-gated — including
    // which strategy each predicate lands on (the output column).
    "knn_filter_adaptive" -> { (s, dir) =>
      val name = fresh("q_adapt")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      val narrow = IndexCatalog.searchFilterAdaptive(
        name, 5, embQueries(s, dir), col("label") % 20 === 0)
      val wide = IndexCatalog.searchFilterAdaptive(
        name, 5, embQueries(s, dir), col("label") % 2 === 0)
      narrow.unionByName(wide)
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"), col("strategy"))
    },
    // selector composed INSIDE the graph traversal (FAISS
    // SearchParametersHNSW::sel): per-shard allowed sets ride a
    // partition zip, the beam walks the full graph and only allowed
    // labels surface. Exhaustive efSearch visits every shard node, so
    // the result is EXACT and shares the filtered brute-force oracle;
    // partial-ef recall + singleton-selector reachability are
    // spec-asserted (NswSpec, IndexCatalogSpec).
    "knn_hnsw_filter" -> { (s, dir) =>
      val name = fresh("q_hnsw_filter")
      IndexCatalog.create(name, 64, "IDMap,HNSW16", "l2sq", Map("efConstruction" -> "96"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.searchFilter(name, 5, embQueries(s, dir),
        col("label") % 2 === 0, Map("efSearch" -> "1000000")))
    },
    // save -> destroy -> load -> search through the gate: proves the
    // list-partitioned parquet layout + static list pruning survive a
    // round-trip (exhaustive probe -> exact, shares the L2 oracle)
    "vs_index_saveload" -> { (s, dir) =>
      val name = fresh("q_ivf_persist")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      // ONE fixed path, overwritten per invocation (a fresh temp dir per
      // call would leak an index copy every bench pass); the loaded
      // index reads it lazily, so it must outlive this closure
      val path = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_saveload_gate").getAbsolutePath
      IndexCatalog.save(name, path)
      IndexCatalog.destroy(name)
      IndexCatalog.load(name, path, s)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // FAISS IndexIVF::merge_from through the gate: two shards each hold
    // half the corpus, src folds into dst (src left registered but
    // empty), dst searches the union. The shard-then-merge build path —
    // at scale N workers each index their slice and the shards fold
    // without re-reading the corpus. Exhaustive probe -> exact, shares
    // the brute-force L2 oracle over the FULL corpus, which only
    // matches if the merge moved every row.
    "vs_index_merge" -> { (s, dir) =>
      val dst = fresh("q_merge_dst")
      val src = fresh("q_merge_src")
      IndexCatalog.create(dst, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.create(src, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      val d = embData(s, dir)
      IndexCatalog.add(d.where(col("label") % 2 === 0), dst)
      IndexCatalog.add(d.where(col("label") % 2 =!= 0), src)
      IndexCatalog.merge(dst, src)
      quantized(IndexCatalog.search(dst, 5, embQueries(s, dir)))
    },
    // range search through the IVF structure (FAISS range_search):
    // exhaustive probe -> exact, shares the brute-force radius oracle;
    // partial-probe containment is spec-asserted (IndexCatalogSpec)
    "knn_radius_ivf" -> { (s, dir) =>
      val name = fresh("q_ivf_radius")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      IndexCatalog.searchRadius(name, VectorQueries.RADIUS, embQueries(s, dir))
        .select(col("qid"), col("label"), Tables.quant4(col("distance")).as("distance"))
    },
    // partial IVF probe (nprobe=4 of 16) — EXACT via centroid injection
    // (the knn_pca move, VERDICT r11 #1): the oracle replays assignment
    // argmin + probe selection + probed-list brute force on the trained
    // centroids captured after the run
    "knn_ivf" -> { (s, dir) =>
      val name = fresh("q_ivf_approx")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "4"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnIvfCents = IndexCatalog.trainedCentroidsOf(name) // memo for the injected oracle
      res
    },
    // IVF with an HNSW coarse quantizer (FAISS "IVF<n>_HNSW<m>",
    // factory delegation at faiss_extension.cpp:155): the composition
    // that matters at nlist ≳ 1e5, where flat centroid argmin is itself
    // a full scan per vector — assignment and probing walk a
    // driver-built graph over the bounded centroid table instead.
    // Approximate (graph assignment + partial probe) → rows-only;
    // recall is spec-asserted and the _exh twin is driver-hash exact.
    // EXACT via centroid injection (round 13): the coarse walk runs on
    // a 16-node centroid graph with coarseEfSearch=32 >= nlist, so the
    // beam is EXHAUSTIVE over the (connected) graph — assignment and
    // probing reduce to the exact (dist, cid) argmin/top-nprobe the
    // plain-IVF oracle replays. The graph changes the path, never the
    // answer, until nlist outgrows the ef — which is the point of the
    // gate config.
    "knn_ivf_hnsw" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw")
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,Flat", "l2sq",
        Map("nprobe" -> "4", "coarseEfSearch" -> "32"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnIvfHnswCents = IndexCatalog.trainedCentroidsOf(name)
      res
    },
    // PQ codes UNDER the graph coarse (FAISS "IVF<n>_HNSW<m>,PQ<k>",
    // factory delegation at faiss_extension.cpp:155): THE 100 TB
    // serving memory shape — nlist ≳ 1e5 needs the graph coarse, byte
    // codes need PQ storage; round 10 composes the two halves that were
    // previously a loud UnsupportedOperationException. EXACT via
    // codebook + centroid injection (round 13): the exhaustive coarse
    // walk (see knn_ivf_hnsw) makes probing exact, and the ADC/refine
    // chain is the knn_ivfpq_big replay at this corpus's query filter.
    "knn_ivf_hnsw_pq" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw_pq")
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,PQ8", "l2sq",
        Map("nprobe" -> "4", "refine" -> "24", "coarseEfSearch" -> "32"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnIvfHnswPqState = IndexCatalog.trainedPqOf(name).collect {
        case (books, Some(cs)) => (books, cs) }
      res
    },
    // SQ8 storage under the same graph coarse ("IVF<n>_HNSW<m>,SQ8") —
    // EXACT via bounds + centroid injection (the knn_ivfsq replay; the
    // exhaustive coarse walk makes probing exact, see knn_ivf_hnsw)
    "knn_ivf_hnsw_sq" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw_sq")
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,SQ8", "l2sq",
        Map("nprobe" -> "4", "refine" -> "8", "coarseEfSearch" -> "32"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnIvfHnswSqState = IndexCatalog.trainedSqOf(name).collect {
        case (mn, df, Some(cs)) => (mn, df, cs) }
      res
    },
    // the composed FAISS "IVF16,SQ8" factory through the gate: list
    // pruning (nprobe=4) over scalar-quantized codes with exact
    // re-rank — the memory shape a 100 TB corpus actually serves from
    // (8 bytes/dim → 1, lists cut the scan 4x further). EXACT via
    // bounds + centroid injection; IndexCatalogSpec pins the recall.
    "knn_ivfsq" -> { (s, dir) =>
      val name = fresh("q_ivfsq")
      IndexCatalog.create(name, 64, "IDMap,IVF16,SQ8", "l2sq",
        Map("nprobe" -> "4", "refine" -> "8"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnIvfsqState = IndexCatalog.trainedSqOf(name).collect {
        case (mn, df, Some(cs)) => (mn, df, cs) } // memo for the injected oracle
      res
    },
    // inverted multi-index coarse (FAISS "IMI2x<n>", factory delegation
    // at faiss_extension.cpp:155; Babenko & Lempitsky 2012): the coarse
    // space is the PRODUCT of two half-dim codebooks — nlist = 2^(2n)
    // cells at 2·2^n assignment cost, the other standard route to huge
    // nlist besides IVF<n>_HNSW<m>. Multi-sequence probing enumerates
    // cells in exact ascending d1+d2 order. EXACT via half-book
    // injection (the probe order replays as a (d1+d2, rank1, rank2)
    // sort); the _exh twin stays driver-hash exact on the flat oracle.
    "knn_imi" -> { (s, dir) =>
      val name = fresh("q_imi")
      IndexCatalog.create(name, 64, "IDMap,IMI2x2,Flat", "l2sq", Map("nprobe" -> "4"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnImiBooks = IndexCatalog.trainedPqOf(name).map(_._1) // the two half books
      res
    },
    // LSH-bucketed cosine search — EXACT via weight replay: the
    // hyperplanes are pseudo-random Rademacher signs derived from
    // (seed, band, bit, dim) with no stored model, so the oracle
    // regenerates the identical +-1 matrix and replays bucketing,
    // candidate union, and the cosine re-rank deterministically
    "knn_lsh" -> { (s, dir) =>
      val name = fresh("q_lsh")
      IndexCatalog.create(name, GateParams.Dim, s"IDMap,LSH${GateParams.LshBits}",
        "cosine", Map("bands" -> GateParams.LshBands.toString))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // sharded HNSW graphs: per-partition NSW build + greedy search,
    // global top-k merge. EXACT against the brute-force oracle (round
    // 13): with efSearch=128 >= every shard's node count at gate scale
    // (~62 distinct vectors/shard at sf0.1), the layer-0 beam NEVER
    // rejects an insertion (res.size < width until all nodes are in)
    // and the early-exit never fires, so the walk is EXHAUSTIVE over
    // each connected shard graph and the merged top-k is the exact
    // (dist, label)-ordered flat result — the graph changes the path,
    // never the answer, until shards outgrow ef. Proven equal to
    // knn_flat_l2 at both SFs; the generic-ef walk stays approximate
    // (vs_ef_eval) and rows-only.
    "knn_hnsw" -> { (s, dir) =>
      val name = fresh("q_hnsw")
      IndexCatalog.create(name, 64, "IDMap,HNSW16", "l2sq",
        Map("efConstruction" -> "96", "efSearch" -> "128"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      // the flat-oracle promotion is only valid while the exhaustivity
      // precondition holds — MEASURE it (node count per shard vs ef)
      // instead of assuming it; a bigger corpus or narrower session
      // parallelism degrades the gate to rows-only, loudly correct
      knnHnswExhaustive = IndexCatalog.builtHnswGraphsOf(name)
        .exists(gs => gs.nonEmpty && gs.forall(_.labels.length <= 128))
      res
    },
    // PCA pretransform: 64 dims -> 16 principal dims, IVF in the
    // projected space (FAISS factory "PCA16,IVF8,Flat"; approximate ->
    // rows-only, exactness/save-load spec-asserted on full-rank PCA)
    // PCA16 pretransform over IVF at nprobe = nlist: the probe is
    // exhaustive, so the result is EXACT in the projected space — and
    // the projection itself is a driver-trained bounded basis, so the
    // oracle replays it verbatim (basis injected as literals after the
    // run, the embed_pca_variance move; EXACT since round 11, was
    // rows-only behind the eigensolve the oracle couldn't reproduce)
    "knn_pca" -> { (s, dir) =>
      val name = fresh("q_pca")
      IndexCatalog.create(name, 64, "IDMap,PCA16,IVF8,Flat", "l2sq", Map("nprobe" -> "8"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnPcaBasis = IndexCatalog.trainedPcaOf(name) // memo for the injected oracle
      res
    },
    // SQ8: 64 floats -> 64 uint8 codes against trained per-dim bounds,
    // asymmetric decode-in-loop distance + exact re-rank. EXACT via
    // bounds injection: the oracle replays the encode grid, the decoded
    // values, the k x refine candidate heap, and the exact re-rank
    "knn_sq8" -> { (s, dir) =>
      val name = fresh("q_sq8")
      IndexCatalog.create(name, 64, "IDMap,SQ8", "l2sq", Map("refine" -> "8"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnSq8State = IndexCatalog.trainedSqOf(name).map(t => (t._1, t._2))
      res
    },
    // the 8x end of the scalar-quantizer family (FAISS QT_4bit): two
    // dims per byte, same trained bounds, same re-rank — EXACT via the
    // same bounds-injection replay at the 15-level grid
    "knn_sq4" -> { (s, dir) =>
      val name = fresh("q_sq4")
      IndexCatalog.create(name, 64, "IDMap,SQ4", "l2sq", Map("refine" -> "8"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnSq4State = IndexCatalog.trainedSqOf(name).map(t => (t._1, t._2))
      res
    },
    // the fidelity end (FAISS QT_fp16): raw IEEE halves, 2x compression
    // with ~2^-11 relative error — close enough that the re-ranked
    // top-k is near-exact, but half rounding can flip genuine distance
    // ties, so it stays rows-only with exactness spec'd at the kernel
    "knn_sqfp16" -> { (s, dir) =>
      val name = fresh("q_sqfp16")
      IndexCatalog.create(name, 64, "IDMap,SQfp16", "l2sq", Map("refine" -> "8"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // OPQ: learned-rotation pretransform ahead of PQ (FAISS factory
    // "OPQ8,PQ8") — the rotation decorrelates subspaces so PQ codes
    // waste less of their budget. EXACT via rotation + codebook
    // injection (the knn_pca projection replay feeding the knn_pq ADC
    // replay); error-improvement/isometry/save-load spec'd (OpqSpec)
    "knn_opq" -> { (s, dir) =>
      val name = fresh("q_opq")
      IndexCatalog.create(name, 64, "IDMap,OPQ8,PQ8", "l2sq", Map("refine" -> "24"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      // rotation + rotated-space codebooks: with both injected the
      // whole cascade (project, encode, ADC, rotated-space re-rank)
      // is a deterministic replay -> EXACT
      knnOpqState = for {
        p <- IndexCatalog.trainedPcaOf(name)
        b <- IndexCatalog.trainedPqOf(name)
      } yield (p._1, p._2, b._1)
      res
    },
    // residual quantizer (FAISS "RQ8x8" / "IVF16,RQ8"): m additive
    // full-dim stages instead of PQ's subspace slices — same 8-byte
    // codes, better fidelity on correlated dims; decode-in-loop
    // asymmetric L2 + exact re-rank. EXACT via codebook + centroid
    // injection: the oracle replays the chained greedy encode
    // (argmin + float residual update per stage), the additive decode,
    // the probed coded heap, and the re-rank
    "knn_rq" -> { (s, dir) =>
      val name = fresh("q_rq")
      IndexCatalog.create(name, 64, "IDMap,IVF8,RQ8", "l2sq",
        Map("nprobe" -> "4", "refine" -> "24"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnRqState = IndexCatalog.trainedPqOf(name).collect {
        case (books, Some(cs)) => (books, cs) } // memo for the injected oracle
      res
    },
    // local-search additive quantizer (FAISS "LSQ8x8" / "IVF8,LSQ8",
    // Martinez et al. 2016): RQ's additive model with ICM encoding +
    // least-squares codebook refit — better codes at the same 8-byte
    // budget; identical decode-in-loop search plumbing. EXACT via
    // codebook + centroid injection: the oracle unrolls the greedy
    // init AND all IcmRounds re-pick rounds (idempotent past the
    // engine's early exit) with every float rounding replayed
    "knn_lsq" -> { (s, dir) =>
      val name = fresh("q_lsq")
      IndexCatalog.create(name, 64, "IDMap,IVF8,LSQ4", "l2sq",
        Map("nprobe" -> "4", "refine" -> "24"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnLsqState = IndexCatalog.trainedPqOf(name).collect {
        case (books, Some(cs)) => (books, cs) } // memo for the injected oracle
      // pin the rounds accumulator of THIS build alongside the books
      // (ADVICE r13): a same-JVM rebuild under the name can no longer
      // pair stale codebooks with a fresher rounds observation
      knnLsqRounds = IndexCatalog.lsqRoundsReaderOf(name)
      res
    },
    // IVF-PQ: 64 floats -> 8 bytes, ADC + exact re-rank. The gate's
    // probe is exhaustive (nprobe = nlist = 8), so the ONLY
    // approximation is the k x refine ADC candidate cut — and the
    // codebooks are bounded trained state, so the oracle replays the
    // whole thing (encode argmin, float-rounded LUT, stage-ordered ADC
    // sum, candidate heap, exact re-rank): EXACT via codebook injection
    "knn_pq" -> { (s, dir) =>
      val name = fresh("q_ivfpq")
      IndexCatalog.create(name, 64, "IDMap,IVF8,PQ8", "l2sq",
        Map("nprobe" -> "8", "refine" -> "24"))
      IndexCatalog.add(embData(s, dir), name)
      val res = quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
      knnPqBooks = IndexCatalog.trainedPqOf(name).map(_._1)
      res
    },
    // the id-SET filtered search (faiss_search_filter_set: allowed ids
    // as a relation, LEFT SEMI into the pruned scan — the "only these
    // shards/tenants" serving shape). Exhaustive probe -> exact ->
    // filtered brute-force oracle; was spec-only.
    "knn_filter_set" -> { (s, dir) =>
      val name = fresh("q_filter_set")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      val ids = Tables(s, dir, "embeddings")
        .where(col("vec_id") % 3 === 0).select("vec_id")
      quantized(IndexCatalog.searchFilterSet(name, 5, embQueries(s, dir), ids))
    },
    // ---- exhaustive-config twins of the approximate family ----------
    // Each approximate index searched at its "no approximation left"
    // setting (nprobe = nlist / efSearch >= N / refine covering the
    // whole corpus): the result is deterministically exact, so the SAME
    // brute-force DuckDB oracle that gates knn_flat_l2 gates the index
    // structure itself — the exhaustive==flat equivalences the specs
    // assert (IndexCatalogSpec) become driver-hash-verified.
    "knn_ivf_exh" -> { (s, dir) =>
      val name = fresh("q_ivf_exh")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // graph-coarse IVF at nprobe = nlist: every list scanned, so graph
    // assignment approximation cannot cost recall — exact by
    // construction (and the probe path returns ALL lists outright at
    // exhaustive probe, so even a disconnected coarse graph can't skip one)
    "knn_ivf_hnsw_exh" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw_exh")
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    "knn_hnsw_exh" -> { (s, dir) =>
      val name = fresh("q_hnsw_exh")
      IndexCatalog.create(name, 64, "IDMap,HNSW16", "l2sq", Map("efConstruction" -> "96"))
      IndexCatalog.add(embData(s, dir), name)
      // beam wider than any shard: the walk visits every node
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir),
        Map("efSearch" -> "1000000")))
    },
    "knn_pq_exh" -> { (s, dir) =>
      val name = fresh("q_pq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,PQ8", "l2sq", Map("refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // graph-coarse + PQ codes at BOTH exact ends (nprobe = nlist scans
    // every list regardless of graph assignment; refine covers the
    // corpus so the re-rank is brute force): the composed structure
    // gates against the flat oracle
    "knn_ivf_hnsw_pq_exh" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw_pq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,PQ8", "l2sq",
        Map("nprobe" -> "16", "refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    "knn_ivf_hnsw_sq_exh" -> { (s, dir) =>
      val name = fresh("q_ivf_hnsw_sq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,IVF16_HNSW8,SQ8", "l2sq",
        Map("nprobe" -> "16", "refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // multi-index coarse at nprobe = nlist: every product cell scanned,
    // so neither the half-codebook training nor the multi-sequence
    // order can cost recall — exact by construction
    "knn_imi_exh" -> { (s, dir) =>
      val name = fresh("q_imi_exh")
      IndexCatalog.create(name, 64, "IDMap,IMI2x2,Flat", "l2sq", Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // local-search additive quantizer at both exact ends: ICM codes +
    // corpus-covering refine -> brute force on raw vectors, exact
    "knn_lsq_exh" -> { (s, dir) =>
      val name = fresh("q_lsq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,IVF8,LSQ4", "l2sq",
        Map("nprobe" -> "8", "refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // residual quantizer at both exact ends (all lists probed, refine
    // covering the corpus): gates the additive-code structure against
    // the flat oracle
    "knn_rq_exh" -> { (s, dir) =>
      val name = fresh("q_rq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,IVF8,RQ8", "l2sq",
        Map("nprobe" -> "8", "refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    "knn_sq8_exh" -> { (s, dir) =>
      val name = fresh("q_sq8_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,SQ8", "l2sq", Map("refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    "knn_sq4_exh" -> { (s, dir) =>
      val name = fresh("q_sq4_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,SQ4", "l2sq", Map("refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    "knn_sqfp16_exh" -> { (s, dir) =>
      val name = fresh("q_sqfp16_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,SQfp16", "l2sq", Map("refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    },
    // exhaustive probing AND a corpus-covering re-rank: both knobs of
    // the composed factory at their exact end
    "knn_ivfsq_exh" -> { (s, dir) =>
      val name = fresh("q_ivfsq_exh")
      val d = embData(s, dir)
      IndexCatalog.create(name, 64, "IDMap,IVF16,SQ8", "l2sq",
        Map("nprobe" -> "16", "refine" -> exhRefine(d, 5)))
      IndexCatalog.add(d, name)
      quantized(IndexCatalog.search(name, 5, embQueries(s, dir)))
    })

  /** provided embeddings replicated 50x with distinct labels — a
    * 100k-row vector corpus derived purely from the given inputs, big
    * enough that list pruning visibly beats a full scan in BENCH */
  private def bigData(s: SparkSession, dir: String): DataFrame = {
    // stream the (pre-partitioned) range and broadcast the small
    // embeddings table: each partition generates its copies locally, so
    // the 100k-row corpus materializes in parallel with NO shuffle
    // (crossJoining the single-file parquet scan the other way round
    // yields one partition that every consumer then has to widen)
    val copies = s.range(0, 50).select(col("id").as("copy"))
    copies
      .join(broadcast(Tables(s, dir, "embeddings")))
      .select(
        (col("vec_id") + col("copy") * 1000000L).as("label"),
        vec.vector(col("embedding")).as("vec"))
  }

  private def bigQueries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))

  /** nprobe values swept by vs_recall_eval (16 = exhaustive = exact) */
  private[queries] val RecallNprobes = Seq(1, 2, 4, 8, 16)
  private[queries] val EfSweep = Seq(5, 8, 32, 128)

  /** re-rank candidate multipliers swept by vs_refine_eval */
  private[queries] val RefineFactors = Seq(1, 2, 4, 8)

  def scaleQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FAISS-style index diagnostics: ntotal / nlist / imbalance factor
    // of the built IVF assignment (InvertedLists::imbalance_factor) —
    // the skew check a deployment runs before trusting nprobe latency.
    // Deterministic (seeded training) but assignment is custom ->
    // rows-only; exact semantics spec-asserted incl. a planted
    // perfectly-balanced corpus measuring exactly 1.0.
    // ntotal/nlist are exact longs and the imbalance factor is ONE IEEE
    // division of exactly-representable integers — with the quantizer
    // injected verbatim (manualTrainCentroids, the FAISS
    // explicit-quantizer construction) the assignment replays in SQL and
    // the whole stats row hash-gates (EXACT since round 9; was rows-only
    // behind a k-means training step the oracle couldn't reproduce)
    "vs_index_stats" -> { (s, dir) =>
      val name = fresh("q_ivf_stats")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq")
      val cents = embData(s, dir).where(col("label") < 16).orderBy("label")
        .select(col("vec")).collect().map(_.getSeq[Float](0).toArray)
      IndexCatalog.manualTrainCentroids(cents, name)
      IndexCatalog.add(embData(s, dir), name)
      IndexCatalog.stats(name)
    },
    // index-quality self-evaluation: recall@5 of IVF probing vs the
    // exact scan, per nprobe — the sweep a deployment runs BEFORE
    // committing to a probe setting at 100 TB. One plan: the tagged
    // union of the per-nprobe searches left-joins the exact result
    // once, then a tiny rollup; every per-nprobe search still prunes
    // its own probed lists off the shared cached assignment.
    // EXACT via centroid injection (recallEvalOracle replays every
    // swept tier + the truth + the recall division); monotonicity +
    // exhaustive-probe-equals-exact stay spec-asserted.
    "vs_recall_eval" -> { (s, dir) =>
      import s.implicits._
      val name = fresh("q_recall_eval")
      IndexCatalog.create(name, 64, "IDMap,IVF16,Flat", "l2sq")
      IndexCatalog.add(embData(s, dir), name)
      recallEvalCents = None // set AFTER the run below (search builds the index)
      val qs = embQueries(s, dir)
      // truth rows replicated per swept nprobe (tiny broadcast) so the
      // rollup's count(*) IS the recall denominator — the expensive
      // exact-scan subtree appears in the plan exactly once
      val truth = graft.search.Knn.searchFlat(embData(s, dir), qs, 5, "l2sq")
        .select(col("qid"), col("label"))
        .crossJoin(broadcast(RecallNprobes.toDF("nprobe")))
      val tagged = RecallNprobes.map { np =>
        IndexCatalog.search(name, 5, qs, Map("nprobe" -> np.toString))
          .select(lit(np).as("nprobe"), col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      val res = truth
        .join(tagged, Seq("nprobe", "qid", "label"), "left")
        .groupBy("nprobe")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy("nprobe")
      // IndexCatalog.search above built the index at plan construction,
      // so the trained centroids already exist — no forced execution
      recallEvalCents = IndexCatalog.trainedCentroidsOf(name)
      res
    },
    // the GRAPH recall knob: efSearch (beam width) sweep on one built
    // HNSW — vs_recall_eval's shape for the graph family, the sweep a
    // deployment runs to size beam width before serving (recall rises
    // with ef while per-query cost stays O(ef·degree·log n)). Graph
    // build is deterministic but custom -> rows-only; the spec asserts
    // recall at the widest beam and (weak) monotonicity.
    // EXACT via built-graph injection (round 13, the last index-family
    // rows-only residue): the per-shard graphs (labels, levels,
    // adjacency in insertion order, entry) are BOUNDED BUILT STATE like
    // centroids/codebooks — the oracle replays the greedy layer descent
    // and the ef-bounded beam walk itself in a recursive CTE, so the
    // low-ef tiers' genuine approximation is reproduced bit-for-bit.
    "vs_ef_eval" -> { (s, dir) =>
      import s.implicits._
      val name = fresh("q_ef_eval")
      IndexCatalog.create(name, 64, "IDMap,HNSW4", "l2sq",
        Map("efConstruction" -> "16")) // coarse graph so the sweep SHOWS the tradeoff at gate scale
      IndexCatalog.add(embData(s, dir), name)
      val qs = embQueries(s, dir)
      val truth = graft.search.Knn.searchFlat(embData(s, dir), qs, 5, "l2sq")
        .select(col("qid"), col("label"))
        .crossJoin(broadcast(EfSweep.toDF("ef")))
      val tagged = EfSweep.map { ef =>
        IndexCatalog.search(name, 5, qs, Map("efSearch" -> ef.toString))
          .select(lit(ef).as("ef"), col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      val res = truth
        .join(tagged, Seq("ef", "qid", "label"), "left")
        .groupBy("ef")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy("ef")
      efEvalGraphs = IndexCatalog.builtHnswGraphsOf(name)
      res
    },
    // the codec DASHBOARD: one row per compression tier (flat / fp16 /
    // sq8 / sq4 / pq8 / 1-bit binary) with bytes-per-vector and
    // recall@5 vs the exact scan — the table a deployment reads to
    // pick its memory/recall point before sizing a 100 TB corpus
    // (FAISS-bench shape). Every tier searches the SAME corpus and
    // query batch; refine is held at 8 so the differences are codec
    // fidelity, not re-rank budget. Deterministic but custom code
    // distances -> rows-only; flat==1.0 + bounds are spec-asserted.
    "vs_compression_eval" -> { (s, dir) =>
      import s.implicits._
      val d = embData(s, dir)
      val qs = embQueries(s, dir)
      compEvalState = None // set after the tier builds below
      val truth = graft.search.Knn.searchFlat(d, qs, 5, "l2sq")
        .select(col("qid"), col("label"))
      val tiers = Seq( // (tier, factory, bytes per 64-dim vector)
        ("flat", "IDMap,Flat", 256L),
        ("fp16", "IDMap,SQfp16", 128L),
        ("sq8", "IDMap,SQ8", 64L),
        ("sq4", "IDMap,SQ4", 32L),
        ("pq8", "IDMap,PQ8", 8L),
        ("lsh", s"IDMap,LSH${GateParams.CompLshBits}", 32L)) // 16 bands x 16-bit keys
      // r15 (guide §2.6): the six tier builds are independent — overlap
      // them on a small pool instead of serializing 6 sample-collects +
      // 6 driver trainings + 6 cache fills
      val tagged = inParallel(tiers) { case (tier, factory, bytes) =>
        val name = fresh(s"q_comp_$tier")
        IndexCatalog.create(name, GateParams.Dim, factory, "l2sq",
          Map("refine" -> GateParams.Refine.toString))
        IndexCatalog.add(d, name)
        IndexCatalog.search(name, 5, qs)
          .select(lit(tier).as("tier"), lit(bytes).as("bytes_per_vec"),
            col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      val res = truth
        .crossJoin(broadcast(tiers.map(t => (t._1, t._3)).toDF("tier", "bytes_per_vec")))
        .join(tagged, Seq("tier", "bytes_per_vec", "qid", "label"), "left")
        .groupBy("tier", "bytes_per_vec")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy(col("bytes_per_vec").desc, col("tier"))
      compEvalState = for {
        s8 <- IndexCatalog.trainedSqOf("q_comp_sq8")
        s4 <- IndexCatalog.trainedSqOf("q_comp_sq4")
        pb <- IndexCatalog.trainedPqOf("q_comp_pq8")
      } yield ((s8._1, s8._2), (s4._1, s4._2), pb._1)
      res
    },
    // the OTHER recall knob, for the coded (PQ) path: refine = how many
    // code-distance candidates per result slot get the exact re-rank.
    // vs_recall_eval's shape sweeping refine at exhaustive probing, so
    // the measured loss is pure quantization (not probing): the sweep a
    // deployment runs to size the re-rank budget of knn_ivfpq_big's
    // plan — recall rises with refine while the re-rank stays k*refine
    // rows per query, the memory-bounded tradeoff at 100 TB.
    // EXACT via codebook injection (refineEvalOracle — the knn_pq
    // replay per swept budget); monotonicity is spec-asserted.
    "vs_refine_eval" -> { (s, dir) =>
      import s.implicits._
      val name = fresh("q_refine_eval")
      IndexCatalog.create(name, 64, "IDMap,IVF16,PQ8", "l2sq",
        Map("nprobe" -> "16"))
      IndexCatalog.add(embData(s, dir), name)
      refineEvalBooks = None // set after the sweep below builds the index
      val qs = embQueries(s, dir)
      val truth = graft.search.Knn.searchFlat(embData(s, dir), qs, 5, "l2sq")
        .select(col("qid"), col("label"))
        .crossJoin(broadcast(RefineFactors.toDF("refine")))
      val tagged = RefineFactors.map { rf =>
        IndexCatalog.search(name, 5, qs, Map("refine" -> rf.toString))
          .select(lit(rf).as("refine"), col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      val res = truth
        .join(tagged, Seq("refine", "qid", "label"), "left")
        .groupBy("refine")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy("refine")
      refineEvalBooks = IndexCatalog.trainedPqOf(name).map(_._1)
      res
    },
    // the eval sweeps' exhaustive-setting rows under the driver hash:
    // every family member (IVF probe sweep, HNSW beam sweep, PQ refine
    // sweep, codec dashboard) run ONLY at its exhaustive setting, where
    // recall@5 is exactly 1.0 by construction — the static end-to-end
    // pin of the eval pipeline (truth join, hit coalesce, denominator).
    // Since driver round 12 the recall/refine/rerank sweeps are ALSO
    // exact at their partial settings via injection; the graph beam
    // sweep (vs_ef_eval) and the fp16-bearing codec dashboard remain
    // rows-only with monotonicity spec-asserted.
    "vs_eval_exact_rows" -> { (s, dir) =>
      import s.implicits._
      val d = embData(s, dir)
      val qs = embQueries(s, dir)
      val rf = exhRefine(d, 5)
      val truth = graft.search.Knn.searchFlat(d, qs, 5, "l2sq")
        .select(col("qid"), col("label"))
      val tiers: Seq[(String, String, Map[String, String])] = Seq(
        ("fp16_refine_exh", "IDMap,SQfp16", Map("refine" -> rf)),
        ("hnsw_ef_exh", "IDMap,HNSW16",
          Map("efConstruction" -> "96", "efSearch" -> "1000000")),
        ("ivf_nprobe_exh", "IDMap,IVF16,Flat", Map("nprobe" -> "16")),
        ("ivfpq_refine_exh", "IDMap,IVF16,PQ8", Map("nprobe" -> "16", "refine" -> rf)),
        ("sq4_refine_exh", "IDMap,SQ4", Map("refine" -> rf)),
        ("sq8_refine_exh", "IDMap,SQ8", Map("refine" -> rf)))
      // r15 (guide §2.6): overlap the six independent tier builds —
      // see vs_compression_eval
      val tagged = inParallel(tiers) { case (tier, factory, params) =>
        val name = fresh(s"q_evx_$tier")
        IndexCatalog.create(name, 64, factory, "l2sq", params)
        IndexCatalog.add(d, name)
        IndexCatalog.search(name, 5, qs)
          .select(lit(tier).as("tier"), col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      truth
        .crossJoin(broadcast(tiers.map(_._1).toDF("tier")))
        .join(tagged, Seq("tier", "qid", "label"), "left")
        .groupBy("tier")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy("tier")
    },
    // exact scan over the replicated corpus: the baseline cost
    // (partition-local-heap path; equality with the declarative path is
    // spec- and oracle-gated via knn_join)
    "knn_flat_big" -> { (s, dir) =>
      graft.search.Knn.searchFlatFast(
          bigData(s, dir), graft.search.Knn.collectBatch(bigQueries(s, dir)), 5, "l2sq")
        .select(col("qid"), col("rank"), col("label"))
    },
    // IVF probes 4/64 lists: same answer quality target, ~6% of the scan.
    // Build (train + assign + list shuffle + cache fill) is forced and
    // timed SEPARATELY from the probe (PhaseTimer -> BENCH_QUERIES
    // "phases"): at the 1000x rung the one-time build dominated the
    // gate wall-time and masked the serving number a deployment
    // amortizes it against.
    "knn_ivf_big" -> { (s, dir) =>
      val name = fresh("q_ivf_big")
      IndexCatalog.create(name, 64, "IDMap,IVF64,Flat", "l2sq", Map("nprobe" -> "4"))
      IndexCatalog.add(bigData(s, dir), name)
      PhaseTimer.time("knn_ivf_big", "build") { IndexCatalog.build(name).data.count() }
      val res = IndexCatalog.search(name, 5, bigQueries(s, dir))
        .select(col("qid"), col("rank"), col("label"))
      knnIvfBigCents = IndexCatalog.trainedCentroidsOf(name) // memo for the injected oracle
      res
    },
    // the memory-bounded scale path: IVF pruning AND 8x PQ compression
    // over the replicated corpus — probed lists scan 8-byte codes (ADC
    // LUT), only the k x refine re-rank touches raw vectors. This is
    // the shape that still fits executor memory when the corpus does
    // not: 100k rows here, the same plan at 100 TB.
    "knn_ivfpq_big" -> { (s, dir) =>
      val name = fresh("q_ivfpq_big")
      IndexCatalog.create(name, 64, "IDMap,IVF16,PQ8", "l2sq",
        Map("nprobe" -> "4", "refine" -> "16"))
      IndexCatalog.add(bigData(s, dir), name)
      // build timed separately from the ADC probe (see knn_ivf_big)
      PhaseTimer.time("knn_ivfpq_big", "build") { IndexCatalog.build(name).data.count() }
      val res = IndexCatalog.search(name, 5, bigQueries(s, dir))
        .select(col("qid"), col("rank"), col("label"))
      knnIvfPqBigState = IndexCatalog.trainedPqOf(name).collect {
        case (books, Some(cs)) => (books, cs) } // memo for the injected oracle
      res
    })

  def oracles: Map[String, String] = Map(
    // same oracle as knn_flat_l2: exhaustive probing is exact
    "vs_index_build" -> VectorQueries.oracles("knn_flat_l2"),
    // exhaustive-probe searches stay exact through filter / save-load
    "knn_ivf_filter" -> VectorQueries.oracles("knn_search_filter"),
    // brute force over the survivors: a removed id must never surface
    "vs_index_remove" ->
      VectorQueries.knnOracle(VectorQueries.l2sqSql, "ASC", "WHERE vec_id % 7 <> 0"),
    // exhaustive probing is exact through both centroid generations
    "vs_index_retrain" -> VectorQueries.oracles("knn_flat_l2"),
    "vs_reconstruct" ->
      """SELECT vec_id AS label,
        |  CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
        |  CAST(CAST(unnest(embedding) AS DECIMAL(18,4)) AS DOUBLE) AS val
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // both strategies replayed as filtered brute force; the strategy
    // column pins WHICH path each predicate must take
    "knn_filter_adaptive" -> {
      val l2 = "list_sum([ (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ])"
      def arm(whereMod: String, strategy: String): String =
        s"""SELECT qid, rank, label,
           |  CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance,
           |  '$strategy' AS strategy
           |FROM (
           |  SELECT qid, label, dist,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label) - 1 AS INTEGER) AS rank
           |  FROM (
           |    SELECT q.qid, e.vec_id AS label, $l2 AS dist
           |    FROM (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10) q
           |    CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings WHERE vec_id % $whereMod = 0) e
           |  )
           |) WHERE rank < 5""".stripMargin
      arm("20", "prefilter_scan") + "\nUNION ALL\n" + arm("2", "postfilter_index")
    },
    "knn_hnsw_filter" -> VectorQueries.oracles("knn_search_filter"),
    "vs_index_saveload" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_filter_set" ->
      VectorQueries.knnOracle(VectorQueries.l2sqSql, "ASC", "WHERE vec_id % 3 = 0"),
    // every exhaustive-setting sweep row has recall exactly 250/250
    "vs_eval_exact_rows" ->
      """SELECT tier, CAST(1.0 AS DOUBLE) AS recall_at_5
        |FROM (VALUES ('fp16_refine_exh'), ('hnsw_ef_exh'), ('ivf_nprobe_exh'),
        |             ('ivfpq_refine_exh'), ('sq4_refine_exh'), ('sq8_refine_exh')) t(tier)
        |ORDER BY tier""".stripMargin,
    // exhaustive-config twins: no approximation left -> the flat oracle
    "knn_ivf_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_ivf_hnsw_exh" -> VectorQueries.oracles("knn_flat_l2"),
    // replay the injected-quantizer assignment (same double accumulation,
    // ties to lowest cid), then ntotal / nlist / the one-division
    // imbalance factor over the resulting list sizes
    "vs_index_stats" ->
      s"""WITH q AS (SELECT vec_id, embedding AS a FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS b FROM embeddings WHERE vec_id < 16),
         |d AS (SELECT q.vec_id, seeds.cid, ${VectorQueries.l2sqSql} AS dist
         |      FROM q CROSS JOIN seeds),
         |asg AS (SELECT vec_id, cid,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |        FROM d),
         |sz AS (SELECT cid, count(*) AS n FROM asg WHERE rn = 1 GROUP BY cid)
         |SELECT CAST(sum(n) AS BIGINT) AS ntotal, 16 AS nlist,
         |  16 * sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
         |    (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)) AS imbalance_factor
         |FROM sz""".stripMargin,
    "knn_hnsw_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_pq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_ivf_hnsw_pq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_ivf_hnsw_sq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_rq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_imi_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_lsq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_sq8_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_sq4_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_sqfp16_exh" -> VectorQueries.oracles("knn_flat_l2"),
    "knn_ivfsq_exh" -> VectorQueries.oracles("knn_flat_l2"),
    // merged shards + exhaustive probe = exact over the full corpus
    "vs_index_merge" -> VectorQueries.oracles("knn_flat_l2"),
    // exhaustive-probe range search is exact -> brute-force radius oracle
    "knn_radius_ivf" -> VectorQueries.oracles("knn_radius"),
    // exact scan over the replicated corpus — the oracle replays the
    // same replication and brute force (~5s in DuckDB at sf0.01)
    "knn_flat_big" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 100),
        |big AS (
        |  SELECT e.vec_id + c.c * 1000000 AS label, e.embedding AS b
        |  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 50)) AS c) c
        |),
        |d AS (
        |  SELECT q.qid, big.label,
        |    list_sum([ (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ]) AS dist
        |  FROM q CROSS JOIN big
        |),
        |r AS (
        |  SELECT qid, label, dist,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
        |  FROM d
        |)
        |SELECT qid, rank, label FROM r WHERE rank < 5""".stripMargin
  ) ++ knnPcaBasis.map(b => "knn_pca" -> knnPcaOracle(b._1, b._2)) ++
    knnIvfCents.map(cs => "knn_ivf" -> knnIvfOracle(cs, nprobe = 4)) ++
    // graph-coarse family: the 16-node coarse walk at coarseEfSearch=32
    // is exhaustive (beam never rejects, early-exit never fires), so
    // assignment/probing are the exact (dist, cid) argmin/top-nprobe —
    // the plain injected replays hold verbatim (round 13)
    knnIvfHnswCents.map(cs => "knn_ivf_hnsw" -> knnIvfOracle(cs, nprobe = 4)) ++
    knnIvfHnswPqState.map(t =>
      "knn_ivf_hnsw_pq" -> knnIvfPqOracle(t._1, t._2, nprobe = 4, kk = 120)) ++
    knnIvfHnswSqState.map(t =>
      "knn_ivf_hnsw_sq" -> knnSqOracle(t._1, t._2, levels = 255, kk = 40,
        ivf = Some((t._3, 4)))) ++
    // sharded HNSW at efSearch=128 >= shard size: the beam is
    // exhaustive per shard, so the merged top-k IS the flat result —
    // emitted only when the gate MEASURED the precondition on its own
    // built graphs (rows-only degradation otherwise)
    (if (knnHnswExhaustive) Map("knn_hnsw" -> VectorQueries.oracles("knn_flat_l2"))
     else Map.empty[String, String]) ++
    efEvalGraphs.map(gs => "vs_ef_eval" -> efEvalOracle(gs, EfSweep)) ++
    knnIvfBigCents.map(cs => "knn_ivf_big" -> knnIvfBigOracle(cs, nprobe = 4)) ++
    knnSq8State.map(b => "knn_sq8" -> knnSqOracle(b._1, b._2, levels = 255, kk = 40, ivf = None)) ++
    knnSq4State.map(b => "knn_sq4" -> knnSqOracle(b._1, b._2, levels = 15, kk = 40, ivf = None)) ++
    knnIvfsqState.map(t =>
      "knn_ivfsq" -> knnSqOracle(t._1, t._2, levels = 255, kk = 40, ivf = Some((t._3, 4)))) ++
    knnPqBooks.map(b => "knn_pq" -> knnPqOracle(b, kk = 120)) ++
    knnOpqState.map(t =>
      "knn_opq" -> knnPqOracle(t._3, kk = 120, proj = Some((t._1, t._2)))) ++
    Map("knn_lsh" -> knnLshOracle(bands = GateParams.LshBands,
          bitsPerBand = GateParams.LshBits, dim = GateParams.Dim, seed = GateParams.Seed),
        "knn_sqfp16" -> knnSqfp16Oracle(kk = GateParams.refineK, dim = GateParams.Dim)) ++
    knnIvfPqBigState.map(t =>
      "knn_ivfpq_big" -> knnIvfPqBigOracle(t._1, t._2, nprobe = 4, kk = 80)) ++
    knnImiBooks.map(b => "knn_imi" -> knnImiOracle(b, nprobe = 4)) ++
    knnRqState.map(t => "knn_rq" -> knnRqOracle(t._1, t._2, nprobe = 4, kk = 120)) ++
    recallEvalCents.map(cs => "vs_recall_eval" -> recallEvalOracle(cs, RecallNprobes)) ++
    refineEvalBooks.map(b => "vs_refine_eval" -> refineEvalOracle(b, RefineFactors)) ++
    knnLsqState.map { t =>
      // unroll only the OBSERVED max effective ICM rounds (VERDICT r12
      // #6): the engine's encoder early-exits at its fixpoint and the
      // accumulator records the corpus max, so the dropped worst-case
      // rounds are idempotent re-picks — hash-identical, ~4x less
      // oracle SQL. Falls back to the worst case when the gate's index
      // is gone or never materialized (filtered runs).
      // max(1, _): 0 observed rounds means the greedy init was already a
      // fixpoint corpus-wide; one idempotent round keeps the CTE chain
      // non-degenerate and is hash-identical by construction. The
      // reader was pinned to the gate's own build (no by-name lookup
      // that a same-JVM rebuild could redirect — ADVICE r13).
      val rounds = knnLsqRounds
        .flatMap(rd => scala.util.Try(rd()).toOption.flatten)
        .map(r => math.max(1, math.min(r, graft.index.Lsq.IcmRounds)))
        .getOrElse(graft.index.Lsq.IcmRounds)
      "knn_lsq" -> knnLsqOracle(t._1, t._2, nprobe = 4, kk = 120, icmRounds = rounds)
    } ++
    compEvalState.map(t => "vs_compression_eval" -> compEvalOracle(t._1, t._2, t._3))

  /** Trained PCA basis of the last knn_pca run (Verify dumps
    * oracle_sql.json AFTER executing the queries) — the
    * manualTrainCentroids/embed_pca_variance move: the eigensolve's
    * output is injected verbatim into both engines, so its libm is
    * irrelevant. Absent on filtered runs → rows-only degradation. */
  @volatile private[queries] var knnPcaBasis
      : Option[(Array[Float], Array[Array[Float]])] = None

  // Trained state of the partial-probe gates, memoized after each run
  // (VERDICT r11 #1 — the knn_pca move applied to IVF/SQ): k-means and
  // bounds training the oracle can't reproduce becomes INJECTED input,
  // and everything downstream (assignment argmin, probe-list selection,
  // encode grid, candidate heap, re-rank) is a deterministic replay.
  // Absent on filtered runs → rows-only degradation, same contract.
  @volatile private[queries] var knnIvfCents: Option[Array[Array[Float]]] = None

  /** trained state of the graph-coarse IVF gates (knn_ivf_hnsw*): the
    * exhaustive coarse walk (coarseEfSearch >= nlist) makes their
    * probing exact, so the plain injected-IVF replays apply verbatim */
  @volatile private[queries] var knnIvfHnswCents: Option[Array[Array[Float]]] = None
  @volatile private[queries] var knnIvfHnswPqState
      : Option[(Array[Array[Array[Float]]], Array[Array[Float]])] = None
  @volatile private[queries] var knnIvfHnswSqState
      : Option[(Array[Float], Array[Float], Array[Array[Float]])] = None

  /** whether knn_hnsw's gate-run shards all fit inside efSearch=128
    * (measured on the built graphs) — the precondition under which the
    * beam walk is exhaustive and the flat oracle is exact */
  @volatile private[queries] var knnHnswExhaustive: Boolean = false

  /** built shard graphs of the vs_ef_eval run, for the beam-replay
    * oracle (None when the gate didn't run or the corpus outgrew the
    * collection cap -> rows-only degradation) */
  @volatile private[queries] var efEvalGraphs: Option[Seq[graft.index.Nsw.Graph]] = None
  @volatile private[queries] var knnIvfBigCents: Option[Array[Array[Float]]] = None
  @volatile private[queries] var knnSq8State: Option[(Array[Float], Array[Float])] = None
  @volatile private[queries] var knnSq4State: Option[(Array[Float], Array[Float])] = None
  @volatile private[queries] var knnIvfsqState
      : Option[(Array[Float], Array[Float], Array[Array[Float]])] = None
  @volatile private[queries] var knnPqBooks: Option[Array[Array[Array[Float]]]] = None
  @volatile private[queries] var knnOpqState
      : Option[(Array[Float], Array[Array[Float]], Array[Array[Array[Float]]])] = None
  @volatile private[queries] var knnIvfPqBigState
      : Option[(Array[Array[Array[Float]]], Array[Array[Float]])] = None
  @volatile private[queries] var knnImiBooks: Option[Array[Array[Array[Float]]]] = None
  @volatile private[queries] var knnRqState
      : Option[(Array[Array[Array[Float]]], Array[Array[Float]])] = None
  @volatile private[queries] var recallEvalCents: Option[Array[Array[Float]]] = None
  @volatile private[queries] var refineEvalBooks: Option[Array[Array[Array[Float]]]] = None
  /** rounds reader pinned to the knn_lsq gate's OWN build (captured
    * with [[knnLsqState]]; lazy value, fixed binding — ADVICE r13) */
  @volatile private[queries] var knnLsqRounds: Option[() => Option[Int]] = None
  @volatile private[queries] var knnLsqState
      : Option[(Array[Array[Array[Float]]], Array[Array[Float]])] = None
  @volatile private[queries] var compEvalState: Option[(
      (Array[Float], Array[Float]), (Array[Float], Array[Float]),
      Array[Array[Array[Float]]])] = None

  /** 10 significant digits round-trips any float through a decimal
    * literal: CAST(lit AS REAL) in DuckDB recovers the exact bits */
  private[queries] def fl(x: Float): String = "%1.9e".format(x)
  private[queries] def flList(a: Array[Float]): String = a.map(fl).mkString("[", ", ", "]")
  private[queries] def centRows(cents: Array[Array[Float]]): String =
    cents.zipWithIndex.map { case (c, i) => s"($i, ${flList(c)})" }.mkString(",\n  ")

  /** L2² between a raw float column and an injected centroid list: both
    * sides widen float->double BEFORE subtracting (the literal
    * round-trips through REAL to recover the exact float) and the sum
    * is sequential in index order, exactly the NearestCentroids loop —
    * the replay vs_index_stats already hash-proves. */
  private[queries] def l2CentSql(v: String, c: String, dim: Int): String =
    s"list_sum([ (CAST($v[i] AS DOUBLE) - CAST(CAST($c[i] AS REAL) AS DOUBLE)) * " +
      s"(CAST($v[i] AS DOUBLE) - CAST(CAST($c[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ])"

  /** raw-vs-raw L2² (both sides parquet floats), fixed dim */
  private[queries] def l2RawSql(a: String, b: String, dim: Int): String =
    s"list_sum([ (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ])"

  /** assignment + probe CTEs shared by the injected IVF oracles:
    * `asg` is the corpus argmin (ties to the lowest cid — the strict-<
    * first-wins loop of NearestCentroids at nprobe=1), `probes` the
    * per-query nprobe nearest lists (the TopKHeap's (dist, cid) order,
    * identical tie-break). */
  private[queries] def ivfProbeCtes(
      cents: Array[Array[Float]], nprobe: Int, queryWhere: String): String = {
    val dim = cents(0).length
    s"""cents(cid, cv) AS (VALUES
       |  ${centRows(cents)}),
       |cd AS (
       |  SELECT e.vec_id, cents.cid, ${l2CentSql("e.embedding", "cv", dim)} AS dist
       |  FROM embeddings e CROSS JOIN cents
       |),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM cd) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM cd WHERE $queryWhere) WHERE rn <= $nprobe
       |)""".stripMargin
  }

  /** DuckDB replay of the partial-probe IVF search with injected
    * trained centroids (cf. reference faiss_extension.cpp search on
    * "IVF<n>,Flat"): probed-list brute force, exact because every
    * stage is a deterministic function of the centroids. */
  private def knnIvfOracle(cents: Array[Array[Float]], nprobe: Int): String = {
    val dim = cents(0).length
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 10")},
       |cand AS (SELECT p.qid, a.vec_id AS label FROM probes p JOIN asg a ON a.cid = p.cid),
       |d AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** same replay over the 50x-replicated corpus (knn_flat_big's
    * replication shape): assignment/distances computed once per
    * distinct vector, then expanded to the 50 copy labels */
  private def knnIvfBigOracle(cents: Array[Array[Float]], nprobe: Int): String = {
    val dim = cents(0).length
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 100")},
       |cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN asg a ON a.cid = p.cid),
       |d AS (
       |  SELECT c.qid, c.vec_id, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id
       |),
       |dx AS (
       |  SELECT qid, vec_id + cp.c * 1000000 AS label, dist
       |  FROM d CROSS JOIN (SELECT unnest(range(0, 50)) AS c) cp
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM dx
       |)
       |SELECT qid, rank, label FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the product-quantized search with INJECTED
    * codebooks (cf. FAISS IndexPQ/IVFPQ ADC, reference factory
    * "IVF<n>,PQ<m>"): the gate's probe is exhaustive, so the replay is
    * (1) encode — per (vector, subspace) argmin over the 256
    * sub-centroids on the subspace SLICE, double accumulation, ties to
    * the lowest code (the strict-< early-abandon loop preserves
    * first-wins exactly); (2) the per-query LUT — the same slice
    * distance rounded to FLOAT (lut stores floats); (3) ADC — the
    * SUB-ORDERED sequential double sum of the looked-up floats
    * (list(… ORDER BY sub) -> list_sum, NOT a plain SUM, whose
    * accumulation order DuckDB doesn't define); (4) the k x refine
    * candidate heap on ((adc, label)); (5) exact raw re-rank. */
  private def knnPqOracle(
      books: Array[Array[Array[Float]]], kk: Int,
      proj: Option[(Array[Float], Array[Array[Float]])] = None): String = {
    val m = books.length
    val dsub = books(0)(0).length
    val bookRows = (for {
      sub <- books.indices
      c <- books(sub).indices
    } yield s"($sub, $c, ${flList(books(sub)(c))})").mkString(",\n  ")
    def sliceL2(v: String): String =
      s"list_sum([ (CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dsub + 1}) ])"
    // OPQ<m>,PQ<k>: everything — encode, LUT, ADC, and the re-rank —
    // runs in the ROTATED space (PcaBuilt projects corpus and queries
    // before the inner index sees them, and the inner re-rank joins the
    // PROJECTED base table), so the oracle replays the projection with
    // Pca.projectArr's exact rounding chain (the hash-proven knn_pca
    // move) and swaps the source view.
    val projCtes = proj.map { case (mean, comps) =>
      val inDim = mean.length
      val compRows = comps.zipWithIndex
        .map { case (c, j) => s"($j, ${flList(c)})" }.mkString(",\n  ")
      s"""comps(pdim, pcv) AS (VALUES
         |  $compRows),
         |pmn(pmv) AS (VALUES (${flList(mean)})),
         |pp AS (
         |  SELECT e.vec_id, comps.pdim,
         |    CAST(list_sum([
         |      CAST(CAST(CAST(pcv[i] AS REAL) * CAST(CAST(e.embedding[i] AS REAL) - CAST(pmv[i] AS REAL) AS REAL) AS REAL) AS DOUBLE)
         |      FOR i IN range(1, ${inDim + 1})]) AS REAL) AS pf
         |  FROM embeddings e CROSS JOIN comps CROSS JOIN pmn
         |),
         |src AS (SELECT vec_id, list(pf ORDER BY pdim) AS embedding FROM pp GROUP BY vec_id),
         |""".stripMargin
    }.getOrElse("src AS (SELECT vec_id, embedding FROM embeddings),\n")
    s"""WITH ${projCtes}books(sub, c, cv) AS (VALUES
       |  $bookRows),
       |enc AS (
       |  SELECT e.vec_id, b.sub, b.c, ${sliceL2("e.embedding")} AS dist
       |  FROM src e CROSS JOIN books b
       |),
       |codes AS (
       |  SELECT vec_id, sub, c FROM (
       |    SELECT vec_id, sub, c,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rn
       |    FROM enc) WHERE rn = 1
       |),
       |lut AS (
       |  SELECT q.vec_id AS qid, b.sub, b.c, CAST(${sliceL2("q.embedding")} AS REAL) AS lv
       |  FROM src q CROSS JOIN books b WHERE q.vec_id < 10
       |),
       |cdist AS (
       |  SELECT qid, vec_id AS label, list_sum(lvs) AS cd FROM (
       |    SELECT l.qid, cd.vec_id, list(CAST(l.lv AS DOUBLE) ORDER BY l.sub) AS lvs
       |    FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.c = cd.c
       |    GROUP BY l.qid, cd.vec_id)
       |),
       |cand AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM cdist) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", m * dsub)} AS dist
       |  FROM cand c
       |  JOIN src qe ON qe.vec_id = c.qid
       |  JOIN src ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of knn_ivfpq_big — the full 100 TB serving
    * composition (IVF pruning + PQ codes + exact re-rank) over the
    * 50x-replicated corpus, with BOTH trained states injected
    * (coarse centroids + codebooks). Assignment, encode, and ADC run
    * once per DISTINCT vector (copies share them); the candidate heap
    * and re-rank run over the expanded copy labels ((cd, label) and
    * (dist, label) orders — the lowest-copy labels win code-distance
    * ties exactly as the engine's heap does). */
  /** DuckDB replay of the sharded-HNSW ef sweep with the BUILT graphs
    * INJECTED (round 13 — the last index-family rows-only residue): the
    * per-shard graphs (labels, levels, insertion-ordered adjacency,
    * entry node) are bounded built state exactly like centroids or
    * codebooks, so the oracle replays the search itself —
    *
    *  1. `dst`: the greedy layer descent (Nsw.greedyClosest): from the
    *     shard entry at maxLevel, hill-climb to the strict-best
    *     improving neighbor (ties to lowest adjacency position — the
    *     first-wins strict-< scan), drop a layer when no neighbor
    *     improves, stop at layer 0.
    *  2. `bm`: the ef-bounded beam (Nsw.searchLayer) as a recursive
    *     fold over a per-(query, shard, ef) STRUCT-list state. The
    *     replay uses the BATCH-INSERT EQUIVALENCE: with all (d, label)
    *     keys distinct, inserting every unvisited neighbor of the
    *     expanded node is indistinguishable from the engine's
    *     res-filtered insertion — a neighbor the engine rejects
    *     (d above the width-th best) can never re-enter the top-width
    *     set (the head only improves) and is never expanded (when it
    *     becomes the frontier minimum the termination test d > head
    *     fires first, exactly when the engine's cand.clear() would).
    *     So: expand the (d, label)-minimum unexpanded node, append its
    *     unseen neighbors, terminate when |inserted| >= width and the
    *     minimum unexpanded d exceeds the width-th smallest d.
    *  3. per-shard top-5 = 5 smallest (d, label) of the inserted set
    *     (= res, the proven invariant), global merge = rankResults'
    *     (distance, label) rank, recall = IEEE double division.
    *
    * Distances replay l2RawSql (the engine's sequential double
    * accumulation). Duplicate-collapsed nodes re-inflate through the
    * injected dup map before the final ranks, mirroring Nsw.expand. */
  private def efEvalOracle(graphs: Seq[graft.index.Nsw.Graph], efs: Seq[Int]): String = {
    val dim = 64
    val shardRows = graphs.zipWithIndex.collect {
      case (g, sid) if g.labels.nonEmpty =>
        s"($sid, ${g.labels(g.entry)}, ${g.maxLevel})"
    }.mkString(",\n  ")
    val adjSeq = for {
      (g, sid) <- graphs.zipWithIndex
      i <- g.labels.indices
      l <- 0 to g.levels(i)
      (nb, p) <- g.adj(i)(l).zipWithIndex
    } yield s"($sid, $l, ${g.labels(i)}, ${p + 1}, ${g.labels(nb)})"
    // a VALUES list cannot be empty: single-node shards have no edges,
    // so park a sentinel row no walk can reach (sid -1)
    val adjRows =
      (if (adjSeq.isEmpty) Seq("(-1, 0, -1, 1, -1)") else adjSeq).mkString(",\n  ")
    val hasDups = graphs.exists(_.dups.exists(_.length > 1))
    val dupRows = (for {
      g <- graphs; i <- g.labels.indices; alt <- g.dups(i)
    } yield s"(${g.labels(i)}, $alt)").mkString(",\n  ")
    val efRows = efs.map(e => s"($e)").mkString(", ")
    val stTy = "STRUCT(d DOUBLE, lbl BIGINT, ex BOOLEAN)[]"
    val dupCtes = if (!hasDups) "" else
      s""",
         |dup(lbl, alt) AS (VALUES
         |  $dupRows)""".stripMargin
    val shardTop = if (!hasDups)
      """shx AS (SELECT qid, sid, ef, d, lbl FROM sh)"""
    else
      """shx AS (
        |  SELECT qid, sid, ef, d, lbl FROM (
        |    SELECT s.qid, s.sid, s.ef, s.d, du.alt AS lbl,
        |      row_number() OVER (PARTITION BY s.qid, s.sid, s.ef ORDER BY s.d, du.alt) AS rn
        |    FROM sh s JOIN dup du ON du.lbl = s.lbl) WHERE rn <= 5)""".stripMargin
    s"""WITH RECURSIVE
       |shards(sid, entry_lbl, max_level) AS (VALUES
       |  $shardRows),
       |adj(sid, layer, lbl, pos, nb) AS (VALUES
       |  $adjRows),
       |efs(ef) AS (VALUES $efRows)$dupCtes,
       |qd AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, e.vec_id AS lbl,
       |    ${l2RawSql("q.embedding", "e.embedding", dim)} AS d
       |  FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < 10
       |),
       |dst AS (
       |  SELECT q.qid, s.sid, s.max_level AS layer, CAST(s.entry_lbl AS BIGINT) AS cur
       |  FROM (SELECT DISTINCT qid FROM qd) q CROSS JOIN shards s
       |  UNION ALL
       |  -- alias must not be "d": qd carries a column d, and a bare
       |  -- "d.qid" would bind as struct-field access on x.d/c.d
       |  SELECT w.qid, w.sid,
       |    CASE WHEN imp.nb IS NOT NULL THEN w.layer ELSE w.layer - 1 END AS layer,
       |    CAST(COALESCE(imp.nb, w.cur) AS BIGINT) AS cur
       |  FROM dst w
       |  LEFT JOIN LATERAL (
       |    SELECT a.nb
       |    FROM adj a
       |    JOIN qd x ON x.qid = w.qid AND x.lbl = a.nb
       |    JOIN qd c ON c.qid = w.qid AND c.lbl = w.cur
       |    WHERE a.sid = w.sid AND a.layer = w.layer AND a.lbl = w.cur AND x.d < c.d
       |    ORDER BY x.d, a.pos
       |    LIMIT 1
       |  ) imp ON TRUE
       |  WHERE w.layer > 0
       |),
       |eps AS (SELECT qid, sid, cur FROM dst WHERE layer = 0),
       |bm AS (
       |  SELECT e.qid, e.sid, f.ef, 0 AS step, false AS fin,
       |    [{'d': CAST(x.d AS DOUBLE), 'lbl': CAST(e.cur AS BIGINT), 'ex': false}] AS ins
       |  FROM eps e
       |  JOIN qd x ON x.qid = e.qid AND x.lbl = e.cur
       |  CROSS JOIN efs f
       |  UNION ALL
       |  SELECT t.qid, t.sid, t.ef, t.step + 1,
       |    (t.cnt >= t.w AND t.nxt.d > t.hd) AS fin,
       |    CASE WHEN t.cnt >= t.w AND t.nxt.d > t.hd THEN t.ins
       |      ELSE list_concat(
       |        [CASE WHEN x.lbl = t.nxt.lbl THEN {'d': x.d, 'lbl': x.lbl, 'ex': true} ELSE x END
       |         FOR x IN t.ins],
       |        COALESCE(fresh.fl, CAST([] AS $stTy)))
       |    END AS ins
       |  FROM (
       |    SELECT b.qid, b.sid, b.ef, b.step, b.ins,
       |      greatest(b.ef, 5) AS w,
       |      len(b.ins) AS cnt,
       |      list_sort(list_filter(b.ins, x -> NOT x.ex))[1] AS nxt,
       |      CASE WHEN len(b.ins) >= greatest(b.ef, 5)
       |           THEN list_sort(b.ins)[greatest(b.ef, 5)].d
       |           ELSE CAST('inf' AS DOUBLE) END AS hd
       |    FROM bm b WHERE NOT b.fin
       |  ) t
       |  LEFT JOIN LATERAL (
       |    SELECT list({'d': CAST(x.d AS DOUBLE), 'lbl': CAST(a.nb AS BIGINT), 'ex': false}
       |                ORDER BY a.pos) AS fl
       |    FROM adj a JOIN qd x ON x.qid = t.qid AND x.lbl = a.nb
       |    WHERE a.sid = t.sid AND a.layer = 0 AND a.lbl = t.nxt.lbl
       |      AND NOT list_contains([y.lbl FOR y IN t.ins], a.nb)
       |  ) fresh ON TRUE
       |  WHERE t.nxt IS NOT NULL
       |),
       |fin_st AS (
       |  SELECT qid, sid, ef, ins FROM (
       |    SELECT qid, sid, ef, ins,
       |      row_number() OVER (PARTITION BY qid, sid, ef ORDER BY step DESC) AS rn
       |    FROM bm) WHERE rn = 1
       |),
       |sh0 AS (SELECT qid, sid, ef, unnest(list_sort(ins)[1:5]) AS nd FROM fin_st),
       |sh AS (SELECT qid, sid, ef, nd.d AS d, nd.lbl AS lbl FROM sh0),
       |$shardTop,
       |hits AS (
       |  SELECT ef, qid, lbl FROM (
       |    SELECT ef, qid, lbl, row_number() OVER (PARTITION BY ef, qid ORDER BY d, lbl) AS rn
       |    FROM shx) WHERE rn <= 5
       |),
       |truth AS (
       |  SELECT qid, lbl FROM (
       |    SELECT qid, lbl, row_number() OVER (PARTITION BY qid ORDER BY d, lbl) AS rn
       |    FROM qd) WHERE rn <= 5
       |)
       |SELECT CAST(f.ef AS INTEGER) AS ef,
       |  CAST(sum(CASE WHEN h.lbl IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall_at_5
       |FROM truth t CROSS JOIN efs f
       |LEFT JOIN hits h ON h.ef = f.ef AND h.qid = t.qid AND h.lbl = t.lbl
       |GROUP BY f.ef ORDER BY ef""".stripMargin
  }

  /** DuckDB replay of a pruned IVF-PQ search over the PLAIN embeddings
    * corpus (knn_ivf_hnsw_pq): injected centroids drive assignment and
    * the top-nprobe probe, injected codebooks drive the encode argmin
    * and the per-query float LUT, ADC sums the LUT in stage order
    * (double, list-ordered), the k x refine candidate heap cuts on
    * (cd, label), exact re-rank orders (dist, label) — the
    * knnIvfPqBigOracle chain without the copy expansion, with the
    * gate's vec_id < 10 query filter and quant4 distance output. */
  private def knnIvfPqOracle(
      books: Array[Array[Array[Float]]], cents: Array[Array[Float]],
      nprobe: Int, kk: Int): String = {
    val m = books.length
    val dsub = books(0)(0).length
    val dim = cents(0).length
    val bookRows = (for {
      sub <- books.indices
      c <- books(sub).indices
    } yield s"($sub, $c, ${flList(books(sub)(c))})").mkString(",\n  ")
    def sliceL2(v: String): String =
      s"list_sum([ (CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dsub + 1}) ])"
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 10")},
       |books(sub, c, bv) AS (VALUES
       |  $bookRows),
       |codes AS (
       |  SELECT vec_id, sub, c FROM (
       |    SELECT e.vec_id, b.sub, b.c,
       |      row_number() OVER (PARTITION BY e.vec_id, b.sub
       |                         ORDER BY ${sliceL2("e.embedding")}, b.c) AS rn
       |    FROM embeddings e CROSS JOIN books b) WHERE rn = 1
       |),
       |lut AS (
       |  SELECT q.vec_id AS qid, b.sub, b.c, CAST(${sliceL2("q.embedding")} AS REAL) AS lv
       |  FROM embeddings q CROSS JOIN books b WHERE q.vec_id < 10
       |),
       |adc AS (
       |  SELECT qid, vec_id, list_sum(lvs) AS cd FROM (
       |    SELECT l.qid, cd.vec_id, list(CAST(l.lv AS DOUBLE) ORDER BY l.sub) AS lvs
       |    FROM probes p
       |    JOIN asg a ON a.cid = p.cid
       |    JOIN codes cd ON cd.vec_id = a.vec_id
       |    JOIN lut l ON l.qid = p.qid AND l.sub = cd.sub AND l.c = cd.c
       |    GROUP BY l.qid, cd.vec_id)
       |),
       |cand AS (
       |  SELECT qid, vec_id AS label FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cd, vec_id) AS rn
       |    FROM adc) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  private def knnIvfPqBigOracle(
      books: Array[Array[Array[Float]]], cents: Array[Array[Float]],
      nprobe: Int, kk: Int): String = {
    val m = books.length
    val dsub = books(0)(0).length
    val dim = cents(0).length
    val bookRows = (for {
      sub <- books.indices
      c <- books(sub).indices
    } yield s"($sub, $c, ${flList(books(sub)(c))})").mkString(",\n  ")
    def sliceL2(v: String): String =
      s"list_sum([ (CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dsub + 1}) ])"
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 100")},
       |books(sub, c, bv) AS (VALUES
       |  $bookRows),
       |codes AS (
       |  SELECT vec_id, sub, c FROM (
       |    SELECT e.vec_id, b.sub, b.c,
       |      row_number() OVER (PARTITION BY e.vec_id, b.sub
       |                         ORDER BY ${sliceL2("e.embedding")}, b.c) AS rn
       |    FROM embeddings e CROSS JOIN books b) WHERE rn = 1
       |),
       |lut AS (
       |  SELECT q.vec_id AS qid, b.sub, b.c, CAST(${sliceL2("q.embedding")} AS REAL) AS lv
       |  FROM embeddings q CROSS JOIN books b WHERE q.vec_id < 100
       |),
       |adc AS (
       |  SELECT qid, vec_id, list_sum(lvs) AS cd FROM (
       |    SELECT l.qid, cd.vec_id, list(CAST(l.lv AS DOUBLE) ORDER BY l.sub) AS lvs
       |    FROM probes p
       |    JOIN asg a ON a.cid = p.cid
       |    JOIN codes cd ON cd.vec_id = a.vec_id
       |    JOIN lut l ON l.qid = p.qid AND l.sub = cd.sub AND l.c = cd.c
       |    GROUP BY l.qid, cd.vec_id)
       |),
       |dx AS (
       |  SELECT qid, vec_id + cp.c * 1000000 AS label, vec_id, cd
       |  FROM adc CROSS JOIN (SELECT unnest(range(0, 50)) AS c) cp
       |),
       |cand AS (
       |  SELECT qid, label, vec_id FROM (
       |    SELECT qid, label, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM dx) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the local-search-quantizer search with INJECTED
    * stage codebooks + coarse centroids (cf. FAISS "IVF<n>,LSQ<m>";
    * Martinez et al. 2016): the ICM encoder is a bounded fixed-point
    * loop — greedy init (exactly the RQ chain: argmin + float residual
    * update per stage, approximation accumulated in float stage
    * order), then IcmRounds unrolled rounds of per-stage re-picks. A
    * round that changes nothing is idempotent (the argmin re-finds the
    * current code and the update is skipped), so unrolling the maximum
    * round count replays the engine's early-exit loop exactly. Each
    * re-pick: u = v - (approx - cur) in double, argmin over the stage
    * book (strict <, ties to lowest code), approx += nb - cur with
    * both float roundings. The scorer then decodes FRESH from the
    * final codes (stage-order float adds — NOT the approx buffer,
    * whose delta accumulation rounds differently), takes the
    * sequential double L2 to the query, cuts k x refine candidates
    * ((cd, label)), and re-ranks exactly. */
  private def knnLsqOracle(
      books: Array[Array[Array[Float]]], cents: Array[Array[Float]],
      nprobe: Int, kk: Int, icmRounds: Int): String = {
    val m = books.length
    val dim = books(0)(0).length
    val bookRows = (for {
      stage <- books.indices
      c <- books(stage).indices
    } yield s"($stage, $c, ${flList(books(stage)(c))})").mkString(",\n  ")
    val codeCols = (0 until m).map(j => s"c$j")
    // ---- greedy init: the RQ encode chain + the approx accumulation
    val greedy = (0 until m).map { t =>
      val argmin =
        s"""cg$t AS MATERIALIZED (SELECT vec_id, c FROM (
           |  SELECT r.vec_id, b.c,
           |    row_number() OVER (PARTITION BY r.vec_id ORDER BY
           |      list_sum([ (CAST(r.r[i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) *
           |                 (CAST(r.r[i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ]), b.c) AS rn
           |  FROM gres$t r CROSS JOIN (SELECT c, bv FROM rqb WHERE stage = $t) b) WHERE rn = 1)""".stripMargin
      val residual = if (t == m - 1) "" else
        s""",
           |gres${t + 1} AS MATERIALIZED (
           |  SELECT r.vec_id,
           |    [CAST(CAST(r.r[i] AS REAL) - CAST(b.bv[i] AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})] AS r
           |  FROM gres$t r JOIN cg$t ON cg$t.vec_id = r.vec_id
           |  JOIN rqb b ON b.stage = $t AND b.c = cg$t.c)""".stripMargin
      val acc =
        if (t == 0)
          s""",
             |ga0 AS MATERIALIZED (
             |  SELECT cg0.vec_id, [CAST(b.bv[i] AS REAL) FOR i IN range(1, ${dim + 1})] AS v
             |  FROM cg0 JOIN rqb b ON b.stage = 0 AND b.c = cg0.c)""".stripMargin
        else
          s""",
             |ga$t AS MATERIALIZED (
             |  SELECT a.vec_id,
             |    [CAST(a.v[i] + CAST(b.bv[i] AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})] AS v
             |  FROM ga${t - 1} a JOIN cg$t ON cg$t.vec_id = a.vec_id
             |  JOIN rqb b ON b.stage = $t AND b.c = cg$t.c)""".stripMargin
      argmin + residual + acc
    }.mkString(",\n")
    val s0 =
      s"""s0 AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding AS v,
         |    ${(0 until m).map(j => s"cg$j.c AS c$j").mkString(", ")}, ga${m - 1}.v AS approx
         |  FROM embeddings e ${(0 until m).map(j => s"JOIN cg$j ON cg$j.vec_id = e.vec_id").mkString(" ")}
         |  JOIN ga${m - 1} ON ga${m - 1}.vec_id = e.vec_id)""".stripMargin
    // ---- unrolled ICM rounds: one CTE per (round, stage) re-pick
    val icmSteps = (for {
      round <- 0 until icmRounds
      j <- 0 until m
    } yield (round * m + j, j)).map { case (n, j) =>
      val uTerm =
        s"CAST(s2.v[i] AS DOUBLE) - (CAST(s2.approx[i] AS DOUBLE) - CAST(CAST(cur2.bv[i] AS REAL) AS DOUBLE))"
      val carry = codeCols.map(c => if (c == s"c$j") s"nb.c AS c$j" else s"s.$c").mkString(", ")
      s"""s${n + 1} AS MATERIALIZED (
         |  SELECT s.vec_id, s.v, $carry,
         |    CASE WHEN nb.c = s.c$j THEN s.approx
         |      ELSE [CAST(s.approx[i] + CAST(CAST(nb2.bv[i] AS REAL) - CAST(cur.bv[i] AS REAL) AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})]
         |    END AS approx
         |  FROM s$n s
         |  JOIN rqb cur ON cur.stage = $j AND cur.c = s.c$j
         |  JOIN (
         |    SELECT vec_id, c FROM (
         |      SELECT s2.vec_id, b.c,
         |        row_number() OVER (PARTITION BY s2.vec_id ORDER BY
         |          list_sum([ (($uTerm) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) *
         |                     (($uTerm) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ]), b.c) AS rn
         |      FROM s$n s2 JOIN rqb cur2 ON cur2.stage = $j AND cur2.c = s2.c$j
         |      CROSS JOIN (SELECT c, bv FROM rqb WHERE stage = $j) b) WHERE rn = 1
         |  ) nb ON nb.vec_id = s.vec_id
         |  JOIN rqb nb2 ON nb2.stage = $j AND nb2.c = nb.c)""".stripMargin
    }.mkString(",\n")
    val sFinal = s"s${icmRounds * m}"
    // ---- fresh decode from the final codes (the scorer's scratch chain)
    val fdec = (0 until m).map { t =>
      if (t == 0)
        s"""fdec0 AS MATERIALIZED (
           |  SELECT s.vec_id, [CAST(b.bv[i] AS REAL) FOR i IN range(1, ${dim + 1})] AS v
           |  FROM $sFinal s JOIN rqb b ON b.stage = 0 AND b.c = s.c0)""".stripMargin
      else
        s"""fdec$t AS MATERIALIZED (
           |  SELECT d.vec_id,
           |    [CAST(d.v[i] + CAST(b.bv[i] AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})] AS v
           |  FROM fdec${t - 1} d JOIN $sFinal s ON s.vec_id = d.vec_id
           |  JOIN rqb b ON b.stage = $t AND b.c = s.c$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 10")},
       |rqb(stage, c, bv) AS (VALUES
       |  $bookRows),
       |gres0 AS MATERIALIZED (SELECT vec_id, embedding AS r FROM embeddings),
       |$greedy,
       |$s0,
       |$icmSteps,
       |$fdec,
       |cdist AS (
       |  SELECT p.qid, d.vec_id AS label,
       |    ${l2RawSql("qe.embedding", "d.v", dim)} AS cd
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid
       |  JOIN fdec${m - 1} d ON d.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = p.qid
       |),
       |cand AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM cdist) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the six-tier codec dashboard
    * (vs_compression_eval) — the composition of every per-tier replay
    * this file already proves: flat (= the truth), fp16 (static half
    * round-trip), SQ8/SQ4 (injected bounds, 255/15-level grids), PQ8
    * (injected codebooks, ADC), LSH16 (regenerated Rademacher
    * hyperplanes, L2 re-rank of bucket-mates), each cut at the gate's
    * k x refine = 40 budget and re-ranked on raw vectors, then the
    * recall rollup (exact hit counts / truth count) per tier. */
  private def compEvalOracle(
      sq8: (Array[Float], Array[Float]), sq4: (Array[Float], Array[Float]),
      pqBooks: Array[Array[Array[Float]]]): String = {
    val dim = sq8._1.length
    val kk = GateParams.refineK // k x refine, every coded tier in the dashboard
    def rerank(p: String, cand: String): String =
      s"""${p}top AS (SELECT qid, label FROM (
         |  SELECT c.qid, c.label, row_number() OVER (PARTITION BY c.qid ORDER BY da.dist, c.label) AS rn
         |  FROM $cand c JOIN d_all da ON da.qid = c.qid AND da.label = c.label) WHERE rn <= 5)""".stripMargin
    def codedCut(p: String, cdSrc: String): String =
      s"""${p}cand AS (SELECT qid, label FROM (
         |  SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
         |  FROM $cdSrc) WHERE rn <= $kk)""".stripMargin
    def sqTier(p: String, mn: Array[Float], df: Array[Float], levels: Int): String =
      s"""${p}b(mv, dv) AS (VALUES (${flList(mn)}, ${flList(df)})),
         |${p}enc AS (
         |  SELECT e.vec_id, dm.i, CAST(mv[dm.i] AS REAL) AS mnv, CAST(dv[dm.i] AS REAL) AS dfv,
         |    CASE WHEN CAST(dv[dm.i] AS REAL) <= 0 THEN CAST(0 AS REAL) ELSE
         |      CAST(CAST(CAST(CAST(CAST(e.embedding[dm.i] AS REAL) - CAST(mv[dm.i] AS REAL) AS REAL) /
         |        CAST(dv[dm.i] AS REAL) AS REAL) * CAST($levels AS REAL) AS REAL) + CAST(0.5 AS REAL) AS REAL) END AS t
         |  FROM embeddings e CROSS JOIN ${p}b CROSS JOIN dims dm
         |),
         |${p}decv AS (SELECT vec_id, list(dval ORDER BY i) AS v FROM (
         |  SELECT vec_id, i,
         |    CAST(mnv + CAST(CAST(CAST(
         |      CASE WHEN t <= 0 OR isnan(t) THEN 0 WHEN t >= $levels THEN $levels ELSE CAST(trunc(t) AS INTEGER) END
         |      AS REAL) / CAST($levels AS REAL) AS REAL) * dfv AS REAL) AS REAL) AS dval
         |  FROM ${p}enc) GROUP BY vec_id),
         |${p}cdist AS (
         |  SELECT q.vec_id AS qid, dv.vec_id AS label,
         |    list_sum([ (CAST(q.embedding[i] AS DOUBLE) - CAST(dv.v[i] AS DOUBLE)) *
         |               (CAST(q.embedding[i] AS DOUBLE) - CAST(dv.v[i] AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ]) AS cd
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q CROSS JOIN ${p}decv dv
         |),
         |${codedCut(p, s"${p}cdist")},
         |${rerank(p, s"${p}cand")}""".stripMargin
    // fp16 tier — the knnSqfp16Oracle chain, prefixed
    val fp16 =
      s"""f16decv AS (SELECT vec_id, list(dval ORDER BY i) AS v FROM (
         |  SELECT vec_id, i, CASE
         |      WHEN isnan(a) THEN CAST('nan' AS DOUBLE)
         |      WHEN a >= 65520 THEN sgn * CAST('inf' AS DOUBLE)
         |      WHEN a < 6.103515625e-05 THEN sgn * round(a * 16777216.0) / 16777216.0
         |      ELSE sgn * round(a * pow(2, 10 - ex)) * pow(2, ex - 10)
         |    END AS dval
         |  FROM (
         |    SELECT vec_id, i, a, sgn,
         |      CASE WHEN pow(2, e0) > a THEN e0 - 1
         |           WHEN pow(2, e0 + 1) <= a THEN e0 + 1
         |           ELSE e0 END AS ex
         |    FROM (
         |      SELECT e.vec_id, dm.i, abs(CAST(e.embedding[dm.i] AS DOUBLE)) AS a,
         |        CASE WHEN signbit(CAST(e.embedding[dm.i] AS DOUBLE)) THEN -1.0 ELSE 1.0 END AS sgn,
         |        CAST(floor(log2(CASE WHEN abs(CAST(e.embedding[dm.i] AS DOUBLE)) > 0
         |            AND NOT isnan(CAST(e.embedding[dm.i] AS DOUBLE))
         |          THEN abs(CAST(e.embedding[dm.i] AS DOUBLE)) ELSE 1 END)) AS INTEGER) AS e0
         |      FROM embeddings e CROSS JOIN dims dm))) GROUP BY vec_id),
         |f16cdist AS (
         |  SELECT q.vec_id AS qid, dv.vec_id AS label,
         |    list_sum([ (CAST(q.embedding[i] AS DOUBLE) - dv.v[i]) *
         |               (CAST(q.embedding[i] AS DOUBLE) - dv.v[i]) FOR i IN range(1, ${dim + 1}) ]) AS cd
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q CROSS JOIN f16decv dv
         |),
         |${codedCut("f16", "f16cdist")},
         |${rerank("f16", "f16cand")}""".stripMargin
    // pq8 tier — the knnPqOracle chain, prefixed
    val m = pqBooks.length
    val dsub = pqBooks(0)(0).length
    val pqRows = (for {
      sub <- pqBooks.indices
      c <- pqBooks(sub).indices
    } yield s"($sub, $c, ${flList(pqBooks(sub)(c))})").mkString(",\n  ")
    def pqSliceL2(v: String): String =
      s"list_sum([ (CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dsub + 1}) ])"
    val pq8 =
      s"""pqb(sub, c, cv) AS (VALUES
         |  $pqRows),
         |pqcodes AS MATERIALIZED (
         |  SELECT vec_id, sub, c FROM (
         |    SELECT e.vec_id, b.sub, b.c,
         |      row_number() OVER (PARTITION BY e.vec_id, b.sub
         |                         ORDER BY ${pqSliceL2("e.embedding")}, b.c) AS rn
         |    FROM embeddings e CROSS JOIN pqb b) WHERE rn = 1
         |),
         |pqlut AS MATERIALIZED (
         |  SELECT q.vec_id AS qid, b.sub, b.c, CAST(${pqSliceL2("q.embedding")} AS REAL) AS lv
         |  FROM embeddings q CROSS JOIN pqb b WHERE q.vec_id < 10
         |),
         |pqcdist AS (
         |  SELECT qid, vec_id AS label, list_sum(lvs) AS cd FROM (
         |    SELECT l.qid, cd.vec_id, list(CAST(l.lv AS DOUBLE) ORDER BY l.sub) AS lvs
         |    FROM pqcodes cd JOIN pqlut l ON l.sub = cd.sub AND l.c = cd.c
         |    GROUP BY l.qid, cd.vec_id)
         |),
         |${codedCut("pq", "pqcdist")},
         |${rerank("pq", "pqcand")}""".stripMargin
    // lsh tier — regenerated hyperplanes (bands/bits/seed from the SAME
    // GateParams the gate's create() uses), L2 re-rank of DISTINCT
    // bucket-mates, direct top-5 (no refine cut)
    val (bands, bits, seed) =
      (GateParams.CompLshBands, GateParams.CompLshBits, GateParams.Seed)
    val wRows = (for {
      band <- 0 until bands
      bit <- 0 until bits
    } yield {
      val signs = (0 until dim).map { dd =>
        if ((graft.functions.Hash64.mix(
          seed ^ (band.toLong << 40) ^ (bit.toLong << 20) ^ dd) & 1L) == 0L) 1 else -1
      }
      s"($band, $bit, ${signs.mkString("[", ", ", "]")})"
    }).mkString(",\n  ")
    val lsh =
      s"""lw(band, bit, wv) AS (VALUES
         |  $wRows),
         |ldots AS (
         |  SELECT e.vec_id, lw.band, lw.bit,
         |    list_sum([ CAST(wv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, ${dim + 1}) ]) AS dot
         |  FROM embeddings e CROSS JOIN lw
         |),
         |lbks AS MATERIALIZED (
         |  SELECT vec_id, band,
         |    SUM(CASE WHEN dot >= 0 AND NOT isnan(dot) THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END)
         |      + (CAST(band AS BIGINT) << 48) AS bucket
         |  FROM ldots GROUP BY vec_id, band
         |),
         |lcand AS (
         |  SELECT DISTINCT q.vec_id AS qid, b.vec_id AS label
         |  FROM (SELECT vec_id, bucket FROM lbks WHERE vec_id < 10) q
         |  JOIN lbks b ON b.bucket = q.bucket
         |),
         |${rerank("lsh", "lcand")}""".stripMargin
    s"""WITH dims AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS INTEGER) AS i),
       |d_all AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, e.vec_id AS label,
       |    ${l2RawSql("q.embedding", "e.embedding", dim)} AS dist
       |  FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < 10
       |),
       |truth AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS rn
       |    FROM d_all) WHERE rn <= 5
       |),
       |$fp16,
       |${sqTier("s8", sq8._1, sq8._2, 255)},
       |${sqTier("s4", sq4._1, sq4._2, 15)},
       |$pq8,
       |$lsh,
       |alltiers AS (
       |  SELECT 'flat' AS tier, 256 AS bpv, qid, label FROM truth
       |  UNION ALL SELECT 'fp16', 128, qid, label FROM f16top
       |  UNION ALL SELECT 'sq8', 64, qid, label FROM s8top
       |  UNION ALL SELECT 'sq4', 32, qid, label FROM s4top
       |  UNION ALL SELECT 'pq8', 8, qid, label FROM pqtop
       |  UNION ALL SELECT 'lsh', 32, qid, label FROM lshtop
       |),
       |tb(tier, bpv) AS (VALUES ('flat', 256), ('fp16', 128), ('sq8', 64),
       |                         ('sq4', 32), ('pq8', 8), ('lsh', 32))
       |SELECT t.tier, CAST(t.bpv AS BIGINT) AS bytes_per_vec,
       |  CAST(SUM(CASE WHEN a.label IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS recall_at_5
       |FROM tb t
       |JOIN truth tr ON true
       |LEFT JOIN alltiers a ON a.tier = t.tier AND a.qid = tr.qid AND a.label = tr.label
       |GROUP BY t.tier, t.bpv
       |ORDER BY bytes_per_vec DESC, t.tier""".stripMargin
  }

  /** DuckDB replay of the fp16 scalar-quantized search — STATIC (the
    * half codec has no trained state; bounds are unused): the decoded
    * value halfToFloat(floatToHalf(x)) is reproduced with EXACT
    * power-of-two arithmetic. For normal halves, decoded =
    * sign * round(a * 2^(10-e)) * 2^(e-10) where e = floor(log2(a))
    * (log2 corrected by exact pow comparisons, so a 1-ulp libm error
    * cannot shift the exponent); a float value times a power of two is
    * exact in double, and round() (half away from zero on positives)
    * equals Math.round's floor(x+0.5) on positive ties. q = 2048
    * (mantissa overflow to the next exponent) needs no special case —
    * 2048 * 2^(e-10) IS the bumped-exponent value. Subnormals decode
    * as round(a * 2^24) / 2^24; the >= 65520 band saturates to
    * infinity exactly like the encoder's early check. The rest is the
    * SQ candidate pipeline: sequential double L2 of query vs decoded,
    * k x refine heap ((cd, label)), exact re-rank. */
  private def knnSqfp16Oracle(kk: Int, dim: Int): String = {
    // NaN guard FIRST: DuckDB orders NaN greater than everything, so an
    // unguarded `a >= 65520` would saturate a NaN dim to inf where the
    // engine (floatToHalf's isNaN check; Java `NaN >= x` is false)
    // encodes NaN -> NaN half -> decodes NaN
    val dec =
      """CASE
        |      WHEN isnan(a) THEN CAST('nan' AS DOUBLE)
        |      WHEN a >= 65520 THEN sgn * CAST('inf' AS DOUBLE)
        |      WHEN a < 6.103515625e-05 THEN sgn * round(a * 16777216.0) / 16777216.0
        |      ELSE sgn * round(a * pow(2, 10 - ex)) * pow(2, ex - 10)
        |    END""".stripMargin
    s"""WITH dims AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS INTEGER) AS i),
       |raw AS (
       |  SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
       |  FROM embeddings e CROSS JOIN dims d
       |),
       |ex0 AS (
       |  SELECT vec_id, i, x, abs(x) AS a,
       |    CASE WHEN signbit(x) THEN -1.0 ELSE 1.0 END AS sgn,
       |    CAST(floor(log2(CASE WHEN abs(x) > 0 AND NOT isnan(x) THEN abs(x) ELSE 1 END)) AS INTEGER) AS e0
       |  FROM raw
       |),
       |ex1 AS (
       |  SELECT vec_id, i, a, sgn,
       |    CASE WHEN pow(2, e0) > a THEN e0 - 1
       |         WHEN pow(2, e0 + 1) <= a THEN e0 + 1
       |         ELSE e0 END AS ex
       |  FROM ex0
       |),
       |dec AS (SELECT vec_id, i, $dec AS dval FROM ex1),
       |decv AS (SELECT vec_id, list(dval ORDER BY i) AS v FROM dec GROUP BY vec_id),
       |cdist AS (
       |  SELECT q.vec_id AS qid, dv.vec_id AS label,
       |    list_sum([ (CAST(q.embedding[i] AS DOUBLE) - dv.v[i]) *
       |               (CAST(q.embedding[i] AS DOUBLE) - dv.v[i]) FOR i IN range(1, ${dim + 1}) ]) AS cd
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q CROSS JOIN decv dv
       |),
       |cand AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM cdist) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the vs_recall_eval nprobe sweep with INJECTED
    * centroids: the exact truth top-5 is the flat brute force, each
    * swept tier's top-5 replays assignment + that tier's probe set +
    * probed-list brute force (all (dist, tie) orders as in
    * knnIvfOracle), and recall is the IEEE division of the exact hit
    * count by the truth count — every number in the output is a
    * deterministic function of the injected centroids. */
  private def recallEvalOracle(cents: Array[Array[Float]], nprobes: Seq[Int]): String = {
    val dim = cents(0).length
    val npRows = nprobes.map(n => s"($n)").mkString(", ")
    s"""WITH cents(cid, cv) AS (VALUES
       |  ${centRows(cents)}),
       |cd AS (
       |  SELECT e.vec_id, cents.cid, ${l2CentSql("e.embedding", "cv", dim)} AS dist
       |  FROM embeddings e CROSS JOIN cents
       |),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM cd) WHERE rn = 1
       |),
       |qprobes AS MATERIALIZED (
       |  SELECT vec_id AS qid, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnp
       |  FROM cd WHERE vec_id < 10
       |),
       |d_all AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, e.vec_id AS label,
       |    ${l2RawSql("q.embedding", "e.embedding", dim)} AS dist
       |  FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < 10
       |),
       |truth AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS rn
       |    FROM d_all) WHERE rn <= 5
       |),
       |nps(np) AS (VALUES $npRows),
       |tier AS (
       |  SELECT np, qid, label FROM (
       |    SELECT n.np, p.qid, a.vec_id AS label,
       |      row_number() OVER (PARTITION BY n.np, p.qid ORDER BY d.dist, a.vec_id) AS rn
       |    FROM nps n
       |    JOIN qprobes p ON p.rnp <= n.np
       |    JOIN asg a ON a.cid = p.cid
       |    JOIN d_all d ON d.qid = p.qid AND d.label = a.vec_id
       |  ) WHERE rn <= 5
       |)
       |SELECT n.np AS nprobe,
       |  CAST(SUM(CASE WHEN t2.label IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS recall_at_5
       |FROM nps n
       |JOIN truth t ON true
       |LEFT JOIN tier t2 ON t2.np = n.np AND t2.qid = t.qid AND t2.label = t.label
       |GROUP BY n.np ORDER BY n.np""".stripMargin
  }

  /** DuckDB replay of the vs_refine_eval sweep with INJECTED PQ
    * codebooks: the probe is exhaustive (nprobe = nlist), so each
    * swept tier is the knn_pq replay at candidate budget k*refine —
    * encode, float-rounded LUT, sub-ordered ADC, per-factor candidate
    * cut, exact re-rank — and recall divides exact hit counts. */
  private def refineEvalOracle(
      books: Array[Array[Array[Float]]], factors: Seq[Int]): String = {
    val m = books.length
    val dsub = books(0)(0).length
    val bookRows = (for {
      sub <- books.indices
      c <- books(sub).indices
    } yield s"($sub, $c, ${flList(books(sub)(c))})").mkString(",\n  ")
    def sliceL2(v: String): String =
      s"list_sum([ (CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[b.sub * $dsub + i] AS DOUBLE) - CAST(CAST(b.cv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dsub + 1}) ])"
    val factorRows = factors.map(f => s"($f)").mkString(", ")
    s"""WITH books(sub, c, cv) AS (VALUES
       |  $bookRows),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub, c FROM (
       |    SELECT e.vec_id, b.sub, b.c,
       |      row_number() OVER (PARTITION BY e.vec_id, b.sub
       |                         ORDER BY ${sliceL2("e.embedding")}, b.c) AS rn
       |    FROM embeddings e CROSS JOIN books b) WHERE rn = 1
       |),
       |lut AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, b.sub, b.c, CAST(${sliceL2("q.embedding")} AS REAL) AS lv
       |  FROM embeddings q CROSS JOIN books b WHERE q.vec_id < 10
       |),
       |cdist AS (
       |  SELECT qid, vec_id AS label, list_sum(lvs) AS cd FROM (
       |    SELECT l.qid, cd.vec_id, list(CAST(l.lv AS DOUBLE) ORDER BY l.sub) AS lvs
       |    FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.c = cd.c
       |    GROUP BY l.qid, cd.vec_id)
       |),
       |acr AS MATERIALIZED (
       |  SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS crn
       |  FROM cdist
       |),
       |d_all AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, e.vec_id AS label,
       |    ${l2RawSql("q.embedding", "e.embedding", m * dsub)} AS dist
       |  FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < 10
       |),
       |truth AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS rn
       |    FROM d_all) WHERE rn <= 5
       |),
       |fs(refine) AS (VALUES $factorRows),
       |tier AS (
       |  SELECT refine, qid, label FROM (
       |    SELECT f.refine, a.qid, a.label,
       |      row_number() OVER (PARTITION BY f.refine, a.qid ORDER BY d.dist, a.label) AS rn
       |    FROM fs f
       |    JOIN acr a ON a.crn <= 5 * f.refine
       |    JOIN d_all d ON d.qid = a.qid AND d.label = a.label
       |  ) WHERE rn <= 5
       |)
       |SELECT f.refine,
       |  CAST(SUM(CASE WHEN t2.label IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS recall_at_5
       |FROM fs f
       |JOIN truth t ON true
       |LEFT JOIN tier t2 ON t2.refine = f.refine AND t2.qid = t.qid AND t2.label = t.label
       |GROUP BY f.refine ORDER BY f.refine""".stripMargin
  }

  /** DuckDB replay of the residual-quantizer search with INJECTED
    * stage codebooks + coarse centroids (cf. FAISS "IVF<n>,RQ<m>";
    * Chen, Guan & Wang 2010): the greedy encode is m chained
    * (argmin, float-residual-update) stages — argmin on the double
    * accumulation with ties to the lowest code (strict <, abandon-
    * safe), residual update r[i] -= cen[i] rounded to REAL per stage
    * exactly like the float loop; the additive decode accumulates the
    * chosen centroids in stage order (float adds, scratch starts at
    * 0f so stage 0 is exact); the coded distance is the sequential
    * double L2 of query vs decoded; candidate heap ((cd, label)) over
    * the probed lists, then the exact raw re-rank. */
  private def knnRqOracle(
      books: Array[Array[Array[Float]]], cents: Array[Array[Float]],
      nprobe: Int, kk: Int): String = {
    val m = books.length
    val dim = books(0)(0).length
    val bookRows = (for {
      stage <- books.indices
      c <- books(stage).indices
    } yield s"($stage, $c, ${flList(books(stage)(c))})").mkString(",\n  ")
    // chained greedy stages: cN picks stage N's code per vector from
    // residual rN; resN+1 subtracts the chosen centroid (REAL-rounded);
    // decN accumulates the decoded approximation (REAL-rounded adds)
    val stages = (0 until m).map { t =>
      val argmin =
        s"""c$t AS MATERIALIZED (SELECT vec_id, c FROM (
           |  SELECT r.vec_id, b.c,
           |    row_number() OVER (PARTITION BY r.vec_id ORDER BY
           |      list_sum([ (CAST(r.r[i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) *
           |                 (CAST(r.r[i] AS DOUBLE) - CAST(CAST(b.bv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${dim + 1}) ]), b.c) AS rn
           |  FROM res$t r CROSS JOIN (SELECT c, bv FROM rqb WHERE stage = $t) b) WHERE rn = 1)""".stripMargin
      val residual = if (t == m - 1) "" else
        s""",
           |res${t + 1} AS MATERIALIZED (
           |  SELECT r.vec_id,
           |    [CAST(CAST(r.r[i] AS REAL) - CAST(b.bv[i] AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})] AS r
           |  FROM res$t r JOIN c$t ON c$t.vec_id = r.vec_id
           |  JOIN rqb b ON b.stage = $t AND b.c = c$t.c)""".stripMargin
      val dec =
        if (t == 0)
          s""",
             |dec0 AS MATERIALIZED (
             |  SELECT c0.vec_id, [CAST(b.bv[i] AS REAL) FOR i IN range(1, ${dim + 1})] AS v
             |  FROM c0 JOIN rqb b ON b.stage = 0 AND b.c = c0.c)""".stripMargin
        else
          s""",
             |dec$t AS MATERIALIZED (
             |  SELECT d.vec_id,
             |    [CAST(d.v[i] + CAST(b.bv[i] AS REAL) AS REAL) FOR i IN range(1, ${dim + 1})] AS v
             |  FROM dec${t - 1} d JOIN c$t ON c$t.vec_id = d.vec_id
             |  JOIN rqb b ON b.stage = $t AND b.c = c$t.c)""".stripMargin
      argmin + residual + dec
    }.mkString(",\n")
    s"""WITH ${ivfProbeCtes(cents, nprobe, "vec_id < 10")},
       |rqb(stage, c, bv) AS (VALUES
       |  $bookRows),
       |res0 AS MATERIALIZED (SELECT vec_id, embedding AS r FROM embeddings),
       |$stages,
       |cdist AS (
       |  SELECT p.qid, d.vec_id AS label,
       |    ${l2RawSql("qe.embedding", "d.v", dim)} AS cd
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid
       |  JOIN dec${m - 1} d ON d.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = p.qid
       |),
       |cand AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM cdist) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the inverted multi-index search with INJECTED
    * half-space codebooks (cf. FAISS IMI2x<n>; Babenko & Lempitsky
    * 2012): assignment = per-half argmin (ties to lowest centroid,
    * strict <) composed as cell i*K + j; the multi-sequence probe
    * order is replayed as a SORT — the frontier enumeration emits
    * exactly ascending (d1+d2, rank1, rank2), where rank is the
    * half's stable (d, c) sort position, so the probed SET equals the
    * top-nprobe of that global ordering (the §3.1 ascending property
    * plus the lexicographic tie rule the heap comparator pins). The
    * probed-cell scan then re-ranks on raw vectors. */
  private def knnImiOracle(books: Array[Array[Array[Float]]], nprobe: Int): String = {
    val Array(b1, b2) = books
    val half = b1(0).length
    val k2 = b2.length
    def bookRows(b: Array[Array[Float]]): String =
      b.zipWithIndex.map { case (c, i) => s"($i, ${flList(c)})" }.mkString(",\n  ")
    def halfL2(v: String, off: Int): String =
      s"list_sum([ (CAST($v[$off + i] AS DOUBLE) - CAST(CAST(cv[i] AS REAL) AS DOUBLE)) * " +
        s"(CAST($v[$off + i] AS DOUBLE) - CAST(CAST(cv[i] AS REAL) AS DOUBLE)) FOR i IN range(1, ${half + 1}) ])"
    s"""WITH b1(c, cv) AS (VALUES
       |  ${bookRows(b1)}),
       |b2(c, cv) AS (VALUES
       |  ${bookRows(b2)}),
       |hd1 AS (SELECT e.vec_id, b1.c, ${halfL2("e.embedding", 0)} AS d FROM embeddings e CROSS JOIN b1),
       |hd2 AS (SELECT e.vec_id, b2.c, ${halfL2("e.embedding", half)} AS d FROM embeddings e CROSS JOIN b2),
       |a1 AS (SELECT vec_id, c FROM (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM hd1) WHERE rn = 1),
       |a2 AS (SELECT vec_id, c FROM (
       |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM hd2) WHERE rn = 1),
       |asg AS (SELECT a1.vec_id, a1.c * $k2 + a2.c AS cell FROM a1 JOIN a2 ON a2.vec_id = a1.vec_id),
       |r1 AS (SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
       |       FROM hd1 WHERE vec_id < 10),
       |r2 AS (SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
       |       FROM hd2 WHERE vec_id < 10),
       |cells AS (
       |  SELECT q1.vec_id AS qid, q1.c * $k2 + q2.c AS cell, q1.d + q2.d AS sd, q1.rk AS rk1, q2.rk AS rk2
       |  FROM r1 q1 JOIN r2 q2 ON q2.vec_id = q1.vec_id
       |),
       |probes AS (SELECT qid, cell FROM (
       |  SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY sd, rk1, rk2) AS rn
       |  FROM cells) WHERE rn <= $nprobe),
       |cand AS (SELECT p.qid, a.vec_id AS label FROM probes p JOIN asg a ON a.cell = p.cell),
       |d AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", 2 * half)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the random-hyperplane LSH search — NO injection
    * needed: HyperplaneBuckets derives its Rademacher signs from
    * (seed, band, bit, dim) via the public splitmix64 mix, so the
    * builder regenerates the identical +-1 matrix. The replay:
    * per-(vector, band, bit) dot = sequential double sum of
    * +-(double)v[d] (each term exact, same association order), bit set
    * iff dot >= 0, band tag at bit 48; candidates = DISTINCT
    * (qid, label) sharing any bucket; cosine re-rank ((dist, label)
    * order) — the same list_cosine_similarity chain knn_flat_cosine
    * hash-proves. */
  private def knnLshOracle(
      bands: Int, bitsPerBand: Int, dim: Int, seed: Long): String = {
    import graft.functions.Hash64
    val wRows = (for {
      band <- 0 until bands
      bit <- 0 until bitsPerBand
    } yield {
      val signs = (0 until dim).map { d =>
        if ((Hash64.mix(seed ^ (band.toLong << 40) ^ (bit.toLong << 20) ^ d) & 1L) == 0L) 1 else -1
      }
      s"($band, $bit, ${signs.mkString("[", ", ", "]")})"
    }).mkString(",\n  ")
    val cosDist =
      "1.0 - list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))"
    s"""WITH w(band, bit, wv) AS (VALUES
       |  $wRows),
       |dots AS (
       |  SELECT e.vec_id, w.band, w.bit,
       |    list_sum([ CAST(wv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, ${dim + 1}) ]) AS dot
       |  FROM embeddings e CROSS JOIN w
       |),
       |bks AS (
       |  SELECT vec_id, band,
       |    -- NaN guard: Java `NaN >= 0` is false (bit stays 0); DuckDB
       |    -- orders NaN greater than everything, so mirror explicitly
       |    SUM(CASE WHEN dot >= 0 AND NOT isnan(dot) THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END)
       |      + (CAST(band AS BIGINT) << 48) AS bucket
       |  FROM dots GROUP BY vec_id, band
       |),
       |qb AS (SELECT vec_id AS qid, bucket FROM bks WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.qid, b.vec_id AS label FROM qb q JOIN bks b ON b.bucket = q.bucket
       |),
       |d AS (
       |  SELECT c.qid, c.label, $cosDist AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of the scalar-quantized search with injected
    * per-dim bounds (and, for IVF<n>,SQ8, injected coarse centroids):
    * the encode grid (t = (x-mn)/df*levels + 0.5f, float-rounded at
    * every step, truncate, clamp), the decoded values the asymmetric
    * loop compares against (mn + lvl/levels*df, float-rounded), the
    * k x refine candidate heap on coded distances ((dist, label)
    * order), and the exact raw-vector re-rank. Every float step rides
    * an explicit CAST(... AS REAL), the knn_pca-proven technique. */
  private def knnSqOracle(
      mn: Array[Float], df: Array[Float], levels: Int, kk: Int,
      ivf: Option[(Array[Array[Float]], Int)]): String = {
    val dim = mn.length
    val lv = s"CAST($levels AS REAL)"
    // t guarded: the engine returns code 0 without computing the ratio
    // when df<=0, so the replay never divides by a degenerate bound
    val tChain =
      s"CAST(CAST(CAST(CAST(CAST(e.embedding[d.i] AS REAL) - CAST(mv[d.i] AS REAL) AS REAL) / " +
        s"CAST(dv[d.i] AS REAL) AS REAL) * $lv AS REAL) + CAST(0.5 AS REAL) AS REAL)"
    val probeCtes = ivf match {
      case Some((cents, nprobe)) => ivfProbeCtes(cents, nprobe, "vec_id < 10") + ",\n"
      case None => ""
    }
    val candSource = ivf match {
      // per-query probed lists: only rows assigned to a probed list
      // are candidates (the pruned coded scan)
      case Some(_) =>
        """SELECT p.qid, dv.vec_id AS label, dv.v
          |  FROM probes p JOIN asg a ON a.cid = p.cid JOIN decv dv ON dv.vec_id = a.vec_id""".stripMargin
      case None =>
        """SELECT q.vec_id AS qid, dv.vec_id AS label, dv.v
          |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q CROSS JOIN decv dv""".stripMargin
    }
    s"""WITH ${probeCtes}b(mv, dv) AS (VALUES (${flList(mn)}, ${flList(df)})),
       |dims AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS INTEGER) AS i),
       |enc AS (
       |  SELECT e.vec_id, d.i, CAST(mv[d.i] AS REAL) AS mnv, CAST(dv[d.i] AS REAL) AS dfv,
       |    CASE WHEN CAST(dv[d.i] AS REAL) <= 0 THEN CAST(0 AS REAL) ELSE $tChain END AS t
       |  FROM embeddings e CROSS JOIN b CROSS JOIN dims d
       |),
       |dec AS (
       |  SELECT vec_id, i,
       |    CAST(mnv + CAST(CAST(CAST(
       |      CASE WHEN t <= 0 OR isnan(t) THEN 0 WHEN t >= $levels THEN $levels ELSE CAST(trunc(t) AS INTEGER) END
       |      AS REAL) / $lv AS REAL) * dfv AS REAL) AS REAL) AS dval
       |  FROM enc
       |),
       |decv AS (SELECT vec_id, list(dval ORDER BY i) AS v FROM dec GROUP BY vec_id),
       |cdist AS (
       |  SELECT cs.qid, cs.label, ${l2RawSql("qe.embedding", "cs.v", dim)} AS cd
       |  FROM ($candSource) cs JOIN embeddings qe ON qe.vec_id = cs.qid
       |),
       |cand AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cd, label) AS rn
       |    FROM cdist) WHERE rn <= $kk
       |),
       |rr AS (
       |  SELECT c.qid, c.label, ${l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rr
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }

  /** DuckDB replay of knn_pca: project corpus + queries through the
    * injected basis with Pca.projectArr's EXACT rounding chain (float
    * subtract, float multiply, double accumulation in index order,
    * result rounds to REAL — the embed_pca_variance precision contract,
    * already hash-verified there), then brute-force L2² in the
    * 16-dim projected space with the standard knn oracle shape. The
    * probe is exhaustive (nprobe = nlist), so projected-space brute
    * force IS the query's semantics — including the emitted distance,
    * which for a truncated transform is the projected one. */
  private def knnPcaOracle(mean: Array[Float], comps: Array[Array[Float]]): String = {
    def fl(x: Float): String = "%1.9e".format(x)
    val meanLit = mean.map(fl).mkString("[", ", ", "]")
    val compRows = comps.zipWithIndex
      .map { case (c, j) => s"($j, ${c.map(fl).mkString("[", ", ", "]")})" }
      .mkString(",\n  ")
    val d = mean.length
    val outDim = comps.length
    s"""WITH comps(dim, cv) AS (VALUES
       |  $compRows),
       |mn(mv) AS (VALUES ($meanLit)),
       |p AS (
       |  SELECT e.vec_id, comps.dim,
       |    CAST(list_sum([
       |      CAST(CAST(CAST(cv[i] AS REAL) * CAST(CAST(e.embedding[i] AS REAL) - CAST(mv[i] AS REAL) AS REAL) AS REAL) AS DOUBLE)
       |      FOR i IN range(1, ${d + 1})]) AS REAL) AS pf
       |  FROM embeddings e CROSS JOIN comps CROSS JOIN mn
       |),
       |pv AS (SELECT vec_id, list(pf ORDER BY dim) AS v FROM p GROUP BY vec_id),
       |q AS (SELECT vec_id AS qid, v AS a FROM pv WHERE vec_id < 10),
       |dd AS (
       |  SELECT q.qid, e.vec_id AS label,
       |    list_sum([ (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, ${outDim + 1}) ]) AS dist
       |  FROM q CROSS JOIN (SELECT vec_id, v AS b FROM pv) e
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label) - 1 AS INTEGER) AS rank
       |  FROM dd
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < 5""".stripMargin
  }
}
