package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.index.IndexCatalog
import graft.search.Knn

/**
 * Vector-search parity queries: the Spark-native
 * `faiss_search`/`faiss_search_filter` surface over a Flat (exact)
 * index (cf. /root/reference/test/sql/faiss.test, faiss3.test).
 *
 * Oracle notes: ranks/labels are integer-exact; distances are emitted
 * quantized through DECIMAL(18,4) then emitted as DOUBLE on both sides
 * so the driver's hash compare is stable (see Tables.quant4).
 */
object VectorQueries {
  val K = 5
  /** L2² radius for knn_radius: both engines compute the identical
    * double accumulation, so the cut compares bit-equal values (nearest
    * distance to the boundary in testdata is ~6e-5 away) */
  val RADIUS = 1.5
  private[queries] val RerankFactors = Seq(1, 2, 5, 10)

  private def data(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id").as("label"), vec.vector(col("embedding")).as("vec"))

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))

  private def knnQuery(metric: String, filtered: Boolean = false)(
      s: SparkSession, dir: String): DataFrame = {
    val d0 = data(s, dir)
    val d = if (filtered) d0.where(col("label") % 2 === 0) else d0
    Knn.searchFlat(d, queriesDf(s, dir), K, metric)
      .select(
        col("qid"), col("rank"), col("label"),
        Tables.quant4(col("distance")).as("distance"))
  }

  /** knn_flat_l2 through the DRIVER-LOCAL serving tier: a catalog
    * `IDMap,Flat` index, searched in-process over its driver replica
    * (bit-equal by design; this gate proves it against the same DuckDB
    * oracle) */
  private def knnLocalQuery(s: SparkSession, dir: String): DataFrame = {
    val name = "q_knn_flat_local"
    if (IndexCatalog.exists(name)) IndexCatalog.destroy(name)
    IndexCatalog.create(name, 64, "IDMap,Flat", "l2sq")
    IndexCatalog.add(data(s, dir), name)
    IndexCatalog.search(name, K, queriesDf(s, dir))
      .select(
        col("qid"), col("rank"), col("label"),
        Tables.quant4(col("distance")).as("distance"))
  }

  /** binary IVF (FAISS IndexBinaryIVF shape): sign-bit codes, Hamming
    * coarse quantizer, nprobe-list search. Centroid codes are the sign
    * bits of float k-means centroids (bit i set ⇔ dim i >= 0 — the
    * VectorMath.signBits layout) and ride the plan as a literal array;
    * assignment and probing are pure scan-stage array ops. Exposed for
    * the spec to drive exhaustive-probe exactness. */
  private[graft] def binaryIvf(
      s: SparkSession, dir: String, nlist: Int, nprobe: Int): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val cf = graft.index.KMeansTrainer.train(
      e.select(vec.vector(col("embedding"))), nlist, seed = 42L, maxIter = 10)
    val centBits: Seq[Long] = cf.toSeq.map { c =>
      var bits = 0L
      var i = 0
      val n = math.min(c.length, 64)
      while (i < n) { if (c(i) >= 0f) bits |= (1L << i); i += 1 }
      bits
    }
    // memo the REDUCED trained state for the injected oracle: the whole
    // search depends on the centroids only through these sign words
    // (both gate configs train identically — seed 42, same data — so
    // whichever ran last memoized the same values)
    binaryIvfCentBits = Some(centBits)
    val cents = typedLit(centBits)
    val code = vec.signBits(vec.vector(col("embedding")))
    // per-row argmin over the literal centroid array: first occurrence
    // of the min Hamming distance = lowest centroid id on ties
    val hams = transform(cents, c => bit_count(col("bits").bitwiseXOR(c)))
    val d = e.select(col("vec_id").as("label"), code.as("bits"))
      .withColumn("list",
        (array_position(hams, array_min(hams)) - 1L).cast("int"))
    val probeStructs = array_sort(transform(
      sequence(lit(0), lit(nlist - 1)),
      i => struct(
        bit_count(get(cents, i).bitwiseXOR(col("qbits"))).as("d"),
        i.as("idx"))))
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), code.as("qbits"))
      .select(col("qid"), col("qbits"),
        explode(slice(probeStructs, 1, nprobe)).as("p"))
      .select(col("qid"), col("qbits"), col("p.idx").as("list"))
    Knn.rankResults(
        d.join(broadcast(q), "list")
          .select(col("qid"), col("label"),
            bit_count(col("bits").bitwiseXOR(col("qbits"))).cast("double").as("_dist")),
        K, ascending = true)
      .select(col("qid"), col("rank"), col("label"),
        col("distance").cast("long").as("hamming"))
  }

  /** seed-centroid assignment shared by embed_cluster / embed_outliers:
    * 8 seed rows collect (bounded — the IVF-centroid-training shape),
    * every vector argmins over them via the codegen'd flat coarse
    * kernel (a shuffle-free scan projection), seed vectors ride back on
    * a broadcast join. Returns (vec_id, cluster_id, v, cvec). */
  private def seedAssigned(s: SparkSession, dir: String): DataFrame = {
    import graft.index.FlatCoarse
    import graft.functions.VectorMath
    val e = Tables(s, dir, "embeddings")
    val cents: Array[Array[Float]] = e.where(col("vec_id") < 8)
      .orderBy("vec_id")
      .select(vec.vector(col("embedding")))
      .collect().map(_.getSeq[Float](0).toArray)
    val assigned = e.select(
      col("vec_id"),
      vec.vector(col("embedding")).as("v"),
      element_at(FlatCoarse(cents, VectorMath.L2SQ).nearestCol(vec.vector(col("embedding")), 1), 1)
        .cast("long").as("cluster_id"))
    val seedVecs = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), vec.vector(col("embedding")).as("cvec"))
    assigned.join(broadcast(seedVecs), col("cluster_id") === col("cid"))
  }

  /** pairwise metric panel: all 9 reference metrics over adjacent embedding pairs */
  private def distMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val a = e.select(col("vec_id").as("id_a"), vec.vector(col("embedding")).as("va"))
    val b = e.select((col("vec_id") - 1).as("id_b"), vec.vector(col("embedding")).as("vb"))
    def q(c: Column): Column = Tables.quant4(c)
    // element-wise |x| (JS divergence and weighted Jaccard need non-negative inputs)
    def pos(c: Column): Column = transform(c, x => abs(x))
    a.join(b, col("id_a") === col("id_b"))
      .where(col("id_a") < 50)
      .select(
        col("id_a").as("pair_id"),
        q(vec.l2sq(col("va"), col("vb"))).as("d_l2sq"),
        q(vec.ip(col("va"), col("vb"))).as("d_ip"),
        q(vec.cosineDist(col("va"), col("vb"))).as("d_cosine"),
        q(vec.l1(col("va"), col("vb"))).as("d_l1"),
        q(vec.linf(col("va"), col("vb"))).as("d_linf"),
        q(vec.lp(col("va"), col("vb"), 3.0)).as("d_lp3"),
        q(vec.canberra(col("va"), col("vb"))).as("d_canberra"),
        q(vec.braycurtis(col("va"), col("vb"))).as("d_braycurtis"),
        q(vec.jensenshannon(pos(col("va")), pos(col("vb")))).as("d_js"),
        q(vec.jaccard(pos(col("va")), pos(col("vb")))).as("d_jaccard"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_flat_l2" -> (knnQuery("l2sq") _),
    "knn_flat_local" -> (knnLocalQuery _),
    "knn_flat_ip" -> (knnQuery("ip") _),
    "knn_flat_cosine" -> (knnQuery("cosine") _),
    "knn_flat_l1" -> (knnQuery("l1") _),
    "knn_search_filter" -> (knnQuery("l2sq", filtered = true) _),
    "dist_metrics" -> (distMetrics _),
    // fully-distributed approximate k-NN self-join: both sides shuffle
    // once on IVF list ids, no driver collect of queries (the unbounded
    // left-side path; recall spec-asserted vs the exact join)
    "knn_join_ann" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      // nlist = 0: auto-sized from the measured corpus (~2k rows/list),
      // so this gate stays linear at every scale rung — fixed nlist=16
      // cost 479 s at the 100x rung (12.5k-row lists, quadratic).
      // EXACT via centroid injection (AnnJoin's per-call onTrained
      // callback — salting/packing never change the candidate pair set)
      graft.search.AnnJoin.ivfJoin(
          left = e.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          right = e.select(col("vec_id").as("label"), col("embedding").as("vec")),
          k = 3, nlist = 0, nprobe = 4, excludeSelf = true,
          onTrained = cs => joinAnnCents = Some(cs))
        .select(col("qid"), col("rank"), col("label"))
    },
    // exhaustive twin of the unbounded ANN join: every list probed ->
    // each (query, corpus) pair is scored exactly once with the same
    // codegen'd L2 kernel the exact join uses, so the one-shuffle-per-
    // side distributed plan (no driver collect of either side) gates
    // against knn_join's brute-force oracle
    "knn_join_ann_exh" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      graft.search.AnnJoin.ivfJoin(
          left = e.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          right = e.select(col("vec_id").as("label"), col("embedding").as("vec")),
          k = 3, nlist = 16, nprobe = 16, excludeSelf = true)
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // and the RADIUS flavor of the same path (ivfRadiusJoin, the
    // 100 TB embedding-near-dup shape): exhaustive probing -> every
    // within-radius pair surfaces exactly once -> brute-force oracle
    "knn_radius_join_exh" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      graft.search.AnnJoin.ivfRadiusJoin(
          left = e.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          right = e.select(col("vec_id").as("label"), col("embedding").as("vec")),
          radius = RADIUS, nlist = 16, nprobe = 16, excludeSelf = true)
        .select(col("qid"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // full self k-NN join: every embedding -> 3 nearest other embeddings
    "knn_join" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val d = data(s, dir)
      val q = e.select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))
      Knn.knnJoin(q, d, 3, "l2sq")
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // grouped (multi-tenant) k-NN join: neighbors only WITHIN the same
    // group (per-language near-dup screens, per-tenant serving). The
    // group key makes the pairing an EQUI-join — at scale both sides
    // hash-shuffle once on the key and groups never cross; top-k via
    // the same bounded-heap aggregate as the ungrouped join.
    "knn_join_grouped" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val right = e.select((col("vec_id") % 4).as("grp"),
        col("vec_id").as("label"), vec.vector(col("embedding")).as("vec"))
      val left = e.where(col("vec_id") < 20)
        .select((col("vec_id") % 4).as("grp"),
          col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))
      Knn.knnJoinGrouped(left, right, 3, "l2sq", excludeSelf = true)
        .select(col("grp"), col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // range search (FAISS range_search analog): ALL neighbors within an
    // L2 radius, not a fixed k. Queries broadcast against a single scan
    // of the corpus; the radius predicate filters inside the scan stage,
    // so the shuffle carries only hits — output size is data-dependent,
    // cost is one corpus pass regardless of hit count
    "knn_radius" -> { (s, dir) =>
      val dist = vec.l2sq(col("qvec"), col("vec"))
      data(s, dir)
        .crossJoin(broadcast(queriesDf(s, dir)))
        .where(dist < lit(RADIUS))
        .select(col("qid"), col("label"), Tables.quant4(dist).as("distance"))
    },
    // 1-bit binary quantization + Hamming top-k: the coarse pass of the
    // binarize-then-rerank serving pattern. Each vector's 64 sign bits
    // pack into ONE bigint via a codegen kernel — 32x less data scanned
    // than float32, and at 100 TB the packed column is what you'd
    // materialize/cache while raw floats stay in cold storage for
    // re-rank only. Distance = POPCNT(XOR): pure integer arithmetic,
    // so unlike the float ANN paths this compressed search has an EXACT
    // cross-engine oracle (the oracle recomputes sign mismatches from
    // the raw floats).
    "knn_hamming" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val d = e.select(col("vec_id").as("label"),
        vec.signBits(vec.vector(col("embedding"))).as("bits"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          vec.signBits(vec.vector(col("embedding"))).as("qbits"))
      val ham = bit_count(col("bits").bitwiseXOR(col("qbits")))
      Knn.rankResults(
          d.crossJoin(broadcast(q))
            .select(col("qid"), col("label"), ham.cast("double").as("_dist")),
          K, ascending = true)
        .select(col("qid"), col("rank"), col("label"),
          col("distance").cast("long").as("hamming"))
    },
    // the COMPOSED binary serving pipeline: Hamming top-50 on packed
    // sign bits (the only corpus-wide scan — 8 bytes/vector), then
    // exact L2 re-rank of the 50 survivors on raw floats. At 100 TB
    // the packed column is ~3 TB and cacheable; floats are fetched for
    // k×10 rows per query only. EXACT: both stages are deterministic
    // in the data, so the whole cascade replays in SQL
    // (binaryRerankOracleSql); recall is additionally spec-asserted.
    "knn_binary_rerank" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val d = e.select(col("vec_id").as("label"),
        vec.signBits(vec.vector(col("embedding"))).as("bits"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          vec.signBits(vec.vector(col("embedding"))).as("qbits"),
          vec.vector(col("embedding")).as("qvec"))
      val ham = bit_count(col("bits").bitwiseXOR(col("qbits")))
      val coarse = Knn.rankResults(
          d.crossJoin(broadcast(q.select(col("qid"), col("qbits"))))
            .select(col("qid"), col("label"), ham.cast("double").as("_dist")),
          K * 10, ascending = true)
        .select(col("qid"), col("label"))
      Knn.rankResults(
          data(s, dir).join(broadcast(coarse), "label")
            .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
            .select(col("qid"), col("label"),
              vec.l2sq(col("vec"), col("qvec")).as("_dist")),
          K, ascending = true)
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // exhaustive twin of the binary cascade: the Hamming coarse cut is
    // widened to the WHOLE corpus (budget = live count), so the
    // raw-float re-rank IS brute force and the cascade machinery —
    // both rank stages, the label join-back, the broadcast shape —
    // gates against the flat L2 oracle. Zero codec replay needed: the
    // re-rank distance is the same vec.l2sq chain knn_flat_l2 gates.
    "knn_binary_exh" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val n = e.count().toInt
      val d = e.select(col("vec_id").as("label"),
        vec.signBits(vec.vector(col("embedding"))).as("bits"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          vec.signBits(vec.vector(col("embedding"))).as("qbits"),
          vec.vector(col("embedding")).as("qvec"))
      val ham = bit_count(col("bits").bitwiseXOR(col("qbits")))
      val coarse = Knn.rankResults(
          d.crossJoin(broadcast(q.select(col("qid"), col("qbits"))))
            .select(col("qid"), col("label"), ham.cast("double").as("_dist")),
          n, ascending = true)
        .select(col("qid"), col("label"))
      Knn.rankResults(
          data(s, dir).join(broadcast(coarse), "label")
            .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
            .select(col("qid"), col("label"),
              vec.l2sq(col("vec"), col("qvec")).as("_dist")),
          K, ascending = true)
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // exhaustive twin of the binary IVF: every list probed -> identical
    // to the flat Hamming scan, so the coarse sign-code assignment +
    // probe machinery shares knn_hamming's exact oracle
    "knn_binary_ivf_exh" -> { (s, dir) =>
      binaryIvf(s, dir, nlist = 16, nprobe = 16)
    },
    // the binary cascade's budget sweep (vs_refine_eval's shape for
    // the 1-bit tier): recall@5 of Hamming-coarse → exact-rerank as a
    // function of the rerank factor — the table that sizes
    // knn_binary_rerank's k×factor float fetches. EXACT: both stages
    // are deterministic in the data (no trained state), so every swept
    // recall value replays in SQL (rerankEvalOracleSql).
    "vs_rerank_eval" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val d = e.select(col("vec_id").as("label"),
        vec.signBits(vec.vector(col("embedding"))).as("bits"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          vec.signBits(vec.vector(col("embedding"))).as("qbits"),
          vec.vector(col("embedding")).as("qvec"))
      val ham = bit_count(col("bits").bitwiseXOR(col("qbits")))
      val truth = Knn.searchFlat(data(s, dir), queriesDf(s, dir), K, "l2sq")
        .select(col("qid"), col("label"))
        .crossJoin(broadcast(RerankFactors.toDF("factor")))
      val tagged = RerankFactors.map { f =>
        val coarse = Knn.rankResults(
            d.crossJoin(broadcast(q.select(col("qid"), col("qbits"))))
              .select(col("qid"), col("label"), ham.cast("double").as("_dist")),
            K * f, ascending = true)
          .select(col("qid"), col("label"))
        Knn.rankResults(
            data(s, dir).join(broadcast(coarse), "label")
              .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
              .select(col("qid"), col("label"),
                vec.l2sq(col("vec"), col("qvec")).as("_dist")),
            K, ascending = true)
          .select(lit(f).as("factor"), col("qid"), col("label"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      truth.join(tagged, Seq("factor", "qid", "label"), "left")
        .groupBy("factor")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall_at_5"))
        .orderBy("factor")
    },
    // FAISS IndexBinaryIVF analog (binary codes + inverted lists; the
    // reference's index_factory reaches only float indexes —
    // faiss_extension.cpp:155 — so this extends the family to the
    // 1-bit tier): coarse centroids are the sign codes of float-space
    // k-means centroids, every vector assigns to its Hamming-nearest
    // centroid INSIDE the scan (literal centroid array + transform/
    // argmin — no shuffle, no join), and a query scans only its nprobe
    // nearest lists. At 100 TB the corpus is an 8-byte code column
    // read at nprobe/nlist selectivity; the probe table is a broadcast.
    // EXACT via sign-word injection (the search depends on the trained
    // centroids only through their 64-bit sign patterns); the spec
    // still pins exhaustive probe == brute-force Hamming.
    "knn_binary_ivf" -> { (s, dir) =>
      binaryIvf(s, dir, nlist = 16, nprobe = 4)
    },
    // Matryoshka (prefix-dim) serving: coarse top-20 on the FIRST 16
    // dims (25% of the vector bytes — the only corpus-wide scan), exact
    // re-rank of the survivors on full 64-dim vectors. The tunable
    // middle point of the compression family (1-bit Hamming < 8-bit PQ
    // < prefix-dim < full float). Both stages deterministic (ties by
    // label), so the COMPOSITION has an exact oracle — the coarse cut
    // is replayed in SQL, not assumed.
    "knn_matryoshka" -> { (s, dir) =>
      Knn.searchMatryoshka(data(s, dir), queriesDf(s, dir),
          K, prefixDim = 16, factor = 4)
        .select(col("qid"), col("rank"), col("label"),
          Tables.quant4(col("distance")).as("distance"))
    },
    // corpus clustering by centroid assignment (the domain-discovery /
    // data-mixing primitive): deterministic seed centroids (the first 8
    // embeddings), assignment via the same codegen'd argmin kernel IVF
    // uses — a shuffle-free projection over the corpus scan — then one
    // tiny per-cluster rollup. At 100 TB: centroids ride with the plan,
    // the corpus is read once, the shuffle carries 8 partial rows per
    // partition. Exact: assignment compares the identical double
    // accumulation the oracle computes (ties broken by lowest id).
    "embed_cluster" -> { (s, dir) =>
      seedAssigned(s, dir)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          sum(floor(vec.l2sq(col("v"), col("cvec")) * 10000 + 0.5).cast("long")).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (col("m").cast("double") / 10000.0 / col("n_members").cast("double"))
            .as("avg_dist"))
    },
    // PCA explained-variance spectrum — the dimensionality dashboard
    // read before choosing matryoshka prefix dims / PCA16 serving
    // configs: train the eigenbasis on a bounded sample (the standard
    // training path), project the WHOLE corpus in the scan stage
    // (codegen PcaProject), then per-coordinate variance via one
    // map-side-combined moment rollup — the projected coordinate's
    // corpus variance IS the eigenvalue estimate, computed
    // distributively instead of trusted from the driver-side solve.
    // EXACT since round 10 (was rows-only): the eigensolve stays
    // driver-side (libm is fine — the basis is INJECTED), but the whole
    // distributed rollup replays in SQL. The trained (mean, eigenbasis)
    // is memoized so Verify — which dumps oracle_sql.json AFTER running
    // the queries — can embed it verbatim in the oracle, the
    // manualTrainCentroids move applied to a pretransform. Moments go
    // through a 1e4 fixed-point grid so the corpus sums are INTEGER
    // (partition-order-invariant), and the share ratio is pure integer
    // division through DECIMAL/HUGEINT on both engines.
    "embed_pca_variance" -> { (s, dir) =>
      import org.apache.spark.sql.GraftBridge
      import graft.index.{Pca, PcaProject}
      val e = Tables(s, dir, "embeddings")
      val sample = e.limit(4096)
        .select(vec.vector(col("embedding"))).collect()
        .map(_.getSeq[Float](0).toArray)
      val (mean, comps) = Pca.train(sample, 16)
      pcaVarianceBasis = Some((mean, comps))
      val proj = e.select(GraftBridge.column(PcaProject(
        GraftBridge.expression(vec.vector(col("embedding"))), mean, comps)).as("p"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val mom = proj.select(posexplode(col("p")).as(Seq("dim", "x")))
        .select(col("dim"),
          floor(col("x").cast("double") * 10000.0 + 0.5).cast("long").as("qx"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("qx").as("s"), sum(col("qx") * col("qx")).as("ss"))
      // variance from the exact integer moments via ONE replayable IEEE
      // chain; the share skips IEEE entirely: num = n·Σq² − (Σq)² is an
      // exact integer (≥ 0 by Cauchy-Schwarz), share_bp = ⌊1e4·num/Σnum⌋
      val a = col("ss").cast("double") / col("n").cast("double")
      val b = col("s").cast("double") / col("n").cast("double")
      mom
        .withColumn("variance", (a - b * b) / 1e8)
        .withColumn("num",
          col("n").cast(dec) * col("ss").cast(dec) - col("s").cast(dec) * col("s").cast(dec))
        .withColumn("total", sum(col("num")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("share_bp", expr("CAST((num * 10000) div total AS LONG)"))
        .select(col("dim"), Tables.quant4(col("variance")).as("variance"), col("share_bp"))
        .orderBy("dim")
    },
    // embedding-space outlier screen (the noise/poisoning complement of
    // SemDeDup's within-cluster near-dup cut): distance-to-own-centroid
    // z-score per vector, flag > 1.5σ within the cluster (high-dim
    // distance concentration makes a classic 3σ cut vacuous on
    // isotropic data; the threshold is the tunable in real use). Same seed
    // assignment as embed_cluster; the per-cluster moments aggregate
    // over FIXED-POINT distances (1e4 grid: qd ≤ ~3e6 → Σqd² well
    // under long range at any per-cluster count a 2-level rollup
    // wouldn't already shard) and broadcast back — two scan-stage
    // passes, one tiny shuffle, the shape that holds at 100 TB. Exact
    // oracle: assignment + moments + the identical IEEE mean/std chain
    // replay in SQL (events_zscore precedent).
    "embed_outliers" -> { (s, dir) =>
      val qd = floor(vec.l2sq(col("v"), col("cvec")) * 10000 + 0.5).cast("long")
      val withD = seedAssigned(s, dir)
        .select(col("vec_id"), col("cluster_id"), qd.as("qd"))
      val stats = withD.groupBy(col("cluster_id").as("sid"))
        .agg(count(lit(1)).as("n"), sum("qd").as("sq"), sum(col("qd") * col("qd")).as("ssq"))
        .select(col("sid"),
          (col("sq").cast("double") / 10000.0 / col("n").cast("double")).as("mean"),
          sqrt(
            (col("ssq").cast("double") / 100000000.0 / col("n").cast("double")) -
              (col("sq").cast("double") / 10000.0 / col("n").cast("double")) *
              (col("sq").cast("double") / 10000.0 / col("n").cast("double"))).as("std"))
      withD.join(broadcast(stats), col("cluster_id") === col("sid"))
        .where(col("std") > 0.0 &&
          (col("qd").cast("double") / 10000.0 - col("mean")) > lit(1.5) * col("std"))
        .select(col("vec_id"), col("cluster_id"),
          Tables.quant4((col("qd").cast("double") / 10000.0 - col("mean")) / col("std"))
            .as("z"))
    },
    // greedy k-center coreset (Gonzalez '85): the 16 most spread-out
    // exemplars plus the covering radius each pick closed — the
    // diversity-selection dual of embed_centrality's density signal.
    // k bounded scans, each reducing to a per-partition top-1; output
    // is k driver rows. Rows-only at the gate (the greedy recurrence
    // has no SQL replay); exact driver replay + radius monotonicity
    // spec-asserted.
    "sample_kcenter" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("label"), vec.vector(col("embedding")).as("vec"))
      graft.search.Coreset.kCenterGreedy(d, 16)
        .toDF("center_rank", "label", "radius")
        .select(col("center_rank"), col("label"),
          Tables.quant4(col("radius")).as("radius"))
    },
    // mutual-kNN-graph degree centrality: for each vector, how many of
    // its top-10 neighbors reciprocate — the embedding-space
    // core-vs-outlier signal for pruning (mutual-graph degree separates
    // dense semantic cores from isolated noise; SemDeDup's cousin for
    // SELECTION rather than dedup). The kNN join is the heavy stage and
    // rides the identical path the ANN join scales (bounded per-
    // partition heaps; swap in AnnJoin.ivfJoin at 100 TB); downstream
    // is all skinny edges — the mutual check is an equi-join of two
    // N×k (id, id) streams, the degree rollup map-side combines, and
    // the zero-degree outliers come back via one left join against the
    // id projection. Exact oracle: brute-force kNN (ties by label),
    // reciprocal intersection, degree count.
    "embed_centrality" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))
      val nn = Knn.knnJoin(q, data(s, dir), 10, "l2sq").select(col("qid"), col("label"))
      val rev = nn.select(col("label").as("rq"), col("qid").as("rl"))
      val deg = nn.join(rev, col("qid") === col("rq") && col("label") === col("rl"))
        .groupBy("qid").agg(count(lit(1)).as("degree"))
      e.select(col("vec_id")).join(deg, col("vec_id") === col("qid"), "left")
        .select(col("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          (coalesce(col("degree"), lit(0L)) >= 5).as("is_core"))
    },
    // embedding-distribution drift between two corpus cohorts (old vs
    // new crawl snapshot, simulated by the vec_id parity split): per
    // label, the L2 distance between cohort centroids — the monitor a
    // 100 TB embedding pipeline runs before trusting a refreshed
    // corpus against an index trained on the old one (re-train IVF
    // centroids when drift spikes). One corpus scan; components
    // quantize to integer micros BEFORE the (label, dim) rollup, so
    // every sum is an associative long sum (map-side partials; the
    // shuffle carries labels x dims x 2 rows per partition, not
    // vectors) and the per-dim centroid delta is bit-identical on any
    // partitioning. The dim -> drift fold quantizes each SQUARED delta
    // to fixed point too — a double sum over dims would be
    // order-dependent — so the whole chain has an exact oracle.
    // k-NN label propagation (weak supervision / auto-labeling over an
    // embedding column): each query vector takes the majority class of
    // its 5 nearest OTHER vectors (ties: most votes, then smallest
    // class id). The candidate filter excludes self BEFORE ranking, so
    // the oracle replays the identical (dist, id)-ordered top-5. The
    // pipeline shape that labels a raw crawl from a small seeded set.
    "knn_classify" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), vec.vector(col("embedding")).as("qvec"))
      val d = e.select(col("vec_id").as("nn_id"), vec.vector(col("embedding")).as("vec"))
      val cands = d.crossJoin(broadcast(q))
        .where(col("nn_id") =!= col("qid"))
        .select(col("qid"), col("nn_id").as("label"),
          vec.l2sq(col("vec"), col("qvec")).as("_dist"))
      val nn = Knn.rankResults(cands, K, ascending = true)
        .select(col("qid"), col("label").as("nn_id"))
      val classes = e.select(col("vec_id").as("nn_id"), col("label").as("cls"))
      nn.join(broadcast(classes), "nn_id")
        .groupBy("qid", "cls")
        .agg(count(lit(1)).as("votes"))
        .groupBy("qid")
        .agg(max(struct(col("votes"), (lit(0) - col("cls")).as("ncls"))).as("m"))
        .select(col("qid"), (lit(0) - col("m.ncls")).as("pred_label"),
          col("m.votes").as("votes"))
    },
    // per-dimension corpus health profile (the check before trusting an
    // embedding batch: dead dims, variance collapse, mean shift): n /
    // mean / variance over 1e-6-quantized cells — integer sums are
    // order-independent, the final divisions are the identical IEEE
    // expression on both engines. Exact oracle.
    "embed_dim_stats" -> { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>")))
        .select(col("pos").as("dim"),
          floor(col("col") * 1000000 + 0.5).cast("long").as("vq"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("vq").as("s"),
          sum(col("vq") * col("vq")).as("ss"))
        .select(col("dim"), col("n"),
          Tables.quant4(col("s").cast("double") / 1000000.0 / col("n").cast("double"))
            .as("mean"),
          Tables.quant4((col("ss").cast("double") / 1000000000000.0
            - (col("s").cast("double") / 1000000.0) * (col("s").cast("double") / 1000000.0)
              / col("n").cast("double")) / col("n").cast("double"))
            .as("variance"))
    },
    "embed_drift" -> { (s, dir) =>
      val cohortDim = Tables(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("c"),
          posexplode(col("embedding").cast("array<double>")))
        .select(col("label"), col("c"), col("pos").as("dim"),
          floor(col("col") * 1000000 + 0.5).cast("long").as("vmicro"))
        .groupBy("label", "dim")
        .agg(
          sum(when(col("c") === 0, col("vmicro")).otherwise(0L)).as("s0"),
          sum(when(col("c") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("c") === 1, col("vmicro")).otherwise(0L)).as("s1"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
      // delta_d = mean0 - mean1 in micro units; square, re-quantize to
      // 1e-8 fixed point so the across-dims sum stays associative
      val delta = (col("s0").cast("double") / col("n0").cast("double")
        - col("s1").cast("double") / col("n1").cast("double")) / 1000000.0
      cohortDim
        .where(col("n0") > 0 && col("n1") > 0)
        .select(col("label"), col("n0"), col("n1"),
          floor((delta * delta) * 100000000 + 0.5).cast("long").as("sqq"))
        .groupBy("label")
        .agg(min(col("n0")).as("n_a"), min(col("n1")).as("n_b"),
          Tables.quant4(sqrt(sum(col("sqq")).cast("double") / 100000000.0))
            .as("drift"))
    })

  // DuckDB-side distance formulas over DOUBLE, element order identical to
  // the Scala loops (sequential list_sum / explicit comprehensions).
  private[queries] val l2sqSql =
    "list_sum([ (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ])"
  private val ipSql =
    "list_sum([ CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE) FOR i IN range(1, len(a)+1) ])"

  private[queries] def knnOracle(distExpr: String, order: String, where: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
       |d AS (
       |  SELECT q.qid, e.vec_id AS label, $distExpr AS dist
       |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings $where) e
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist $order, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < $K""".stripMargin

  private val cosSql =
    "1.0 - list_cosine_similarity(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))"

  /** prefix-dim L2²: the same double accumulation over the first 16
    * elements only */
  private val l2sqPrefixSql =
    "list_sum([ (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) * (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, 17) ])"

  // sign-bit Hamming distance replayed from the raw floats: bit i of
  // the packed word is set iff v[i] >= 0, so POPCNT(a XOR b) equals
  // the count of dimensions whose signs disagree. Two deliberate
  // mirrors of the kernel: only the first 64 dims participate
  // (signBits packs one word), and NaN counts as sign 0 (Java
  // NaN >= 0 is false; DuckDB sorts NaN above 0, so spell it out)
  private val hammingOracleSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
       |d AS (
       |  SELECT q.qid, e.vec_id AS label,
       |    CAST(len([i FOR i IN range(1, least(len(q.a), 64)+1)
       |              IF (NOT isnan(q.a[i]) AND q.a[i] >= 0) <> (NOT isnan(e.embedding[i]) AND e.embedding[i] >= 0)]) AS BIGINT) AS ham
       |  FROM q CROSS JOIN embeddings e
       |),
       |r AS (
       |  SELECT qid, label, ham,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY ham ASC, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label, ham AS hamming FROM r WHERE rank < $K""".stripMargin

  /** sign words of the binary-IVF coarse centroids, memoized by
    * [[binaryIvf]] for the injected oracle (the trained-state-injection
    * contract of IndexQueries.knnIvfCents) */
  @volatile private[queries] var binaryIvfCentBits: Option[Seq[Long]] = None

  /** AnnJoin quantizer of the last knn_join_ann run (captured per-call
    * via the onTrained callback), for the injected oracle */
  @volatile private[queries] var joinAnnCents: Option[Array[Array[Float]]] = None

  /** DuckDB replay of the unbounded ANN self-join with injected
    * centroids: EVERY row probes its nprobe nearest lists, candidates
    * are probed-list co-members (self excluded), top-k by
    * ((dist, label)) — assignment/probe/tie rules identical to the
    * knn_ivf replay, just with the full corpus as the query side. */
  private def joinAnnOracle(cents: Array[Array[Float]], nprobe: Int, k: Int): String = {
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
       |cand AS (
       |  SELECT p.qid, a.vec_id AS label FROM probes p JOIN asg a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.qid
       |),
       |d AS (
       |  SELECT c.qid, c.label, ${IndexQueries.l2RawSql("qe.embedding", "ce.embedding", dim)} AS dist
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, label FROM r WHERE rank < $k""".stripMargin
  }

  /** sign-disagreement Hamming between two float lists — vec.signBits'
    * exact semantics (first 64 dims, NaN counts as sign 0), the
    * hammingOracleSql chain shared by the binary-family replays */
  private def hamSql(a: String, b: String): String =
    s"""CAST(len([i FOR i IN range(1, least(len($a), 64)+1)
       |              IF (NOT isnan($a[i]) AND $a[i] >= 0) <> (NOT isnan($b[i]) AND $b[i] >= 0)]) AS BIGINT)""".stripMargin

  /** DuckDB replay of the binary rerank cascade: Hamming coarse top-50
    * ((ham, label) order), exact float re-rank of the survivors. No
    * trained state at all — the cascade is a pure function of the data,
    * so the oracle is static. */
  private val binaryRerankOracleSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
       |hd AS (
       |  SELECT q.qid, e.vec_id AS label, q.a, e.embedding AS b,
       |    ${hamSql("q.a", "e.embedding")} AS ham
       |  FROM q CROSS JOIN embeddings e
       |),
       |coarse AS (
       |  SELECT qid, label, a, b FROM (
       |    SELECT qid, label, a, b,
       |      row_number() OVER (PARTITION BY qid ORDER BY ham, label) AS rn
       |    FROM hd) WHERE rn <= ${K * 10}
       |),
       |rd AS (SELECT qid, label, $l2sqSql AS dist FROM (SELECT qid, label, a, b FROM coarse)),
       |r AS (
       |  SELECT qid, label, dist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
       |  FROM rd
       |)
       |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
       |FROM r WHERE rank < $K""".stripMargin

  /** DuckDB replay of the binary IVF with INJECTED centroid sign words
    * (the search depends on the trained centroids only through their
    * 64-bit sign patterns): assignment argmin (ties to lowest cid —
    * array_position picks the first min), per-query nprobe list
    * selection ((ham, cid) struct sort), Hamming scan of probed lists
    * ((ham, label) top-k). Bit i of a word is read with an arithmetic
    * shift, which agrees with the engine's 1L<<i packing for all 64
    * bits including the sign bit. */
  private def binaryIvfOracle(centBits: Seq[Long], nprobe: Int): String = {
    val centRows = centBits.zipWithIndex
      .map { case (b, i) => s"($i, CAST($b AS BIGINT))" }.mkString(",\n  ")
    def hamWord(v: String): String =
      s"""CAST(len([i FOR i IN range(1, least(len($v), 64)+1)
         |              IF (((cb >> (i-1)) & 1) = 1) <> (NOT isnan($v[i]) AND $v[i] >= 0)]) AS BIGINT)""".stripMargin
    s"""WITH cents(cid, cb) AS (VALUES
       |  $centRows),
       |bits AS (
       |  SELECT e.vec_id, cents.cid, ${hamWord("e.embedding")} AS ham
       |  FROM embeddings e CROSS JOIN cents
       |),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ham, cid) AS rn
       |    FROM bits) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY ham, cid) AS rn
       |    FROM bits WHERE vec_id < 10) WHERE rn <= $nprobe
       |),
       |cand AS (SELECT p.qid, a.vec_id AS label FROM probes p JOIN asg a ON a.cid = p.cid),
       |hd AS (
       |  SELECT c.qid, c.label, ${hamSql("qe.embedding", "ce.embedding")} AS ham
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.qid
       |  JOIN embeddings ce ON ce.vec_id = c.label
       |),
       |r AS (
       |  SELECT qid, label, ham,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY ham, label) - 1 AS INTEGER) AS rank
       |  FROM hd
       |)
       |SELECT qid, rank, label, ham AS hamming FROM r WHERE rank < $K""".stripMargin
  }

  /** DuckDB replay of the vs_rerank_eval factor sweep — static like
    * [[binaryRerankOracleSql]] (no trained state): per factor f, the
    * Hamming coarse keeps top K*f ((ham, label) order), the float
    * re-rank keeps top K ((dist, label)), and recall is the exact hit
    * count over the brute-force truth divided by the truth count. */
  private val rerankEvalOracleSql: String = {
    val factorRows = RerankFactors.map(f => s"($f)").mkString(", ")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
       |hd AS MATERIALIZED (
       |  SELECT q.qid, e.vec_id AS label, ${hamSql("q.a", "e.b")} AS ham,
       |    $l2sqSql AS dist
       |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
       |),
       |truth AS (
       |  SELECT qid, label FROM (
       |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS rn
       |    FROM hd) WHERE rn <= $K
       |),
       |hr AS (SELECT qid, label, dist,
       |         row_number() OVER (PARTITION BY qid ORDER BY ham, label) AS hrn FROM hd),
       |fs(factor) AS (VALUES $factorRows),
       |tier AS (
       |  SELECT factor, qid, label FROM (
       |    SELECT f.factor, h.qid, h.label,
       |      row_number() OVER (PARTITION BY f.factor, h.qid ORDER BY h.dist, h.label) AS rn
       |    FROM fs f JOIN hr h ON h.hrn <= $K * f.factor
       |  ) WHERE rn <= $K
       |)
       |SELECT f.factor,
       |  CAST(SUM(CASE WHEN t2.label IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS recall_at_5
       |FROM fs f
       |JOIN truth t ON true
       |LEFT JOIN tier t2 ON t2.factor = f.factor AND t2.qid = t.qid AND t2.label = t.label
       |GROUP BY f.factor ORDER BY f.factor""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // replay BOTH stages: coarse rank over prefix-16 distance (ties by
    // label), survivors rn <= 20, then full-vector re-rank of survivors
    "knn_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
         |cd AS (
         |  SELECT q.qid, e.vec_id AS label, q.a, e.b, $l2sqPrefixSql AS pdist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |),
         |surv AS (
         |  SELECT qid, label, a, b,
         |    row_number() OVER (PARTITION BY qid ORDER BY pdist, label) AS crn
         |  FROM cd QUALIFY crn <= ${K * 4}
         |),
         |rd AS (SELECT qid, label, $l2sqSql AS dist FROM surv),
         |r AS (
         |  SELECT qid, label, dist,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
         |  FROM rd
         |)
         |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM r WHERE rank < $K""".stripMargin,
    "knn_join_grouped" ->
      s"""WITH e AS (SELECT vec_id, vec_id % 4 AS grp, embedding FROM embeddings),
         |q AS (SELECT grp, vec_id AS qid, embedding AS a FROM e WHERE vec_id < 20),
         |d AS (
         |  SELECT q.grp, q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q JOIN (SELECT grp, vec_id, embedding AS b FROM e) e
         |    ON q.grp = e.grp AND e.vec_id <> q.qid
         |),
         |r AS (
         |  SELECT grp, qid, label, dist,
         |    CAST(row_number() OVER (PARTITION BY grp, qid ORDER BY dist, label) - 1 AS INTEGER) AS rank
         |  FROM d
         |)
         |SELECT grp, qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM r WHERE rank < 3""".stripMargin,
    "knn_join" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings),
         |d AS (
         |  SELECT q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |  WHERE e.vec_id != q.qid
         |),
         |r AS (
         |  SELECT qid, label, dist,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label) - 1 AS INTEGER) AS rank
         |  FROM d
         |)
         |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM r WHERE rank < 3""".stripMargin,
    // exhaustive probing makes the distributed ANN join brute force
    "knn_join_ann_exh" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings),
         |d AS (
         |  SELECT q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |  WHERE e.vec_id != q.qid
         |),
         |r AS (
         |  SELECT qid, label, dist,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label) - 1 AS INTEGER) AS rank
         |  FROM d
         |)
         |SELECT qid, rank, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM r WHERE rank < 3""".stripMargin,
    "knn_flat_l2" -> knnOracle(l2sqSql, "ASC", ""),
    "knn_flat_local" -> knnOracle(l2sqSql, "ASC", ""),
    "knn_flat_l1" -> knnOracle(
      "list_sum([ abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ])",
      "ASC", ""),
    "knn_flat_ip" -> knnOracle(ipSql, "DESC", ""),
    "knn_flat_cosine" -> knnOracle(cosSql, "ASC", ""),
    "knn_search_filter" -> knnOracle(l2sqSql, "ASC", "WHERE vec_id % 2 = 0"),
    // sign-bit Hamming distance replayed from the raw floats: bit i of
    // the packed word is set iff v[i] >= 0, so POPCNT(a XOR b) equals
    // the count of dimensions whose signs disagree. Two deliberate
    // mirrors of the kernel: only the first 64 dims participate
    // (signBits packs one word), and NaN counts as sign 0 (Java
    // NaN >= 0 is false; DuckDB sorts NaN above 0, so spell it out)
    "knn_hamming" -> hammingOracleSql,
    // exclude-self top-5 by (dist, id), then (votes desc, class asc)
    "knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 100),
         |d AS (
         |  SELECT q.qid, e.vec_id AS nn_id, e.label AS cls, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, label, embedding AS b FROM embeddings) e
         |  WHERE e.vec_id <> q.qid),
         |r AS (
         |  SELECT qid, cls,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS rn
         |  FROM d),
         |v AS (SELECT qid, cls, count(*) AS votes FROM r WHERE rn <= $K GROUP BY qid, cls),
         |w AS (
         |  SELECT qid, cls, votes,
         |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, cls) AS pick
         |  FROM v)
         |SELECT qid, CAST(cls AS INTEGER) AS pred_label, CAST(votes AS BIGINT) AS votes
         |FROM w WHERE pick = 1""".stripMargin,
    // identical quantize -> integer sums -> identical IEEE divisions
    "embed_dim_stats" ->
      s"""WITH c AS (
         |  SELECT CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
         |  FROM embeddings)
         |SELECT dim, count(*) AS n,
         |  ${Tables.quant4Sql(
             "CAST(sum(vq) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)")} AS mean,
         |  ${Tables.quant4Sql(
             "(CAST(sum(vq * vq) AS DOUBLE) / 1000000000000.0 " +
             "- (CAST(sum(vq) AS DOUBLE) / 1000000.0) * (CAST(sum(vq) AS DOUBLE) / 1000000.0) " +
             "/ CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)")} AS variance
         |FROM c GROUP BY dim""".stripMargin,
    // all 16 lists probed == the flat Hamming scan
    "knn_binary_ivf_exh" -> hammingOracleSql,
    // corpus-covering coarse cut -> the re-rank is brute-force L2
    "knn_binary_exh" -> knnOracle(l2sqSql, "ASC", ""),
    "knn_radius" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings WHERE vec_id < 10),
         |d AS (
         |  SELECT q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |)
         |SELECT qid, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM d WHERE dist < ${RADIUS}""".stripMargin,
    // all within-radius pairs over the FULL corpus, self excluded
    "knn_radius_join_exh" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings),
         |d AS (
         |  SELECT q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |  WHERE e.vec_id != q.qid
         |)
         |SELECT qid, label, CAST(CAST(dist AS DECIMAL(18,4)) AS DOUBLE) AS distance
         |FROM d WHERE dist < ${RADIUS}""".stripMargin,
    "embed_cluster" ->
      s"""WITH q AS (SELECT vec_id, embedding AS a FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS b FROM embeddings WHERE vec_id < 8),
         |d AS (
         |  SELECT q.vec_id, seeds.cid, $l2sqSql AS dist
         |  FROM q CROSS JOIN seeds
         |),
         |a AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d
         |)
         |SELECT cid AS cluster_id, count(*) AS n_members,
         |  CAST(sum(CAST(floor(dist * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
         |    / CAST(count(*) AS DOUBLE) AS avg_dist
         |FROM a WHERE rn = 1 GROUP BY cid""".stripMargin,
    // identical assignment replay + fixed-point moments + the same IEEE
    // mean/std chain, so the 2σ cut and z values compare bit-equal
    "embed_outliers" ->
      s"""WITH q AS (SELECT vec_id, embedding AS a FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS b FROM embeddings WHERE vec_id < 8),
         |d AS (
         |  SELECT q.vec_id, seeds.cid, $l2sqSql AS dist
         |  FROM q CROSS JOIN seeds
         |),
         |asg AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d
         |),
         |w AS (
         |  SELECT vec_id, cid AS cluster_id,
         |    CAST(floor(dist * 10000 + 0.5) AS BIGINT) AS qd
         |  FROM asg WHERE rn = 1
         |),
         |st AS (
         |  SELECT cluster_id AS sid,
         |    CAST(sum(qd) AS DOUBLE) / 10000.0 / CAST(count(*) AS DOUBLE) AS mean,
         |    sqrt(CAST(sum(qd * qd) AS DOUBLE) / 100000000.0 / CAST(count(*) AS DOUBLE)
         |      - (CAST(sum(qd) AS DOUBLE) / 10000.0 / CAST(count(*) AS DOUBLE))
         |        * (CAST(sum(qd) AS DOUBLE) / 10000.0 / CAST(count(*) AS DOUBLE))) AS std
         |  FROM w GROUP BY cluster_id
         |)
         |SELECT vec_id, cluster_id,
         |  ${Tables.quant4Sql("(CAST(qd AS DOUBLE) / 10000.0 - mean) / std")} AS z
         |FROM w JOIN st ON cluster_id = sid
         |WHERE std > 0.0 AND (CAST(qd AS DOUBLE) / 10000.0 - mean) > 1.5 * std""".stripMargin,
    // brute-force kNN (ties by label) -> reciprocal intersection ->
    // degree; zero-degree outliers restored by the left join
    // Gonzalez greedy k-center replayed as a 16-step sequential fold
    // (the pack_bestfit recursive-CTE idiom): single-row state carries
    // the min-distance array; each step's pick is the strict-argmax
    // with first-index (= lowest-label) tie-break, exactly the
    // Coreset.kCenterLocal loop. Distances are the same
    // left-to-right DOUBLE accumulation as l2sqSql, so the chain is
    // bit-exact — radius quant4 only guards the final display cast.
    "sample_kcenter" ->
      """WITH RECURSIVE
        |pts AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS i, vec_id AS label, embedding AS v
        |  FROM embeddings
        |),
        |vl AS (SELECT list(v ORDER BY i) AS vs, list(label ORDER BY i) AS ls FROM pts),
        |st AS (
        |  SELECT 0 AS rank, 1::BIGINT AS pi, CAST(0.0 AS DOUBLE) AS radius,
        |    [ list_sum([ (CAST(vs[j][i] AS DOUBLE) - CAST(vs[1][i] AS DOUBLE))
        |               * (CAST(vs[j][i] AS DOUBLE) - CAST(vs[1][i] AS DOUBLE))
        |        FOR i IN range(1, len(vs[j])+1) ])
        |      FOR j IN range(1, len(vs)+1) ] AS minds
        |  FROM vl
        |  UNION ALL
        |  SELECT st.rank + 1, nxt.bi, nxt.bm,
        |    [ least(st.minds[j],
        |        list_sum([ (CAST(vl.vs[j][i] AS DOUBLE) - CAST(vl.vs[nxt.bi][i] AS DOUBLE))
        |                 * (CAST(vl.vs[j][i] AS DOUBLE) - CAST(vl.vs[nxt.bi][i] AS DOUBLE))
        |            FOR i IN range(1, len(vl.vs[j])+1) ]))
        |      FOR j IN range(1, len(st.minds)+1) ]
        |  FROM st, vl
        |  LEFT JOIN LATERAL (
        |    SELECT u.j AS bi, st.minds[u.j] AS bm
        |    FROM (SELECT unnest(range(1, len(st.minds)+1)) AS j) u
        |    ORDER BY st.minds[u.j] DESC, u.j ASC
        |    LIMIT 1
        |  ) nxt ON TRUE
        |  WHERE st.rank < 15
        |)
        |SELECT CAST(st.rank AS INTEGER) AS center_rank,
        |       (SELECT ls FROM vl)[st.pi] AS label,
        |       CAST(CAST(st.radius AS DECIMAL(18,4)) AS DOUBLE) AS radius
        |FROM st""".stripMargin,
    "embed_centrality" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS a FROM embeddings),
         |d AS (
         |  SELECT q.qid, e.vec_id AS label, $l2sqSql AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding AS b FROM embeddings) e
         |  WHERE e.vec_id != q.qid
         |),
         |r AS (
         |  SELECT qid, label,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label) - 1 AS rank
         |  FROM d
         |),
         |nn AS (SELECT qid, label FROM r WHERE rank < 10),
         |m AS (SELECT a.qid FROM nn a JOIN nn b ON a.qid = b.label AND a.label = b.qid),
         |deg AS (SELECT qid, CAST(count(*) AS BIGINT) AS degree FROM m GROUP BY qid)
         |SELECT e.vec_id,
         |  COALESCE(deg.degree, CAST(0 AS BIGINT)) AS degree,
         |  COALESCE(deg.degree, 0) >= 5 AS is_core
         |FROM embeddings e LEFT JOIN deg ON e.vec_id = deg.qid""".stripMargin,
    // identical fixed-point chain: micro-quantized components, long
    // sums per (label, dim), squared deltas re-quantized before the
    // across-dims fold (CASTs kill DuckDB's HUGEINT sum promotion)
    "embed_drift" ->
      """WITH x AS (
        |  SELECT label, vec_id % 2 AS c,
        |    CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vmicro
        |  FROM embeddings
        |),
        |g AS (
        |  SELECT label, dim,
        |    CAST(sum(CASE WHEN c = 0 THEN vmicro ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN c = 1 THEN vmicro ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM x GROUP BY label, dim
        |),
        |d AS (
        |  SELECT label, n0, n1,
        |    CAST(floor(
        |      ((CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)) / 1000000.0)
        |      * ((CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)) / 1000000.0)
        |      * 100000000 + 0.5) AS BIGINT) AS sqq
        |  FROM g WHERE n0 > 0 AND n1 > 0
        |)
        |SELECT label, min(n0) AS n_a, min(n1) AS n_b,
        |  CAST(CAST(sqrt(CAST(CAST(sum(sqq) AS BIGINT) AS DOUBLE) / 100000000.0) AS DECIMAL(18,4)) AS DOUBLE) AS drift
        |FROM d GROUP BY label""".stripMargin,
    "dist_metrics" ->
      s"""WITH p AS (
         |  SELECT ea.vec_id AS pair_id, ea.embedding AS a, eb.embedding AS b
         |  FROM embeddings ea JOIN embeddings eb ON ea.vec_id = eb.vec_id - 1
         |  WHERE ea.vec_id < 50
         |), m AS (
         |  SELECT pair_id, a, b,
         |    [abs(CAST(a[i] AS DOUBLE)) FOR i IN range(1, len(a)+1)] AS pa,
         |    [abs(CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(b)+1)] AS pb
         |  FROM p
         |)
         |SELECT pair_id,
         |  CAST(CAST($l2sqSql AS DECIMAL(18,4)) AS DOUBLE) AS d_l2sq,
         |  CAST(CAST($ipSql AS DECIMAL(18,4)) AS DOUBLE) AS d_ip,
         |  CAST(CAST($cosSql AS DECIMAL(18,4)) AS DOUBLE) AS d_cosine,
         |  CAST(CAST(list_sum([ abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_l1,
         |  CAST(CAST(list_max([ abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_linf,
         |  CAST(CAST(list_sum([ pow(abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)), 3.0) FOR i IN range(1, len(a)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_lp3,
         |  CAST(CAST(list_sum([ CASE WHEN abs(CAST(a[i] AS DOUBLE)) + abs(CAST(b[i] AS DOUBLE)) > 0
         |        THEN abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) / (abs(CAST(a[i] AS DOUBLE)) + abs(CAST(b[i] AS DOUBLE)))
         |        ELSE 0.0 END FOR i IN range(1, len(a)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_canberra,
         |  CAST(CAST(list_sum([ abs(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ])
         |    / list_sum([ abs(CAST(a[i] AS DOUBLE) + CAST(b[i] AS DOUBLE)) FOR i IN range(1, len(a)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_braycurtis,
         |  CAST(CAST(0.5 * list_sum([ (CASE WHEN pa[i] > 0 AND pa[i] + pb[i] > 0 THEN pa[i] * ln(2.0 * pa[i] / (pa[i] + pb[i])) ELSE 0.0 END)
         |      + (CASE WHEN pb[i] > 0 AND pa[i] + pb[i] > 0 THEN pb[i] * ln(2.0 * pb[i] / (pa[i] + pb[i])) ELSE 0.0 END)
         |      FOR i IN range(1, len(pa)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_js,
         |  CAST(CAST(1.0 - list_sum([ least(pa[i], pb[i]) FOR i IN range(1, len(pa)+1) ])
         |    / list_sum([ greatest(pa[i], pb[i]) FOR i IN range(1, len(pa)+1) ]) AS DECIMAL(18,4)) AS DOUBLE) AS d_jaccard
         |FROM m""".stripMargin
  ) ++ pcaVarianceBasis.map(b => "embed_pca_variance" -> pcaVarianceOracle(b._1, b._2)) ++
    Map("knn_binary_rerank" -> binaryRerankOracleSql,
        "vs_rerank_eval" -> rerankEvalOracleSql) ++
    binaryIvfCentBits.map(cb => "knn_binary_ivf" -> binaryIvfOracle(cb, nprobe = 4)) ++
    joinAnnCents.map(cs => "knn_join_ann" -> joinAnnOracle(cs, nprobe = 4, k = 3))

  /** Trained eigenbasis of the last embed_pca_variance run: Verify
    * dumps oracle_sql.json AFTER executing the queries, so the
    * injected-basis oracle reads the memo here (the
    * manualTrainCentroids move applied to a pretransform — the
    * eigensolve's libm is irrelevant because its OUTPUT is injected
    * verbatim into both engines). If a filtered run skipped the query
    * the key is simply absent and the gate degrades to rows-only. */
  @volatile private[queries] var pcaVarianceBasis
      : Option[(Array[Float], Array[Array[Float]])] = None

  /** DuckDB replay of embed_pca_variance with the basis as literals.
    * Precision contract, mirroring Pca.projectArr exactly: per term the
    * float subtraction and float multiplication each round to REAL
    * (both exactly representable in the DOUBLE DuckDB computes in, so
    * the cast IS the float rounding), the 64-term accumulation runs in
    * DOUBLE in index order (list_sum), and the result rounds to REAL
    * (`out(j) = s.toFloat`). From there everything is integer: 1e4
    * fixed-point moments, HUGEINT num = n·Σq² − (Σq)², integer-division
    * share — no IEEE left except the one variance chain, replayed
    * op-for-op. */
  private def pcaVarianceOracle(mean: Array[Float], comps: Array[Array[Float]]): String = {
    def fl(x: Float): String = "%1.9e".format(x) // 10 sig digits round-trips any float
    val meanLit = mean.map(fl).mkString("[", ", ", "]")
    val compRows = comps.zipWithIndex
      .map { case (c, j) => s"($j, ${c.map(fl).mkString("[", ", ", "]")})" }
      .mkString(",\n  ")
    val d = mean.length
    s"""WITH comps(dim, cv) AS (VALUES
       |  $compRows),
       |mn(mv) AS (VALUES ($meanLit)),
       |p AS (
       |  SELECT comps.dim,
       |    CAST(list_sum([
       |      CAST(CAST(CAST(cv[i] AS REAL) * CAST(CAST(e.embedding[i] AS REAL) - CAST(mv[i] AS REAL) AS REAL) AS REAL) AS DOUBLE)
       |      FOR i IN range(1, ${d + 1})]) AS REAL) AS pf
       |  FROM embeddings e CROSS JOIN comps CROSS JOIN mn
       |),
       |q AS (SELECT dim, CAST(floor(CAST(pf AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qx FROM p),
       |m AS (SELECT dim, count(*) AS n, CAST(sum(qx) AS BIGINT) AS s,
       |        CAST(sum(qx * qx) AS BIGINT) AS ss FROM q GROUP BY dim),
       |v AS (SELECT dim,
       |  (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
       |     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e8 AS variance,
       |  CAST(n AS HUGEINT) * CAST(ss AS HUGEINT) - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS num
       |  FROM m)
       |SELECT dim, ${Tables.quant4Sql("variance")} AS variance,
       |  CAST((num * 10000) // (SELECT sum(num) FROM v) AS BIGINT) AS share_bp
       |FROM v ORDER BY dim""".stripMargin
  }
}
