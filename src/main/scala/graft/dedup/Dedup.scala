package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{hashes, vec}
import graft.text.TextFunctions

/**
 * Deduplication operators for LLM training-data pipelines, each a
 * bounded-shuffle distributed algorithm:
 *
 *  - exact:     one hash shuffle on the text (group-by), keep min id
 *  - minhash:   shingle -> 128-lane MinHash -> LSH band buckets ->
 *               candidate pairs from one bucket aggregate (shuffles
 *               fixed-width bucket keys and ids, never documents)
 *  - simhash:   64-bit fingerprint, 4x16-bit block keys, candidates
 *               verified by hamming distance (block trick: any pair
 *               within hamming<=3 of 64 bits shares at least one of 4
 *               16-bit blocks exactly)
 *  - ngram:     exact jaccard verification over candidate pairs
 *  - embedding: cosine near-dup over vector pairs
 */
object Dedup {

  /** exact dedup groups: one row per distinct text, min doc id kept.
    * Groups on the 128-bit content hash, NOT the text column, so the
    * shuffle carries 24-byte (hash, id) rows — never document bytes;
    * at 100 TB that is the difference between shuffling the corpus and
    * shuffling ~0.1% of it (C4/RefinedWeb practice; md5 collisions at
    * corpus scale are ~2^-64-improbable and would only merge two docs). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /**
   * Incremental (continuous-ingest) exact dedup: a new crawl batch is
   * screened against the already-accepted corpus — a batch document
   * survives iff its content hash is new to BOTH the corpus and the
   * smaller-id part of its own batch. Returns one row per surviving
   * distinct text: (text_hash, keep_id, n_copies in the batch).
   *
   * 100 TB shape: the corpus side reduces to DISTINCT 16-byte hashes
   * (map-side combined) before the LEFT ANTI join, so the shuffle
   * carries (hash, id) pairs — never document text — and re-screening a
   * daily batch costs one batch scan + one corpus hash scan, not a full
   * corpus re-dedup.
   */
  def incremental(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val corpusHashes = corpus.select(md5(col(textCol)).as("text_hash")).distinct()
    exact(batch, idCol, textCol).join(corpusHashes, Seq("text_hash"), "left_anti")
  }

  /** (id, sig array<bigint>) MinHash signatures over word shingles:
    * `minhash(shingles(tokens(text), k))` as one kernel per document
    * ([[graft.functions.MinHashShingles]]), so each document is
    * tokenized once and no shingle string is built */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int, seed: Long): DataFrame =
    graft.search.Knn.widen(docs) // shingling+hashing must not run on one narrow scan partition
      .select(col(idCol).as("id"),
        hashes.minhashShingles(TextFunctions.tokens(col(textCol)), shingleSize, numHashes, seed)
          .as("sig"))

  /** (id, band, bucket) band-bucket registrations from an (id, sig)
    * frame. Stub docs (< shingleSize tokens) register nothing: they all
    * share MinHash's empty-input sentinel signature, for which
    * [[graft.functions.BandBuckets]] yields no bands — otherwise every
    * stub would land in the same bucket of every band and pair up
    * quadratically as meaningless candidates. The sentinel rule lives in
    * the kernel, not in a filter: Spark pushes a filter on `sig` below
    * the signature projection, which then runs twice per document. */
  private def bucketsFromSignatures(
      sig: DataFrame, bands: Int, rows: Int): DataFrame =
    sig.select(col("id"),
      posexplode(hashes.bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))

  /** hot-bucket cap: a degenerate bucket (boilerplate that hashes a large
    * fraction of the corpus together) would make the bucket join quadratic
    * in that bucket; capping bounds worst-case pairs at B x cap^2 while
    * true near-dup groups above the cap still pair up in their other bands */
  private def capBuckets(bucketed: DataFrame, maxBucketSize: Int): DataFrame =
    bucketed
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .where(col("_n") <= maxBucketSize)
      .drop("_n")

  /** (idOut, shOut) sorted 64-bit shingle-hash arrays: set sizes and
    * intersections are collision-exact for any realistic doc
    * (P ~ m^2/2^64) and a sorted-merge intersect costs O(|A|+|B|). */
  private def hashedShingles(
      docs: DataFrame, idCol: String, textCol: String, shingleSize: Int,
      idOut: String, shOut: String): DataFrame =
    graft.search.Knn.widen(docs)
      .select(col(idCol).cast("long").as(idOut),
        TextFunctions.tokens(col(textCol)).as("_toks"))
      // one compiled kernel pass (distinct xxhash64 grams, identical
      // bytes/hashes to the transform(shingles, xxhash64) chain) — and
      // immune to pushdown alias re-substitution re-running the split
      .select(col(idOut),
        array_sort(TextFunctions.shingleHashesXx(col("_toks"), shingleSize)).as(shOut))

  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame =
    candidatesFromSignatures(
      minhashSignatures(docs, idCol, textCol, numHashes, shingleSize, seed),
      numHashes, bands, maxBucketSize)

  /** [[minhashCandidates]] from a precomputed (id, sig) frame — same
    * banding, capping and pairing, zero additional corpus scans.
    *
    * LSH candidate pairs (a_id < b_id, distinct): `bands` groups of
    * `numHashes/bands` lanes, each folded to one bucket key; docs
    * sharing any bucket pair up. One aggregate per (band, bucket)
    * counts every registration (the hot-bucket cap: over
    * `maxBucketSize` registrations the bucket yields no pairs, so a
    * boilerplate bucket cannot go quadratic while true near-dup groups
    * still pair up in their other bands) and collects the ids; the
    * pairs come from exploding each kept id list against itself. */
  def candidatesFromSignatures(
      sig: DataFrame, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    bucketsFromSignatures(sig, bands, rows)
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"), collect_list(col("id")).as("ids"))
      .where(col("n") <= maxBucketSize && size(col("ids")) >= 2)
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .where(col("a_id") < col("b_id"))
      .distinct()
  }

  /**
   * Incremental NEAR-dup screening — the fuzzy complement of
   * [[incremental]]: a new crawl batch's LSH band buckets join the
   * ACCEPTED corpus's band buckets, and candidate (batch, corpus)
   * pairs are verified with exact jaccard over sorted shingle hashes.
   * Returns flagged pairs (batch_id, corpus_id, jaccard >= minJaccard);
   * anti-join the batch against the flagged ids to get survivors.
   *
   * 100 TB shape: corpus band buckets are fixed-width (bands x 8 B per
   * doc) and derivable once per corpus version; a daily batch shuffles
   * only its own signatures into the bucket join, and only candidate
   * pairs fetch shingle-hash arrays for the verify join — document
   * text never crosses a keyed shuffle. Hot corpus buckets capped like
   * [[minhashCandidates]], so boilerplate can't go quadratic.
   */
  def incrementalNearDup(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      seed: Long = 42L, minJaccard: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    // ONE heavy text pass per side: the sorted shingle-hash array feeds
    // the exact-jaccard verify AND (via MinHashFromHashes) the LSH
    // banding. The repartition-by-id exchange alone did NOT deliver the
    // reuse — per-consumer column pruning rewrote the projection under
    // the exchange differently for the bucket explode (id, sig) and the
    // verify join (id, sh), so the canonical subtrees diverged and the
    // finalized r14 plan ran 12 document scans with 20 shingle-kernel
    // instances. PlanPin.shareExchange (guide §2.4/§4.4 "wrap the
    // shared subtree") finalizes the plan once and hands both consumers
    // the same shuffle RDD: the corpus tokenize+hash+minhash runs once
    // per side per invocation, and the already-present exchange is the
    // only materialization (no localCheckpoint round trip — that was
    // measured net-slower at gate scale in r14).
    def profile(docs: DataFrame, idOut: String, shOut: String): DataFrame =
      graft.sql.PlanPin.shareExchange(
        hashedShingles(docs, idCol, textCol, shingleSize, idOut, shOut)
          .select(col(idOut), col(shOut),
            graft.functions.hashes.minhashFromHashes(col(shOut), numHashes, seed).as("sig"))
          .repartition(col(idOut)))
    // stub docs (< shingleSize tokens) all share the empty-signature
    // sentinel, which BandBuckets leaves unbanded
    def buckets(prof: DataFrame, idOut: String): DataFrame =
      bucketsFromSignatures(prof.select(col(idOut).as("id"), col("sig")), bands, rows)
    val cProf = profile(corpus, "corpus_id", "sb")
    val bProf = profile(batch, "batch_id", "sa")
    // cap on the CORPUS side (the big one): a boilerplate bucket would
    // otherwise pair every batch doc against a large corpus fraction
    val corpusCapped = capBuckets(buckets(cProf, "corpus_id"), maxBucketSize)
    val cand = buckets(bProf, "batch_id").as("q")
      .join(corpusCapped.as("c"),
        col("q.band") === col("c.band") && col("q.bucket") === col("c.bucket"))
      .select(col("q.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
    val inter = graft.functions.vec.sortedIntersectCount(col("sa"), col("sb"))
    cand
      .join(bProf.drop("sig"), Seq("batch_id"))
      .join(cProf.drop("sig"), Seq("corpus_id"))
      // size-ratio prefilter (j >= t implies min/max >= t): skip the
      // merge intersect for pairs that cannot qualify
      .where(
        least(size(col("sa")), size(col("sb"))).cast("double") >=
          lit(minJaccard) * greatest(size(col("sa")), size(col("sb"))).cast("double"))
      .select(col("batch_id"), col("corpus_id"),
        (inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** (id, simhash bigint) plus the 4 16-bit block keys for candidate gen */
  def simhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, seed: Long = 42L): DataFrame = {
    // the 4-block pigeonhole guarantees a shared block only for <= 3
    // differing bits; a larger radius needs maxHamming+1 blocks and
    // would otherwise silently miss pairs
    require(maxHamming <= 3, s"4-block simhash candidates are complete only for maxHamming <= 3, got $maxHamming")
    val sigs = graft.search.Knn.widen(docs).select(
      col(idCol).as("id"),
      hashes.simhash(TextFunctions.tokens(col(textCol)), seed).as("sim"))
    val blocks = array((0 until 4).map(b =>
      shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xffffL))): _*)
    val blocked = sigs.select(
      col("id"), col("sim"),
      posexplode(blocks).as(Seq("block", "key")))
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b,
        col("a.block") === col("b.block") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Exact n-gram jaccard over candidate pairs. `pairs` must provide
   * (a_id, b_id); texts are joined back in. jaccard = |A n B| /
   * (|A| + |B| - |A n B|) over distinct shingle sets.
   */
  def ngramJaccard(
      docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, shingleSize: Int = 3): DataFrame = {
    val sh = graft.search.Knn.widen(docs).select(
      col(idCol).as("id"),
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), shingleSize).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    pairs
      .join(sh.withColumnRenamed("sh", "sa"), col("a_id") === col("id")).drop("id")
      .join(sh.withColumnRenamed("sh", "sb"), col("b_id") === col("id")).drop("id")
      .select(
        col("a_id"), col("b_id"),
        (inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter).cast("double")).as("jaccard"))
  }

  /**
   * Windowed n-gram jaccard (b_id in (a_id, a_id+window]) as a bucketed
   * EQUI-join: each b-row registers under its own id-bucket and the
   * previous one, so candidates meet on a shuffle key instead of a
   * nested-loop range join — O(n x window) work, scales linearly.
   */
  /** @param minJaccard when > 0, pairs below this jaccard are dropped —
    *   and a size-ratio prefilter (j >= t implies min(|A|,|B|)/max >= t,
    *   so it can't change the result) skips the sorted-merge intersect
    *   for pairs that can't possibly qualify */
  /** asymmetric twin of [[ngramJaccardWindow]]: overlap coefficient
    * |A∩B| / min(|A|,|B|) over the same bucketed id window — flags
    * SUBSET duplication (one doc quoted/embedded inside another) that
    * symmetric jaccard dilutes when the containing doc is much larger.
    * Same plan: bucketed equi-join, O(n × window) pairs. */
  def containmentWindow(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int, shingleSize: Int): DataFrame = {
    val inter = graft.functions.vec.sortedIntersectCount(col("sa"), col("sb"))
    windowPairs(docs, idCol, textCol, window, shingleSize)
      .where(size(col("sa")) > 0 && size(col("sb")) > 0)
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") /
          least(size(col("sa")), size(col("sb"))).cast("double")).as("containment"))
  }

  /** (a_id, b_id, sa, sb) candidate pairs for b_id in (a_id, a_id+window]
    * via the bucketed equi-join — the shared pair generator of the
    * windowed jaccard/containment scorers */
  private def windowPairs(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int, shingleSize: Int): DataFrame = {
    // shingle sets compared as sorted hash arrays — see [[hashedShingles]]
    val sh = hashedShingles(docs, idCol, textCol, shingleSize, "id", "sh")
    // floor INTEGER division for the bucket key: `/` on longs is a
    // double divide, which rounds for hash-derived ids above 2^53 and
    // silently drops in-window pairs into non-adjacent buckets
    def bucketOf(idName: String): Column = {
      val id = col(idName)
      when(id >= 0, expr(s"$idName div $window"))
        .otherwise(expr(s"(($idName + 1) div $window) - 1")) // floor, not truncate, for negative ids
    }
    val aSide = sh.select(col("id").as("a_id"), col("sh").as("sa"), col("id").as("_b_id"))
      .withColumn("bucket", bucketOf("_b_id")).drop("_b_id")
    val bSide = sh.select(col("id").as("b_id"), col("sh").as("sb"), col("id").as("_b_id"))
      .withColumn("bucket", explode(array(bucketOf("_b_id"), bucketOf("_b_id") - 1)))
      .drop("_b_id")
    aSide.join(bSide, Seq("bucket"))
      .where(col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
  }

  def ngramJaccardWindow(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int, shingleSize: Int, minJaccard: Double = 0.0): DataFrame = {
    val inter = graft.functions.vec.sortedIntersectCount(col("sa"), col("sb"))
    val joined = windowPairs(docs, idCol, textCol, window, shingleSize)
    val prefiltered =
      if (minJaccard > 0)
        joined.where(
          least(size(col("sa")), size(col("sb"))).cast("double") >=
            lit(minJaccard) * greatest(size(col("sa")), size(col("sb"))).cast("double"))
      else joined
    val withJ = prefiltered.select(
      col("a_id"), col("b_id"),
      (inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")).as("jaccard"))
    if (minJaccard > 0) withJ.where(col("jaccard") >= minJaccard) else withJ
  }

  /**
   * Connected components over a duplicate-pair edge list: each doc gets
   * `cluster_id` = min doc id reachable through pairs (so one canonical
   * survivor per duplicate group — the standard dedup clustering step
   * after pair generation).
   *
   * Hybrid execution, like KMeansTrainer: the verified-pair edge list
   * is orders of magnitude smaller than the corpus, so up to
   * `localEdgeLimit` edges (a bounded ~32 MB collect) run driver-local
   * union-find in one job. Above the limit it switches to iterative
   * min-label propagation: every round each vertex takes the min of its
   * own label and its neighbors' labels (join + group-by = two bounded
   * shuffles per round), until a fixpoint. Rounds needed = graph
   * diameter; near-dup clusters are small and dense, so this converges
   * in a handful of rounds even at corpus scale. Lineage is cut with
   * localCheckpoint every few rounds so the plan doesn't grow
   * unboundedly. Both paths produce identical labels. Only vertices
   * that appear in a pair are emitted (singletons are trivially their
   * own cluster).
   */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 50, localEdgeLimit: Int = 2000000): DataFrame = {
    val spark = pairs.sparkSession
    val dedupedPairs = pairs
      .select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .cache()
    // one bounded job decides the path AND fetches the local edge list
    val head = dedupedPairs.limit(localEdgeLimit + 1).collect()
    if (head.length <= localEdgeLimit) {
      dedupedPairs.unpersist(blocking = false)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n } // path compression
        r
      }
      head.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // union by min root
      }
      import spark.implicits._
      // roots are unioned by min, so find(v) IS the component minimum
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      return out.toDF("id", "cluster_id")
    }
    val edges = dedupedPairs
      .union(dedupedPairs.select(col("dst"), col("src")))
      .distinct()
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .cache()
    var backing = labels // the cached/checkpointed DF currently materializing `labels`
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), "dst")
        .groupBy("src")
        .agg(min(col("nbr_comp")).as("min_nbr"))
        .select(col("src").as("id"), col("min_nbr"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("min_nbr"), col("comp"))).as("comp"),
          (coalesce(col("min_nbr"), col("comp")) < col("comp")).as("_moved"))
        .cache()
      changed = stepped.where(col("_moved")).count() // materializes stepped's cache
      backing.unpersist(blocking = false)
      backing = stepped
      labels = stepped.select(col("id"), col("comp"))
      if (iter % 5 == 4) { // cut lineage so the iterated plan stays bounded
        labels = labels.localCheckpoint()
        backing.unpersist(blocking = false)
        backing = labels
      }
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still moving) — raise maxIter; returning partial " +
          "labels would silently split clusters")
    edges.unpersist(blocking = false)
    dedupedPairs.unpersist(blocking = false)
    labels.select(col("id"), col("comp").as("cluster_id"))
  }

  /** embedding cosine near-duplicates over candidate pairs (a_id, b_id) */
  def embeddingNearDup(
      embs: DataFrame, idCol: String, vecCol: String,
      pairs: DataFrame, maxCosineDist: Double): DataFrame = {
    val e = embs.select(col(idCol).as("id"), vec.vector(col(vecCol)).as("v"))
    pairs
      .join(e.withColumnRenamed("v", "va"), col("a_id") === col("id")).drop("id")
      .join(e.withColumnRenamed("v", "vb"), col("b_id") === col("id")).drop("id")
      .select(col("a_id"), col("b_id"), vec.cosineDist(col("va"), col("vb")).as("cosine_dist"))
      .where(col("cosine_dist") <= maxCosineDist)
  }
}
