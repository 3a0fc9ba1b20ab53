package graft.index

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{hashes, vec, VectorMath}
import graft.search.Knn

/**
 * Named-index registry: the Spark-native twin of the reference's
 * global index table (duckdb-faiss-ext README; registration of
 * faiss_create/create_params at src/faiss_extension.cpp:1029-1048,
 * save/load:1050-1057, destroy:1059-1062, manual_train:1064-1068,
 * add:1072-1076, search:1089-1094, search_filter:1110-1119,
 * search_filter_set:1139-1146).
 *
 * Differences by design (Spark-first, 100 TB):
 *  - an index is DataFrames + tiny driver-side metadata, not native RAM;
 *    vectors stay distributed and are never collected
 *  - `add` is lazy: pending batches union into the plan, the index
 *    materializes (trains + assigns + caches) on first search/save —
 *    mirroring FAISS's "add retrains unless manually trained" contract
 *    without re-clustering per micro-batch. Exception: adding to an
 *    ALREADY-BUILT top-level IVF extends the built structure
 *    incrementally (only the batch is assigned, centroids pinned —
 *    the real-time ingest path); compact() folds appended batches
 *  - save = parquet (partitioned by IVF list for partition pruning) +
 *    a one-row meta DataFrame; load restores lazily
 */
object IndexCatalog {

  /** seed used when an index's params carry no explicit "seed" — ONE
    * definition so injected replay oracles that regenerate seeded state
    * (LSH hyperplanes, reservoir samples) cannot silently desynchronize
    * from the engine default */
  val DefaultSeed = 42L

  /** params("seed") with the catalog default */
  def seedOf(params: Map[String, String]): Long =
    params.get("seed").map(_.toLong).getOrElse(DefaultSeed)

  case class IndexMeta(
      name: String,
      dim: Int,
      factory: String,
      metric: String,
      params: Map[String, String])

  /** parsed factory: [PCA<d>|OPQ<m>,] Flat | IVF<n>[_HNSW<m>][,Flat|,<codec>] | <codec> | IMI2x<n> | LSH<b> | HNSW<m>,
    * where <codec> is PQ<m> | SQ8|SQ4|SQfp16 | RQ<m>[x8] | LSQ<m>[x8] */
  sealed trait Kind
  case object FlatKind extends Kind
  case class IvfKind(nlist: Int) extends Kind
  /** IVF whose coarse quantizer is an HNSW graph over the centroids
    * (FAISS `IVF<n>_HNSW<m>`): at nlist ≳ 10^5 flat centroid argmin is
    * itself a scan per vector; the graph walk is O(log nlist). List
    * layout and probing are IVF-identical — only assignment changes. */
  case class IvfHnswKind(nlist: Int, m: Int) extends Kind
  case class LshKind(bits: Int) extends Kind
  /** coded index (FAISS `[IVF<n>[_HNSW<m>],]<codec>`): vectors stored as
    * codec codes in nlist inverted lists (nlist = 1: one list, no coarse
    * quantizer). coarseM > 0 = the coarse quantizer is an HNSW graph over
    * the centroids — the 100 TB serving shape, where nlist ≳ 1e5 needs
    * the graph coarse AND byte codes need coded storage. Training and
    * codes are coarse-agnostic; only assignment and probing walk the graph. */
  case class CodedKind(codec: CodecSpec, nlist: Int, coarseM: Int = 0) extends Kind
  /** inverted multi-index coarse quantizer (FAISS `IMI2x<n>`): the
    * coarse space is the product of two half-dim codebooks of 2^n
    * centroids → nlist = 2^(2n) cells at assignment cost 2·2^n·(d/2);
    * the OTHER standard route to huge nlist besides IVF<n>_HNSW<m>.
    * List layout, probing, save/load all reuse the IVF machinery
    * (IvfBuilt with the product-books fast path; Imi.scala). */
  case class ImiKind(nbits: Int) extends Kind
  case class HnswKind(m: Int) extends Kind
  /** pre-transform wrapper, e.g. "PCA16,IVF64,Flat" */
  case class PcaKind(outDim: Int, inner: Kind) extends Kind
  /** learned-rotation pre-transform, e.g. "OPQ8,PQ8" (dim preserved) */
  case class OpqKind(m: Int, inner: Kind) extends Kind

  /** the kind under at most one pretransform (nesting is rejected) */
  private def unwrapped(kind: Kind): Kind = kind match {
    case PcaKind(_, inner) => inner
    case OpqKind(_, inner) => inner
    case k => k
  }

  def parseFactory(factory: String): Kind =
    parseParts(factory.split(",").map(_.trim)
      .filter(p => p != "IDMap" && p != "IDMap2"))

  private def parseParts(parts: Array[String]): Kind = {
    // FAISS-style pretransform prefix: strip and recurse on the rest
    parts.headOption match {
      case Some(p) if p.startsWith("PCA") && parts.length > 1 =>
        return PcaKind(p.stripPrefix("PCA").toInt, parseParts(parts.tail))
      case Some(p) if p.startsWith("OPQ") && parts.length > 1 =>
        // FAISS grammar: OPQ<m>[_<outdim>]. Our rotation preserves the
        // input dim; a dim-REDUCING OPQ would silently build a different
        // structure than FAISS, so the suffix form fails loudly (use a
        // PCA<d> index for dimensionality reduction)
        val spec = p.stripPrefix("OPQ")
        if (spec.contains("_"))
          throw new UnsupportedOperationException(
            s"'$p': OPQ out-dim reduction is not supported (rotation preserves dim)")
        return OpqKind(spec.toInt, parseParts(parts.tail))
      case _ =>
    }
    // the fine codec token, validated by its own grammar (CodecSpec)
    val codecs = parts.flatMap(CodecSpec.unapply)
    require(codecs.length <= 1,
      s"one codec per index, got ${codecs.length} in '${parts.mkString(",")}'")
    val codec = codecs.headOption
    parts.headOption.getOrElse("Flat") match {
      case s if s.startsWith("IVF") && s.contains("_HNSW") =>
        // FAISS grammar IVF<n>_HNSW<m>[,Flat|,<codec>]: the graph coarse
        // composes with Flat or coded fine storage exactly as
        // faiss::index_factory does (reference faiss_extension.cpp:155)
        val Array(nl, hm) = s.stripPrefix("IVF").split("_HNSW", 2)
        val cm = if (hm.isEmpty) 32 else hm.toInt
        codec.map(CodedKind(_, nl.toInt, cm)).getOrElse(IvfHnswKind(nl.toInt, cm))
      case s if s.startsWith("IMI2x") =>
        // FAISS grammar IMI2x<n>[,Flat]: two half-space codebooks of
        // 2^n centroids, nlist = 2^(2n). Capped at 2x8 (65 536 cells —
        // the materialized product table matches IVF65536's footprint);
        // coded fine storage composes with the graph coarse instead.
        val n = s.stripPrefix("IMI2x").toInt
        require(n >= 1 && n <= 8,
          s"IMI2x$n: supported range is IMI2x1..IMI2x8 (nlist = 2^(2n) <= 65536); " +
            "for larger coarse spaces use IVF<n>_HNSW<m>")
        require(codec.isEmpty,
          s"IMI composes with Flat fine storage here; for coded storage at large " +
            "nlist use IVF<n>_HNSW<m>,PQ<k> / ,SQ8")
        ImiKind(n)
      case s if s.startsWith("IVF") && codec.isDefined =>
        CodedKind(codec.get, s.stripPrefix("IVF").toInt)
      case CodecSpec(c) => CodedKind(c, 1)
      case "Flat" => FlatKind
      case s if s.startsWith("IVF") => IvfKind(s.stripPrefix("IVF").toInt)
      case s if s.startsWith("LSH") =>
        LshKind(Option(s.stripPrefix("LSH")).filter(_.nonEmpty).map(_.toInt).getOrElse(16))
      case s if s.startsWith("HNSW") =>
        HnswKind(Option(s.stripPrefix("HNSW")).filter(_.nonEmpty).map(_.toInt).getOrElse(32))
      case other => throw new IllegalArgumentException(s"unsupported factory: $other")
    }
  }

  /** IDMap prefix gates explicit-id adds, as in FAISS (test/sql/faiss4.test).
    * IDMap2 (FAISS: IDMap + reconstruct-by-id) is accepted as a synonym:
    * graft's layout always reconstructs by label (the base table IS the
    * direct map), so the "2" is free — parity is reconstruct()'s contract. */
  def hasIdMap(factory: String): Boolean = {
    val parts = factory.split(",").map(_.trim)
    parts.contains("IDMap") || parts.contains("IDMap2")
  }

  final class Entry(val meta: IndexMeta) {
    val kind: Kind = parseFactory(meta.factory)
    val idMap: Boolean = hasIdMap(meta.factory)
    var destroyed: Boolean = false // guarded by this Entry's monitor
    var pending: Option[DataFrame] = None // (label bigint, vec array<float>)
    var trained: Option[Array[Array[Float]]] = None // IVF centroids from manual_train
    // coded kinds: (trained codec, coarse centroids when nlist > 1)
    var trainedCodec: Option[(Codec, Option[Array[Array[Float]]])] = None
    var imiBooks: Option[Array[Array[Array[Float]]]] = None // IMI's two half-space codebooks
    var trainedPca: Option[(Array[Float], Array[Array[Float]])] = None
    var built: Option[BuiltIndex] = None
    // (key, graph) restored by load() from a persisted coarse-graph
    // layout; consumed by coarseGraph() when the key (a hash of the
    // exact build inputs: centroid bits, m, efConstruction, metric)
    // matches — any mismatch falls back to a deterministic rebuild
    var loadedCoarseGraph: Option[(Long, Nsw.Graph)] = None
    var nextAutoId: Long = 0L
    val cachedBatches = scala.collection.mutable.ListBuffer.empty[DataFrame]
  }

  sealed trait BuiltIndex {
    def data: DataFrame
    def meta: IndexMeta
    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame

    /** (label, vec) view of the indexed rows for exact flat scans —
      * the built layout itself for raw-vector indexes; coded indexes
      * (codes-only layout) override with the base-table plan */
    def flatData: DataFrame = data

    /**
     * Selector-inside-index search: only rows surviving `restrict`
     * participate, composed WITH the index structure where one exists
     * (the reference applies its id-selector inside every index type's
     * search — faiss_extension.cpp:940-1000). IVF/PQ/SQ/LSH override
     * this to keep list pruning / ADC / bucket probing on the
     * restricted rows; the base implementation is an exact flat scan
     * of the restricted subset (the right plan for Flat, and the safe
     * exact fallback for graph indexes, whose shard connectivity does
     * not survive row removal).
     */
    def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      Knn.searchFlat(
        restrict(flatData).select(col("label"), col("vec")), queries, k, meta.metric,
        padToK = params.get("pad").exists(_.toBoolean))

    /**
     * Range search (FAISS `range_search`): ALL neighbors within
     * `radius`, not a fixed k — "within" follows the metric's
     * direction (dist < r where smaller is closer, dist > r for IP).
     * Base implementation scans the (restricted) corpus once with the
     * radius predicate inside the scan stage — no top-k aggregate, no
     * shuffle; the output is the data-dependent hit set. IVF overrides
     * this to scan only probed lists.
     */
    def searchRadius(
        queries: DataFrame, radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      val d = vec.dist(meta.metric, col("vec"), col("qvec"))
      val cleanQ = queries.where(col("qid").isNotNull && col("qvec").isNotNull)
      val cmp =
        if (VectorMath.smallerIsCloser(VectorMath.metricId(meta.metric))) d < lit(radius)
        else d > lit(radius)
      Knn.widen(restrict(flatData)).crossJoin(broadcast(cleanQ))
        .where(cmp)
        .select(col("qid"), col("label"), d.as("distance"))
    }

    def close(): Unit = data.unpersist()
  }

  private val entries = new ConcurrentHashMap[String, Entry]()

  def create(
      name: String, dim: Int, factory: String,
      metric: String = "l2sq", params: Map[String, String] = Map.empty): Unit = {
    val mid = VectorMath.metricId(metric) // unknown metric errors at create, like the reference (faiss6.test)
    val meta = IndexMeta(name, dim, factory, metric, normalizeParams(params))
    val e = new Entry(meta)
    // metric/kind compatibility errors at create, not deep inside a
    // later search: graph traversal supports L2/IP/cosine only (FAISS
    // HNSW is L2/IP), and a mismatch would silently rank by the wrong
    // ordering
    def isL2 = mid == VectorMath.L2SQ || mid == VectorMath.L2
    e.kind match {
      case HnswKind(_) | PcaKind(_, HnswKind(_)) | OpqKind(_, HnswKind(_))
          if !Nsw.supportsMetric(mid) =>
        throw new IllegalArgumentException(
          s"HNSW supports metrics l2sq/l2/ip/cosine, got '$metric'")
      case CodedKind(_, _, _) | PcaKind(_, CodedKind(_, _, _)) | OpqKind(_, CodedKind(_, _, _))
          if !isL2 =>
        throw new IllegalArgumentException(
          s"PQ/SQ/RQ/LSQ quantized search implements the FAISS L2 convention (code distance + L2 re-rank); got '$metric'")
      case ImiKind(_) if mid == VectorMath.IP =>
        // the multi-index coarse space decomposes by L2 over the two
        // halves (the FAISS IMI convention); an IP index would assign
        // by an ordering its vectors are never searched with
        throw new IllegalArgumentException(
          s"IMI coarse quantization assigns by L2 (FAISS convention); metric '$metric' is unsupported")
      case ImiKind(_) if dim % 2 != 0 =>
        throw new IllegalArgumentException(
          s"IMI2x splits the vector into two equal halves; dim $dim is odd")
      case _ => ()
    }
    if (entries.putIfAbsent(name, e) != null)
      throw new IllegalStateException(s"index '$name' already exists")
  }

  def destroy(name: String): Unit = {
    val e = entries.remove(name)
    // take the entry's own lock: an in-flight build/add on this entry
    // finishes first and its cached state is released here instead of
    // leaking on an orphaned Entry (the reference guards the same race
    // with its per-entry faiss_lock, faiss_extension.cpp:160)
    if (e != null) e.synchronized {
      e.destroyed = true
      e.built.foreach(_.close())
      e.built = None
      e.cachedBatches.foreach(_.unpersist())
    }
  }

  def destroyAll(): Unit = entries.keySet().asScala.toSeq.foreach(destroy)

  /**
   * FAISS `IndexIDMap::remove_ids` analog: drop the given labels from
   * the index, returning how many vectors were removed (the reference's
   * extension does not register a remove, but a 100 TB production
   * corpus needs deletes — GDPR erasure, retracted documents — without
   * a full rebuild). IDMap-only, mirroring FAISS semantics: without an
   * IDMap, FAISS renumbers the survivors sequentially, which would
   * silently re-address every stored vector here. The removal is ONE
   * anti-join folded into the pending plan (AQE broadcasts a small id
   * side); trained state (centroids/codebooks) survives exactly as in
   * FAISS, only the built row layout rebuilds lazily on next search.
   */
  def remove(name: String, ids: DataFrame): Long = {
    val e = entry(name)
    e.synchronized {
      if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
      if (!e.idMap)
        throw new UnsupportedOperationException(
          s"remove requires an IDMap index ('${e.meta.factory}' would renumber " +
            "survivors, FAISS remove_ids semantics); create with 'IDMap,...'")
      val idSet = ids.select(col(ids.columns.head).cast("long").as("label")).distinct()
      e.pending match {
        case None => 0L
        case Some(p) =>
          val nRemoved = p.join(idSet, Seq("label"), "left_semi").count()
          if (nRemoved > 0L) {
            e.pending = Some(p.join(idSet, Seq("label"), "left_anti"))
            e.built.foreach(_.close())
            e.built = None
          }
          nRemoved
      }
    }
  }

  /**
   * Retrain the coarse/codec state from the index's CURRENT contents
   * and rebuild — the maintenance action for centroid drift (a corpus
   * refresh that `embed_drift` flags). FAISS itself cannot retrain in
   * place; production wrappers train a new index on current data and
   * swap, which is what this does under one name: trained state is
   * re-derived from the full pending row set (through manualTrain's
   * bounded sampling), the built layout invalidates and rebuilds
   * lazily, and ids / metric / factory are untouched — so an
   * exhaustive-probe search after retrain stays exact.
   */
  def retrain(name: String): Unit = {
    val e = entry(name)
    val sample = e.synchronized {
      if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
      e.pending.getOrElse(throw new IllegalStateException(
        s"index '$name' has no vectors; call add first"))
    }
    manualTrain(sample.select(col("vec")), name)
  }

  def exists(name: String): Boolean = entries.containsKey(name)

  /** trained PCA/OPQ transform of a pretransform index — (mean,
    * components), rows = output dims. The FAISS analog is reading the
    * PCAMatrix off the IndexPreTransform chain; exposed so callers can
    * replay the projection (and so the knn_pca gate can inject the
    * basis into its oracle, the manualTrainCentroids move). */
  def trainedPcaOf(name: String): Option[(Array[Float], Array[Array[Float]])] =
    entry(name).trainedPca.map { case (m, c) => (m.clone(), c.map(_.clone())) }

  /** trained coarse-quantizer centroids of an IVF-family index — the
    * FAISS analog of reading `quantizer->reconstruct_n`. Exposed for
    * the same reason as [[trainedPcaOf]]: a gate can inject the trained
    * state into its DuckDB oracle and replay assignment + probing
    * verbatim, turning a partial-probe rows-only gate into an exact
    * one (VERDICT r11 #1). */
  def trainedCentroidsOf(name: String): Option[Array[Array[Float]]] =
    entry(name).trained.map(_.map(_.clone()))

  /** trained scalar-quantizer state — (vmin, vdiff, coarse centroids):
    * the FAISS analog of reading `sq.trained` off an IndexScalarQuantizer.
    * Same injection purpose as [[trainedCentroidsOf]]. */
  def trainedSqOf(name: String)
      : Option[(Array[Float], Array[Float], Option[Array[Array[Float]]])] =
    entry(name).trainedCodec.flatMap { case (codec, cs) =>
      codec.trainedBounds.map { case (mn, df) => (mn.clone(), df.clone(), cs.map(_.map(_.clone()))) }
    }

  /** trained product/additive-quantizer state — (codebooks, coarse
    * centroids): the FAISS analog of reading `pq.centroids` off an
    * IndexPQ/IndexRQ. Shape: codebooks(sub)(code)(dim-within-sub) for
    * PQ, codebooks(stage)(code)(full-dim) for RQ/LSQ/IMI halves.
    * Same injection purpose as [[trainedCentroidsOf]]. */
  def trainedPqOf(name: String)
      : Option[(Array[Array[Array[Float]]], Option[Array[Array[Float]]])] = {
    val e = entry(name)
    e.imiBooks.map(b => (b, Option.empty[Array[Array[Float]]]))
      .orElse(e.trainedCodec.flatMap { case (codec, cs) => codec.trainedBooks.map((_, cs)) })
      .map { case (books, cs) => (books.map(_.map(_.clone())), cs.map(_.map(_.clone()))) }
  }

  /** the BUILT per-shard HNSW graphs (labels, levels, adjacency, entry,
    * dups), collected to the driver for injected replay oracles — the
    * graph analog of [[trainedCentroidsOf]]. Bounded: None when the
    * index holds more than `maxNodes` total graph nodes (the cap keeps
    * this a gate-scale verification surface, never a serving path). */
  def builtHnswGraphsOf(name: String, maxNodes: Int = 100000): Option[Seq[Nsw.Graph]] =
    entry(name).built.collect { case h: HnswBuilt => h.graphsSnapshot(maxNodes) }.flatten

  /** observed max effective ICM rounds of an LSQ index's encode — valid
    * once the coded layout has materialized (a search ran); None before
    * that or for non-LSQ indexes. The replay oracle unrolls exactly this
    * many rounds instead of the [[Lsq.IcmRounds]] worst case (rounds
    * past a vector's fixpoint are idempotent re-picks, so the shorter
    * unroll is hash-identical by construction). */
  def observedLsqRoundsOf(name: String): Option[Int] =
    lsqRoundsReaderOf(name).flatMap(_.apply())

  /** a rounds reader bound to the CURRENT build's accumulator (ADVICE
    * r13 — the AnnJoin.lastTrainedCentroids interleaving shape): the
    * gate captures this right after its search, so the oracle's
    * observed-rounds lookup reads the SAME build whose codebooks it
    * injected even if the name is destroyed/rebuilt in between. The
    * read stays lazy (the accumulator fills when the coded layout
    * materializes), only the binding is pinned at gate time. */
  def lsqRoundsReaderOf(name: String): Option[() => Option[Int]] =
    entry(name).built.collect { case c: CodedBuilt => c.codec.roundsReader }.flatten

  /** catalog introspection: metadata of every registered index */
  def list(): Seq[IndexMeta] =
    entries.values().asScala.map(_.meta).toSeq.sortBy(_.name)

  def meta(name: String): IndexMeta = entry(name).meta

  private def entry(name: String): Entry = {
    val e = entries.get(name)
    if (e == null) throw new NoSuchElementException(s"no index named '$name'")
    e
  }

  /**
   * Add vectors. One column -> auto ids (dense, insertion order across
   * batches, like FAISS without IDMap); two columns -> (id, vec).
   * Invalidates any built state (FAISS retrains on add unless manually
   * trained; we rebuild lazily).
   */
  /** FAISS asserts d == index->d on ADD as well as search; mirror it
    * with the same codegen'd per-row guard (fires on first
    * materialization — this is a lazy engine — with a clear message
    * instead of a garbage assignment or an executor-side dim error
    * deep inside a later search). Null vectors are rejected like FAISS
    * (an index stores dense vectors only). */
  private def guardAddDim(v: Column, dim: Int, name: String): Column =
    when(
      assert_true(v.isNotNull && size(v) === dim,
        lit(s"vector dimension mismatch on add: index '$name' has dim $dim")).isNull,
      v)

  def add(df: DataFrame, name: String): Unit = {
    val e = entry(name)
    e.synchronized {
    if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
    val normalized = df.schema.fields.length match {
      case 1 =>
        // dense sequential auto-ids across batches (FAISS semantics):
        // zipWithIndex is the only collision-free distributed numbering —
        // monotonically_increasing_id spans would overlap between batches
        val vcol = df.columns(0)
        val start = e.nextAutoId
        val spark = df.sparkSession
        // cache the INPUT before zipWithIndex: zipWithIndex runs its
        // partition-size job on the parent, and the numbering map runs in
        // a second job — on a nondeterministic source those two
        // evaluations could disagree (shifted/duplicate ids) unless both
        // read the same materialized data
        val vecDf = df.select(
          guardAddDim(vec.vector(col(vcol)), e.meta.dim, e.meta.name).as("vec")).cache()
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType, nullable = false),
          vecDf.schema.fields(0).copy(name = "vec")))
        val out = spark.createDataFrame(
          vecDf.rdd.zipWithIndex.map { case (row, i) =>
            org.apache.spark.sql.Row(start + i, row.get(0))
          }, schema).cache()
        e.cachedBatches += out // released on destroy()
        e.nextAutoId = start + out.count() // materializes out's cache
        vecDf.unpersist(blocking = false) // out is self-contained now
        out
      case _ =>
        if (!e.idMap)
          throw new IllegalArgumentException(
            "Unable to add data: this index does not support adding with IDs. " +
              "Prefix the factory string with IDMap when creating the index.")
        df.select(
          col(df.columns(0)).cast("long").as("label"),
          guardAddDim(vec.vector(col(df.columns(1))), e.meta.dim, e.meta.name).as("vec"))
    }
    e.pending = Some(e.pending.map(_.unionByName(normalized)).getOrElse(normalized))
    // a built top-level IVF with pinned centroids extends INCREMENTALLY:
    // only the new batch is assigned (O(batch) per micro-batch — the
    // real-time ingest path). Coded indexes (PQ/SQ, flat or graph
    // coarse) extend the same way: codebooks/bounds/centroids are
    // pinned in the Entry by the first build, so encoding + assigning
    // just the batch is identical to a rebuild. Other kinds (graphs,
    // LSH buckets) rebuild lazily.
    e.built = e.built match {
      case Some(ivf: IvfBuilt) if ivf.centroids.nonEmpty =>
        Some(ivf.appended(normalized))
      case Some(c: CodedBuilt) => Some(c.appended(normalized, e.pending.get))
      case other =>
        other.foreach(_.close())
        None
    }
    }
  }

  /** whether the index currently holds usable built state (exposed so
    * callers/specs can observe that an add extended it incrementally
    * instead of invalidating it); locked like every built access */
  def isBuilt(name: String): Boolean = {
    val e = entry(name)
    e.synchronized(e.built.isDefined)
  }

  /**
   * FAISS-style index diagnostics (InvertedLists::imbalance_factor):
   * one row of (ntotal, nlist, imbalance_factor) for the BUILT index.
   * imbalance = nlist · Σ sz² / (Σ sz)² over the coarse lists — 1.0 is
   * perfectly balanced, nlist is everything-in-one-list; probing a hot
   * list costs imbalance× the balanced estimate, so this is the skew
   * check to run before trusting nprobe latency at scale. One tiny
   * aggregation over the built layout (the list-size rollup shuffles
   * nlist rows per partition). Non-IVF kinds report one flat "list".
   */
  def stats(name: String): DataFrame = {
    // unwrap pretransform wrappers: PCA/OPQ indexes must report their
    // INNER coarse structure, not a flat single list
    @scala.annotation.tailrec
    def unwrap(b: BuiltIndex): BuiltIndex = b match {
      case pca: PcaBuilt => unwrap(pca.inner)
      case other => other
    }
    val b = unwrap(build(name))
    // list -1 parks all-NaN vectors that no probe can ever reach — it is
    // not an inverted list, so it joins neither ntotal nor the skew sum
    // (matches FAISS imbalance_factor over the probe-able lists)
    val listSizes = (b match {
      case _: IvfBuilt | _: CodedBuilt => b.data.where(col("list_id") >= 0)
      case other => other.data.select(lit(0).as("list_id"), col("label"))
    }).groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    val nlist = b match {
      case ivf: IvfBuilt => math.max(ivf.centroids.length, 1)
      case c: CodedBuilt => c.centroids.map(_.length).getOrElse(1)
      case _ => 1
    }
    // square in DOUBLE: long*long overflows past ~3e9 rows — exactly the
    // corpus size this diagnostic is for
    listSizes.agg(
      sum(col("sz")).as("ntotal"),
      lit(nlist).as("nlist"),
      (lit(nlist) * sum(col("sz").cast("double") * col("sz").cast("double")) /
        (sum(col("sz")).cast("double") * sum(col("sz")).cast("double")))
        .as("imbalance_factor"))
  }

  /**
   * Collapse an incrementally-extended IVF back to one materialized,
   * list-co-partitioned cache — the maintenance step a long-running
   * ingest stream schedules between micro-batches: appended batches
   * stack union lineage and recompute their assignment per search, so
   * periodically folding them restores bounded plan depth and per-list
   * locality. Also re-points `pending` at the folded rows, so the
   * pending union tree (one node per add) cannot grow without bound
   * across a long ingest stream. Results are unchanged (same rows, same
   * assignment). A no-op when there is nothing to fold — in particular
   * on a freshly loaded index, whose scan must STAY file-backed so the
   * probed-list filter keeps pruning partitions on disk.
   */
  def compact(name: String): Unit = {
    val e = entry(name)
    e.synchronized {
      if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
      // (folded index, its canonical (label, vec) rows)
      val folded: Option[(BuiltIndex, DataFrame)] = e.built match {
        case Some(ivf: IvfBuilt) if ivf.hasAppends =>
          // eager localCheckpoint, not cache(): the fold must CUT lineage
          // so the per-add caches below can be released — a cache() could
          // be evicted and recompute through the (then-unpersisted)
          // zipWithIndex auto-id batches, destabilizing ids. Same
          // durability tradeoff the ingest path already accepts.
          val rows = ivf.data.repartition(col("list_id")).localCheckpoint(true)
          Some((new IvfBuilt(
            rows, ivf.meta, ivf.centroids, VectorMath.metricId(e.meta.metric),
            coarseGraph = ivf.coarseGraph, imiBooks = ivf.imiBooks), rows))
        case Some(c: CodedBuilt) if c.hasAppends =>
          val f = c.compacted()
          Some((f, f.raw))
        case _ => None
      }
      folded.foreach { case (f, rows) =>
        // pending fed every appended row into the built union; after the
        // fold the canonical row set lives in `rows`, so pending can
        // drop its per-add union tree (and the caches behind it)
        e.pending = Some(rows.select(col("label"), col("vec")))
        e.cachedBatches.foreach(_.unpersist(blocking = false))
        e.cachedBatches.clear()
        e.built.foreach(_.close())
        e.built = Some(f)
      }
    }
  }

  /**
   * FAISS `IndexIVF::merge_from(other, add_id)` analog: move every
   * vector of `src` into `dst`, leaving `src` registered but EMPTY
   * (FAISS clears the source's inverted lists). This is the
   * shard-then-merge build path at scale — N workers each add their
   * slice to a private index, then the shards fold into one serving
   * index without ever re-reading the corpus. `dst` keeps its own
   * trained state; a built IVF with pinned centroids extends
   * INCREMENTALLY (only src's rows are assigned — O(src), never a
   * corpus rebuild), any other built kind rebuilds lazily.
   *
   * `addId` shifts src's labels on the way over (FAISS's add_id):
   * pass dst's current size when folding auto-id shards so labels stay
   * collision-free; 0 preserves labels (IDMap semantics). Merge is an
   * index-to-index operation, so it bypasses the user-facing IDMap add
   * gate exactly like merge_from does.
   */
  def merge(dstName: String, srcName: String, addId: Long = 0L): Unit = {
    if (dstName == srcName)
      throw new IllegalArgumentException(s"cannot merge index '$dstName' into itself")
    val dst = entry(dstName)
    val src = entry(srcName)
    if (dst.meta.dim != src.meta.dim)
      throw new IllegalArgumentException(
        s"merge dim mismatch: '$dstName' has dim ${dst.meta.dim}, '$srcName' has dim ${src.meta.dim}")
    if (dst.meta.metric != src.meta.metric)
      throw new IllegalArgumentException(
        s"merge metric mismatch: '$dstName' is ${dst.meta.metric}, '$srcName' is ${src.meta.metric}")
    // snapshot + clear src under its lock, then fill dst under its own —
    // sequential (never nested) locks, so two concurrent merges cannot
    // deadlock. Cache ownership MOVES with the rows: src's auto-id
    // batches must stay pinned (an unpersist-then-recompute through
    // zipWithIndex could renumber them), so destroy(src) must not
    // release them once dst's lineage depends on them.
    val (moved, movedCaches) = src.synchronized {
      if (src.destroyed) throw new NoSuchElementException(s"no index named '$srcName'")
      val rows = src.pending
      val caches = src.cachedBatches.toList
      src.pending = None
      src.cachedBatches.clear()
      src.built.foreach(_.close())
      src.built = None
      (rows, caches)
    }
    dst.synchronized {
      if (dst.destroyed) throw new NoSuchElementException(s"no index named '$dstName'")
      dst.cachedBatches ++= movedCaches
      moved.foreach { rows =>
        val shifted =
          if (addId == 0L) rows
          else rows.select((col("label") + lit(addId)).as("label"), col("vec"))
        dst.pending = Some(dst.pending.map(_.unionByName(shifted)).getOrElse(shifted))
        dst.built = dst.built match {
          case Some(ivf: IvfBuilt) if ivf.centroids.nonEmpty =>
            Some(ivf.appended(shifted))
          case other =>
            other.foreach(_.close())
            None
        }
        // keep auto-id numbering collision-free after the fold: the next
        // add must start past every merged label (one bounded scalar agg
        // over the moved rows — catalog metadata, not a query path)
        if (!dst.idMap) {
          val mx = shifted.agg(max(col("label"))).head()
          if (!mx.isNullAt(0))
            dst.nextAutoId = math.max(dst.nextAutoId, mx.getLong(0) + 1L)
        }
      }
    }
  }

  /** train now on a sample (IVF: KMeans centroids; PQ: codebooks +
    * coarse centroids); later adds don't retrain. Invalidates any built
    * state so retraining after a search takes effect on the next one. */
  def manualTrain(sample: DataFrame, name: String): Unit = {
    val e = entry(name)
    e.synchronized {
    if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
    val seed = IndexCatalog.seedOf(e.meta.params)
    e.kind match {
      case IvfKind(_) | IvfHnswKind(_, _) =>
        val nlist = e.kind match {
          case IvfKind(n) => n
          case IvfHnswKind(n, _) => n
          case _ => 0
        }
        val n = if (nlist > 0) nlist else math.max(4, math.sqrt(sample.count().toDouble).toInt)
        val vcol = sample.columns.last
        val cents = KMeansTrainer.train(sample.select(vec.vector(col(vcol)).as("vec")), n,
          seed, e.meta.params.get("maxIter").map(_.toInt).getOrElse(10))
        // an empty sample trains nothing — leave untrained so build()
        // auto-trains from the real data (Some(empty) would block it)
        e.trained = if (cents.isEmpty) None else Some(cents)
      case k @ (CodedKind(_, _, _) | ImiKind(_)) =>
        trainPointsKind(e, k, samplePoints(sample), seed)
      case PcaKind(outDim, inner) =>
        // train the transform, then train the inner kind in the
        // PROJECTED space (that's where it will see data and queries).
        // An empty sample is a no-op, like every other kind.
        val pts = samplePoints(sample)
        if (pts.nonEmpty) {
          val (mean, comps) = Pca.train(pts, outDim)
          e.trainedPca = Some((mean, comps))
          trainPointsKind(e, inner, pts.map(Pca.projectArr(_, mean, comps)), seed)
        }
      case OpqKind(m, inner) =>
        // same wrapper shape as PCA: the rotation lands in trainedPca
        // (mean = 0) so projection + persistence reuse the PCA path
        val pts = samplePoints(sample)
        if (pts.nonEmpty) {
          val comps = Opq.train(pts, m, seed = seed)
          val zero = new Array[Float](pts(0).length)
          e.trainedPca = Some((zero, comps))
          trainPointsKind(e, inner, pts.map(Pca.projectArr(_, zero, comps)), seed)
        }
      case _ => // Flat/LSH/HNSW need no training
    }
    e.built.foreach(_.close())
    e.built = None
    }
  }

  /** inject coarse centroids DIRECTLY (the FAISS shape of constructing
    * IndexIVFFlat around an explicit, already-trained quantizer): no
    * k-means pass — the given vectors become the inverted-list
    * centroids verbatim, in the given order. Deterministically
    * replayable assignment, which is what makes vs_index_stats an
    * EXACT gate. Later adds assign against these pinned centroids. */
  def manualTrainCentroids(cents: Array[Array[Float]], name: String): Unit = {
    val e = entry(name)
    e.synchronized {
      if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
      e.kind match {
        case IvfKind(_) | IvfHnswKind(_, _) => ()
        case other => throw new UnsupportedOperationException(
          s"manualTrainCentroids applies to IVF kinds, got $other")
      }
      e.trained = if (cents.isEmpty) None else Some(cents.map(_.clone()))
      e.built.foreach(_.close())
      e.built = None
    }
  }

  private def samplePoints(sample: DataFrame): Array[Array[Float]] = {
    val vcol = sample.columns.last
    sample.select(vec.vector(col(vcol)).as("vec")).limit(50000)
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /** driver-side training for kinds whose sample is already collected
    * (also the inner-kind path of a PCA pretransform). An empty sample
    * leaves the kind untrained — build() auto-trains from real data. */
  private def trainPointsKind(e: Entry, kind: Kind, pts: Array[Array[Float]], seed: Long): Unit =
    if (pts.isEmpty) () else kind match {
      case IvfKind(nlist) =>
        val n0 = if (nlist > 0) nlist else math.max(4, math.sqrt(pts.length.toDouble).toInt)
        e.trained = Some(Pq.localKMeans(pts, math.min(n0, math.max(1, pts.length)), seed,
          e.meta.params.get("maxIter").map(_.toInt).getOrElse(10)))
      case IvfHnswKind(nlist, _) =>
        trainPointsKind(e, IvfKind(nlist), pts, seed) // same centroids; graph derives at build
      case ImiKind(nbits) =>
        e.imiBooks = Some(Imi.train(pts, 1 << nbits, seed,
          e.meta.params.get("maxIter").map(_.toInt).getOrElse(10)))
      case CodedKind(spec, nlist, _) =>
        // codec before coarse k-means: the reverse order measured ~20%
        // slower cold-JVM IVF-PQ builds
        val codec = spec.train(pts, seed)
        val cents =
          if (nlist > 1) Some(Pq.localKMeans(pts, math.min(nlist, pts.length), seed + 999, 10))
          else None
        e.trainedCodec = Some((codec, cents))
      case PcaKind(_, _) | OpqKind(_, _) =>
        throw new IllegalArgumentException("nested pretransforms are not supported")
      case _ => // Flat/LSH/HNSW need no training
    }

  /** materialize: train if needed, assign, cache. Locks only THIS
    * entry — a long auto-train on one index no longer blocks searches
    * on unrelated built indexes (the reference's per-entry faiss_lock
    * granularity, faiss_extension.cpp:394). */
  def build(name: String): BuiltIndex = {
    val e = entry(name)
    e.synchronized {
      if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
      e.built.getOrElse {
        val data = e.pending.getOrElse(
          throw new IllegalStateException(s"index '$name' has no vectors; call add first"))
        val metricId = VectorMath.metricId(e.meta.metric)
        val built: BuiltIndex = buildKind(e, e.kind, data, metricId)
        e.built = Some(built)
        built
      }
    }
  }

  private def seed(e: Entry): Long =
    IndexCatalog.seedOf(e.meta.params)

  /** bounded driver-side sample for auto-training coarse quantizers */
  private def boundedSample(data: DataFrame): Array[Array[Float]] =
    data.select(col("vec")).limit(16384).collect().map(_.getSeq[Float](0).toArray)

  /** coarse quantizers probe by L2 for every metric except IP (the
    * FAISS convention NearestCentroids.distTo mirrors); shared with
    * AnnJoin's graph-coarse assignment */
  private[graft] def coarseMetricId(metricId: Int): Int =
    if (metricId == VectorMath.IP) VectorMath.IP else VectorMath.L2SQ

  /** beam width for graph-coarse assignment/probing (shared by IvfBuilt
    * and the coded layouts) */
  private def coarseEfOf(meta: IndexMeta): Int =
    meta.params.get("coarseEfSearch").map(_.toInt).getOrElse(64)

  /** driver-built HNSW over the (bounded) centroid table — deterministic
    * in (centroids, m, efConstruction) via Nsw's label-hash levels, so
    * save/load CAN rebuild the identical graph from the saved centroids.
    * Rebuild at nlist=65k costs ~59 s driver-side (tools/CoarseProfile,
    * SURVEY §21.8) — paid per loading driver — so save() persists the
    * adjacency and load() restores it here when the build-input key
    * matches (the graph is a pure function of those inputs, making the
    * persisted copy a cache with a trivial invariant). */
  private def coarseGraph(
      e: Entry, centroids: Array[Array[Float]], m: Int, metricId: Int): Nsw.Graph = {
    val efc = e.meta.params.get("coarseEfConstruction").map(_.toInt).getOrElse(64)
    val met = coarseMetricId(metricId)
    val key = coarseGraphKey(centroids, m, efc, met)
    e.loadedCoarseGraph match {
      case Some((k, g)) if k == key => g
      case _ =>
        Nsw.build(centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }, m, efc, met)
    }
  }

  /** hash of the exact coarse-graph build inputs (raw centroid float
    * bits + m + efConstruction + coarse metric): Nsw.build is
    * deterministic in these, so key equality ⇒ the persisted graph is
    * bit-identical to what a rebuild would produce */
  private def coarseGraphKey(
      centroids: Array[Array[Float]], m: Int, efc: Int, coarseMet: Int): Long = {
    var h = 1125899906842597L
    h = h * 31 + m; h = h * 31 + efc; h = h * 31 + coarseMet
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      var i = 0
      while (i < c.length) { h = h * 31 + java.lang.Float.floatToRawIntBits(c(i)); i += 1 }
      h = h * 31 + c.length
      ci += 1
    }
    h
  }

  private def buildKind(e: Entry, kind: Kind, data: DataFrame, metricId: Int): BuiltIndex =
    kind match {
      case FlatKind => new FlatBuilt(cachedLayout(Knn.widen(data)), e.meta) // widen once, before the cache
      case LshKind(bits) => LshBuilt.build(data, e.meta, bits)
      case k @ CodedKind(_, _, cm) =>
        // auto-train through the Entry (mirrors the IVF path) so save()
        // persists the trained state and load() never retrains from a
        // partition-order-dependent sample
        if (e.trainedCodec.isEmpty) trainPointsKind(e, k, boundedSample(data), seed(e))
        val (trained, cents) = e.trainedCodec.getOrElse(
          throw new IllegalArgumentException("cannot train a coded index's quantizer on an empty index"))
        val codec = trained.forBuild(data.sparkSession.sparkContext, e.meta.name)
        // graph coarse (IVF<n>_HNSW<m>,<codec>): a deterministic function
        // of the trained coarse centroids, exactly as for IVF_HNSW,Flat
        val g = if (cm > 0) cents.filter(_.length > 1)
          .map(cs => coarseGraph(e, cs, cm, metricId)) else None
        new CodedBuilt(cachedLayout(codedLayout(data, codec, cents, g, coarseEfOf(e.meta))),
          data, e.meta, codec, cents, g)
      case HnswKind(m) => HnswBuilt.build(data, e.meta, m)
      case IvfKind(nlist) =>
        val centroids = e.trained.getOrElse {
          // auto-train like FAISS: a bounded sample is plenty for a
          // coarse quantizer; don't run Lloyd's over the full corpus.
          // `data` is already in the index's working space (projected
          // when nested under a PCA pretransform), so train directly.
          trainPointsKind(e, IvfKind(nlist), boundedSample(data), seed(e))
          // empty data -> zero centroids -> searches return empty,
          // matching the pre-refactor KMeansTrainer behavior
          e.trained.getOrElse(Array.empty)
        }
        IvfBuilt.build(data, e.meta, centroids, metricId)
      case IvfHnswKind(nlist, m) =>
        val centroids = e.trained.getOrElse {
          trainPointsKind(e, IvfHnswKind(nlist, m), boundedSample(data), seed(e))
          e.trained.getOrElse(Array.empty)
        }
        IvfBuilt.build(data, e.meta, centroids, metricId,
          Some(coarseGraph(e, centroids, m, metricId)))
      case k @ ImiKind(_) =>
        if (e.imiBooks.isEmpty) trainPointsKind(e, k, boundedSample(data), seed(e))
        val books = e.imiBooks.getOrElse(
          throw new IllegalStateException("cannot train an IMI quantizer on an empty index"))
        // the product table is the IVF-compatible coarse view (save
        // layout, stats, merge); assignment and probing use the books
        IvfBuilt.build(data, e.meta, Imi.productCentroids(books), metricId,
          imiBooks = Some(books))
      case PcaKind(outDim, inner) =>
        val (mean, comps) = e.trainedPca.getOrElse {
          val pts = boundedSample(data)
          if (pts.isEmpty)
            throw new IllegalStateException(
              "cannot auto-train a PCA pretransform on an empty index")
          val trained = Pca.train(pts, outDim)
          e.trainedPca = Some(trained)
          // inner quantizers must also train in the projected space
          trainPointsKind(e, inner, pts.map(Pca.projectArr(_, trained._1, trained._2)), seed(e))
          trained
        }
        val proj = GraftBridge.column(
          PcaProject(GraftBridge.expression(col("vec")), mean, comps))
        val projected = data.select(col("label"), proj.as("vec"))
        new PcaBuilt(buildKind(e, inner, projected, metricId), mean, comps)
      case OpqKind(m, inner) =>
        val (mean, comps) = e.trainedPca.getOrElse {
          val pts = boundedSample(data)
          if (pts.isEmpty)
            throw new IllegalStateException(
              "cannot auto-train an OPQ pretransform on an empty index")
          require(pts(0).length == e.meta.dim,
            s"OPQ$m expects dim ${e.meta.dim} vectors")
          val trained = (new Array[Float](e.meta.dim), Opq.train(pts, m, seed = seed(e)))
          e.trainedPca = Some(trained)
          // inner quantizers train in the ROTATED space
          trainPointsKind(e, inner, pts.map(Pca.projectArr(_, trained._1, trained._2)), seed(e))
          trained
        }
        val proj = GraftBridge.column(
          PcaProject(GraftBridge.expression(col("vec")), mean, comps))
        val rotated = data.select(col("label"), proj.as("vec"))
        new PcaBuilt(buildKind(e, inner, rotated, metricId), mean, comps)
    }

  /**
   * faiss_search twin: top-k per query row.
   * @param queries (qid bigint, qvec array<float>)
   * @return (qid, rank, label, distance)
   */
  /** the reference accepts recursive prefixed params ('ivf.efSearch',
    * cf. README faiss_create_params); our indexes are single-level, so
    * prefixes collapse onto the plain key. Plain keys win over prefixed
    * ones deterministically. Applied at create() (so build/train see
    * collapsed keys) and to caller-side search params. */
  private def normalizeParams(params: Map[String, String]): Map[String, String] = {
    val (plain, prefixed) = params.partition(!_._1.contains('.'))
    val collapsed = prefixed.toSeq.map { case (k, v) => k.substring(k.lastIndexOf('.') + 1) -> v }
    val conflicts = collapsed.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1).keys
    require(conflicts.isEmpty,
      s"conflicting prefixed params collapse onto: ${conflicts.mkString(",")}")
    collapsed.toMap ++ plain
  }

  /** FAISS errors when a query's dimensionality differs from the
    * index's (d == index->d assertion); mirror that with a codegen'd
    * per-row guard instead of silently computing garbage distances.
    * Null query rows stay allowed (they're skipped downstream). */
  private def guardDim(queries: DataFrame, dim: Int, name: String): DataFrame = {
    val qid = col(queries.columns(0))
    val qv = vec.vector(col(queries.columns(1)))
    queries.select(
      qid.as("qid"),
      when(
        assert_true(qv.isNull || size(qv) === dim,
          lit(s"query vector dimension mismatch: index '$name' has dim $dim")).isNull,
        qv).as("qvec"))
  }

  /** searches PLANNED since JVM start (not rows scanned) — lets specs
    * assert a SQL rewrite composed exactly one search (a duplicated
    * subtree can hide its second search in rewrite-time execution,
    * invisible to final-plan inspection) */
  val searchesPlanned = new java.util.concurrent.atomic.AtomicLong(0L)

  def search(
      name: String, k: Int, queries: DataFrame,
      params: Map[String, String] = Map.empty): DataFrame = {
    searchesPlanned.incrementAndGet()
    val e = entry(name)
    build(name).search(guardDim(queries, e.meta.dim, name), k,
      e.meta.params ++ normalizeParams(params))
  }

  /**
   * FAISS `range_search` twin: every neighbor within `radius` of each
   * query (metric-directional: < r where smaller is closer, > r for
   * IP). On IVF indexes only the probed lists are scanned; elsewhere
   * one restricted corpus pass. Output (qid, label, distance) — the
   * per-query hit count is data-dependent, exactly like the
   * reference's lims[] result shape flattened to rows.
   */
  def searchRadius(
      name: String, radius: Double, queries: DataFrame,
      params: Map[String, String] = Map.empty): DataFrame = {
    val e = entry(name)
    build(name).searchRadius(guardDim(queries, e.meta.dim, name), radius,
      e.meta.params ++ normalizeParams(params))
  }

  /**
   * faiss_search result-shape twin: one row per query carrying
   * LIST<STRUCT(rank, label, distance)> — the reference's return type
   * (README: `SELECT id, UNNEST(FAISS_SEARCH(...))`), so a user
   * porting such a query gets the same nesting to UNNEST/explode.
   */
  def searchNested(
      name: String, k: Int, queries: DataFrame,
      params: Map[String, String] = Map.empty): DataFrame = {
    val grouped = search(name, k, queries, params)
      .groupBy("qid")
      .agg(sort_array(collect_list(struct(col("rank"), col("label"), col("distance"))))
        .as("results"))
    // FAISS_SEARCH returns a list value for EVERY query row — a query
    // with zero candidates (empty index, empty probed lists, aggressive
    // filter) must yield an empty list, not vanish from the group-by
    val qids = queries
      .select(col(queries.columns(0)).cast("long").as("qid"))
      .where(col("qid").isNotNull).distinct()
    qids.join(grouped, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("results"),
          array().cast("array<struct<rank:int,label:bigint,distance:double>>"))
          .as("results"))
  }

  /**
   * faiss_search_filter twin: predicate over the indexed labels,
   * composed INSIDE the index structure (IVF/PQ/SQ keep list pruning,
   * LSH keeps bucket probing — reference faiss_extension.cpp:940-1000
   * applies its id-selector inside every index type). The predicate is
   * a Catalyst filter, so on Flat/graph indexes it is pushed down into
   * the (pruned) scan of the exact fallback.
   */
  def searchFilter(
      name: String, k: Int, queries: DataFrame, filter: Column,
      params: Map[String, String] = Map.empty): DataFrame = {
    val e = entry(name)
    build(name).searchRestricted(
      guardDim(queries, e.meta.dim, name), k,
      e.meta.params ++ normalizeParams(params), _.where(filter))
  }

  /**
   * faiss_search_filter_set twin: only the given label set participates.
   * The DataFrame set joins via LEFT SEMI (shuffle-safe for arbitrarily
   * large id sets — the scale-robust version of the reference's O(m)
   * hash set, faiss_extension.cpp search_filter_set), composed inside
   * the index structure like [[searchFilter]].
   */
  def searchFilterSet(
      name: String, k: Int, queries: DataFrame, ids: DataFrame,
      params: Map[String, String] = Map.empty): DataFrame = {
    val e = entry(name)
    val idSet = ids.select(col(ids.columns.head).cast("long").as("label"))
    build(name).searchRestricted(
      guardDim(queries, e.meta.dim, name), k,
      e.meta.params ++ normalizeParams(params),
      _.join(idSet, Seq("label"), "left_semi"))
  }

  /**
   * Cost-based filtered search — the pre- vs post-filter strategy
   * switch every production vector store makes around ANN + predicates:
   * measure the predicate's selectivity on the indexed corpus, then
   *  - NARROW slice (selectivity <= `adaptiveCutoff`, default 0.1):
   *    PRE-filter — an exact brute-force scan restricted to the
   *    matching rows. When few rows pass, scanning them exactly is both
   *    cheaper than probing and recall-proof (an ANN structure probed
   *    for a thin slice can come up empty).
   *  - WIDE predicate: POST-filter — index search with k boosted by
   *    2/selectivity, hits filtered, top k kept. The index does the
   *    pruning work; the over-fetch compensates for non-matching hits.
   * The strategy pick costs two column-pruned counts over the (cached)
   * built layout — the statistics a 100 TB catalog would serve from
   * table metadata instead of a scan. Output carries the chosen
   * strategy so callers/specs can observe the switch.
   */
  def searchFilterAdaptive(
      name: String, k: Int, queries: DataFrame, filter: Column,
      params: Map[String, String] = Map.empty): DataFrame = {
    val e = entry(name)
    val b = build(name)
    val merged = e.meta.params ++ normalizeParams(params)
    val cutoff = merged.get("adaptiveCutoff").map(_.toDouble).getOrElse(0.1)
    val total = math.max(b.flatData.count(), 1L)
    val matching = b.flatData.where(filter).count()
    val q = guardDim(queries, e.meta.dim, name)
    if (matching <= math.max(1L, (cutoff * total).toLong)) {
      Knn.searchFlat(b.flatData.where(filter), q, k, e.meta.metric,
          padToK = merged.get("pad").exists(_.toBoolean))
        .withColumn("strategy", lit("prefilter_scan"))
    } else {
      val sel = matching.toDouble / total
      val kBoost = math.min(total, math.ceil(2.0 * k / sel).toLong).toInt
      val allowed = b.flatData.where(filter).select("label")
      val metricId = VectorMath.metricId(e.meta.metric)
      val hits = b.search(q, kBoost, merged - "pad")
        .join(allowed, Seq("label"), "left_semi")
        .select(col("qid"), col("label"), col("distance").as("_dist"))
      Knn.rankResults(hits, k, ascending = VectorMath.smallerIsCloser(metricId),
          padToK = merged.get("pad").exists(_.toBoolean))
        .withColumn("strategy", lit("postfilter_index"))
    }
  }

  /**
   * FAISS `reconstruct`/`sa_decode` analog: the STORED approximation of
   * each requested label — raw vectors for Flat/IVF/graph/LSH, decoded
   * codes for SQ/PQ (exactly what their asymmetric distance loops score
   * against, so reconstruction error IS the search-time quantization
   * error). A LEFT SEMI id join against the built layout keeps list
   * pruning/partition layout; unknown labels simply don't appear, like
   * FAISS's reconstruct raising only on direct-map misses. Pretransform
   * wrappers (PCA/OPQ) fail loudly: their codes live in projected
   * space and a truncated transform has no inverse.
   */
  def reconstruct(name: String, ids: DataFrame): DataFrame = {
    val b = build(name)
    val idSet = ids.select(col(ids.columns.head).cast("long").as("label"))
    val rows = b.data.join(broadcast(idSet), Seq("label"), "left_semi")
    b match {
      case c: CodedBuilt =>
        rows.select(col("label"), GraftBridge.column(CodecDecode(
          GraftBridge.expression(col("code")), c.codec)).as("vec"))
      case _: PcaBuilt =>
        throw new UnsupportedOperationException(
          "reconstruct through a PCA/OPQ pretransform is not supported " +
            "(codes live in projected space; a truncated transform has no inverse)")
      case _ => rows.select(col("label"), col("vec"))
    }
  }

  def moveGpu(name: String, gpu: Int): Unit =
    throw new UnsupportedOperationException(
      "faiss_to_gpu has no Spark-CPU analog; executors are the parallel hardware here")

  // ---- persistence ----

  /**
   * Multi-writer-safe save: parts are written to a UNIQUE versioned
   * directory under `path` (`v<N>-<token>/…`), then published by
   * atomically creating the manifest entry `_manifest/<N>`
   * (FileSystem.create with overwrite=false — atomic on HDFS and
   * object stores with conditional create; best-effort on the local
   * FS). Two drivers racing a save of version N stage independently
   * and exactly ONE claims the manifest entry; the loser gets a loud
   * ConcurrentModificationException and its staging directory is
   * removed — no interleaved half-written layout is ever loadable,
   * because a version directory is complete BEFORE it is claimed and
   * readers resolve only claimed versions (highest wins). Old versions
   * are retained (a concurrent reader may still be scanning one);
   * prune with a retention sweep, not in the save path.
   */
  def save(name: String, path: String): Unit = {
    val e = entry(name)
    val b = build(name)
    val spark = b.data.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(hconf)
    // next version counts every CLAIMED entry, valid or not — a writer
    // that crashed between claiming `_manifest/<N>` and writing its
    // content burns version N (readers skip it), but the next save must
    // not try to re-claim it and spin on a phantom "race" forever
    val next = maxClaimedVersion(fs, base).getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"v$next-$token"
    val root = s"$path/$dirName"
    saveParts(e, b, spark, root)
    saveRaceHook(path) // test seam: lets a spec commit a competing version in the race window
    // atomic claim of version `next`: create(overwrite = false) — the
    // losing writer throws loudly and cleans up its complete-but-
    // unclaimed staging directory. Only a genuine already-exists loss
    // becomes ConcurrentModificationException; any other IO failure
    // (permissions, quota, transient) is rethrown as itself.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_manifest"))
    val entryPath = new org.apache.hadoop.fs.Path(s"$path/_manifest/$next")
    val out =
      try fs.create(entryPath, false)
      catch {
        case ex: java.io.IOException
            if ex.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
              ex.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
              fs.exists(entryPath) =>
          try fs.delete(new org.apache.hadoop.fs.Path(root), true)
          catch { case _: java.io.IOException => () }
          val cme = new java.util.ConcurrentModificationException(
            s"index save to '$path' lost the version-$next race to another writer " +
              s"(manifest entry already exists); this save was discarded — reload and retry",
            )
          cme.initCause(ex)
          throw cme
      }
    try out.write(dirName.getBytes("UTF-8")) finally out.close()
  }

  /** test seam for the save race window (between staging and the
    * manifest claim): a spec swaps in a competing writer's commit to
    * deterministically exercise the loser path. No-op in production. */
  @volatile private[index] var saveRaceHook: String => Unit = _ => ()

  /** highest claimed version number under `path`'s manifest, valid or
    * not — save's version allocator (readers use currentVersion, which
    * validates) */
  private def maxClaimedVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Option[Long] = {
    val mdir = new org.apache.hadoop.fs.Path(base, "_manifest")
    if (!fs.exists(mdir)) return None
    val vs = fs.listStatus(mdir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** (version, partsDirName) of the newest VALID claimed save under
    * `path`, if any — versioned layouts only. An entry is valid when
    * its content names a non-empty parts dir whose `meta` exists: a
    * writer that crashed between the manifest claim and the content
    * write leaves an empty entry, and resolving it would read
    * '`path`//meta' (or, worse, silently fall back to a stale
    * pre-manifest flat layout). Invalid entries are skipped and the
    * next-lower version wins.
    */
  private def currentVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Option[(Long, String)] = {
    val mdir = new org.apache.hadoop.fs.Path(base, "_manifest")
    if (!fs.exists(mdir)) return None
    val entries = fs.listStatus(mdir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption.map(v => (v, st.getPath)))
      .sortBy(-_._1)
    entries.iterator.flatMap { case (v, p) =>
      val dir = scala.util.Try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
      }.getOrElse("")
      if (dir.nonEmpty && fs.exists(new org.apache.hadoop.fs.Path(base, s"$dir/meta")))
        Some((v, dir))
      else None
    }.nextOption()
  }

  private def saveParts(
      e: Entry, b: BuiltIndex, spark: SparkSession, path: String): Unit = {
    b match {
      case ivf: IvfBuilt =>
        ivf.data.write.mode("overwrite").option("compression", "zstd").partitionBy("list_id").parquet(s"$path/data")
        writeCentroids(spark, ivf.centroids, s"$path/centroids")
      case lsh: LshBuilt =>
        // undo the per-band row duplication; distinct on (label, vec)
        // keeps genuinely different vectors that share a label
        lsh.data.select(col("label"), col("vec")).dropDuplicates("label", "vec")
          .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/data")
      case pca: PcaBuilt =>
        // inner data is in projected space; persist the ORIGINAL rows —
        // the transform re-applies deterministically on load
        e.pending.get.select(col("label"), vec.vector(col("vec")).as("vec"))
          .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/data")
      case c: CodedBuilt =>
        // coded layouts hold codes only; the canonical (label, vec)
        // rows rebuild deterministically on load from the base plan
        c.vecData.write.mode("overwrite").option("compression", "zstd").parquet(s"$path/data")
      case other =>
        // canonical (label, vec) layout rebuilds deterministically on load
        other.data.select(col("label"), col("vec"))
          .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/data")
    }
    import spark.implicits._
    // persist the coarse HNSW graph (round 11, VERDICT #4): rebuilt-on-
    // load cost ~59 s driver-side at nlist=65k, per loading driver. The
    // graph is persisted WITH the hash of its build inputs; load
    // restores it only on key match, else rebuilds — so a hand-edited
    // centroids layout can never pair with a stale adjacency.
    val coarseToSave: Option[(Array[Array[Float]], Int, Nsw.Graph)] = b match {
      case ivf: IvfBuilt =>
        (e.kind, ivf.coarseGraph) match {
          case (IvfHnswKind(_, m), Some(g)) => Some((ivf.centroids, m, g))
          case _ => None
        }
      case c: CodedBuilt =>
        (e.kind, c.coarseGraph, c.centroids) match {
          case (CodedKind(_, _, cm), Some(g), Some(cs)) if cm > 0 => Some((cs, cm, g))
          case _ => None
        }
      case _ => None
    }
    coarseToSave.foreach { case (cents, cm, g) =>
      val efc = e.meta.params.get("coarseEfConstruction").map(_.toInt).getOrElse(64)
      val met = coarseMetricId(VectorMath.metricId(e.meta.metric))
      val key = coarseGraphKey(cents, cm, efc, met)
      g.labels.indices.map { i =>
        (i, g.labels(i), g.vecs(i).toSeq, g.levels(i),
          g.adj(i).map(_.toSeq).toSeq, g.dups(i).toSeq)
      }.toDF("node_id", "label", "vec", "level", "adj", "dups")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse_graph")
      Seq((key, g.entry, g.maxLevel)).toDF("key", "entry", "max_level")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse_graph_meta")
    }
    (unwrapped(e.kind), e.trainedCodec) match {
      case (CodedKind(spec, _, _), Some((codec, coarse))) =>
        codec.persist(spark, path)
        coarse.foreach(writeCentroids(spark, _, s"$path/${spec.coarseDir}"))
      case _ =>
    }
    e.imiBooks.foreach(Codec.writeBooks(spark, _, s"$path/pq_codebooks")) // IMI shares PQ's book layout
    // persist the PCA transform and, when the built wrapper hides an
    // inner IVF, its projected-space centroids (the IvfBuilt save case
    // only fires for a top-level IVF)
    e.trainedPca.foreach { case (mean, comps) =>
      (Seq((-1, mean.toSeq)) ++ comps.zipWithIndex.map { case (c, j) => (j, c.toSeq) })
        .toDF("row_idx", "vals")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/pca")
      e.trained.foreach(writeCentroids(spark, _, s"$path/pca_ivf_centroids"))
    }
    // URL-encode keys/values: a raw ';' or '=' inside a param value
    // would corrupt (or crash) the k=v;k=v parse on load
    def esc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    Seq((e.meta.name, e.meta.dim, e.meta.factory, e.meta.metric,
        e.meta.params.map { case (k, v) => s"${esc(k)}=${esc(v)}" }.mkString(";"), e.nextAutoId))
      .toDF("name", "dim", "factory", "metric", "params", "next_auto_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** object-store-safe existence check: java.io.File would always say
    * "missing" for hdfs:// or s3:// paths and silently drop trained
    * codebooks on load */
  private[index] def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** a centroid table (centroid_id, centroid) — the IVF, PCA-inner-IVF
    * and coded-coarse layouts */
  private def writeCentroids(
      spark: SparkSession, cents: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(path).collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)

  private def readCentroidsIfExists(
      spark: SparkSession, path: String): Option[Array[Array[Float]]] =
    Option.when(pathExists(spark, path))(readCentroids(spark, path))

  def load(name: String, savePath: String, spark: SparkSession): Unit = {
    val base = new org.apache.hadoop.fs.Path(savePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // versioned layout (round 10): resolve the newest CLAIMED version's
    // parts directory; pre-manifest flat layouts load unchanged
    val path = currentVersion(fs, base)
      .map { case (_, d) => s"$savePath/$d" }.getOrElse(savePath)
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    def unesc(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
    val params = m.getString(4).split(";").filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); unesc(k) -> unesc(v) }.toMap
    create(name, m.getInt(1), m.getString(2), m.getString(3), params)
    val e = entry(name)
    // restore the persisted coarse graph (key-validated in coarseGraph;
    // absent/mismatching layouts rebuild deterministically)
    if (pathExists(spark, s"$path/coarse_graph_meta")) {
      val gm = spark.read.parquet(s"$path/coarse_graph_meta").collect()(0)
      val rows = spark.read.parquet(s"$path/coarse_graph").collect().sortBy(_.getInt(0))
      val g = Nsw.Graph(
        labels = rows.map(_.getLong(1)),
        vecs = rows.map(_.getSeq[Float](2).toArray),
        levels = rows.map(_.getInt(3)),
        adj = rows.map(_.getSeq[scala.collection.Seq[Int]](4).map(_.toArray).toArray),
        entry = gm.getInt(1),
        maxLevel = gm.getInt(2),
        dups = rows.map(_.getSeq[Long](5).toArray))
      e.loadedCoarseGraph = Some((gm.getLong(0), g))
    }
    e.kind match {
      case IvfKind(_) | IvfHnswKind(_, _) | ImiKind(_) =>
        val data = spark.read.parquet(s"$path/data")
        e.pending = Some(data.select(col("label"), col("vec")))
        val cents = readCentroids(spark, s"$path/centroids")
        e.trained = Some(cents)
        // the coarse graph is a deterministic function of the saved
        // centroids (label-hash levels, no RNG) — restored from the
        // persisted layout via loadedCoarseGraph when the key matches,
        // rebuilt otherwise
        val graph = e.kind match {
          case IvfHnswKind(_, m) =>
            Some(coarseGraph(e, cents, m, VectorMath.metricId(e.meta.metric)))
          case _ => None
        }
        // IMI: restore the half books (pq_codebooks parquet) so
        // assignment/probing keep the 2·K product path
        if (e.kind.isInstanceOf[ImiKind])
          e.imiBooks = Some(Codec.readBooks(spark, s"$path/pq_codebooks"))
        // rebuild from the partitioned layout without re-assigning.
        // NOT cached: the scan must stay file-backed so the static
        // probed-list filter prunes partitions on disk (a cache would
        // materialize every list on first search)
        e.built = Some(new IvfBuilt(
          data.select(col("list_id"), col("label"), col("vec")),
          e.meta, cents, VectorMath.metricId(e.meta.metric), coarseGraph = graph,
          imiBooks = e.imiBooks))
      case _ =>
        e.pending = Some(spark.read.parquet(s"$path/data").select(col("label"), col("vec")))
        unwrapped(e.kind) match {
          case CodedKind(spec, _, _) =>
            e.trainedCodec = spec.restore(spark, path)
              .map((_, readCentroidsIfExists(spark, s"$path/${spec.coarseDir}")))
          case ImiKind(_) => // a pretransform-wrapped IMI keeps its half books
            e.imiBooks = CodecSpec.restoreBooks(spark, path)
          case _ =>
        }
        if (pathExists(spark, s"$path/pca")) {
          val rows = spark.read.parquet(s"$path/pca").collect().sortBy(_.getInt(0))
          val mean = rows.find(_.getInt(0) == -1).get.getSeq[Float](1).toArray
          val comps = rows.filter(_.getInt(0) >= 0).sortBy(_.getInt(0))
            .map(_.getSeq[Float](1).toArray)
          e.trainedPca = Some((mean, comps))
          e.trained = readCentroidsIfExists(spark, s"$path/pca_ivf_centroids")
        }
    }
    // restore the auto-id watermark persisted at save() time (the FAISS
    // ntotal analog) — later 1-column adds must not reuse saved labels;
    // pre-watermark saves fall back to a max(label) scan
    e.nextAutoId =
      if (m.schema.fieldNames.contains("next_auto_id")) m.getLong(m.fieldIndex("next_auto_id"))
      else e.pending.map(_.agg(max(col("label"))).collect()(0))
        .collect { case r if !r.isNullAt(0) => r.getLong(0) + 1 }
        .getOrElse(0L)
  }

  // ---- index implementations ----

  /** PCA pretransform wrapper: projects queries, delegates to the
    * inner index (whose data/state live entirely in projected space) */
  final class PcaBuilt(
      val inner: BuiltIndex, mean: Array[Float], comps: Array[Array[Float]])
      extends BuiltIndex {
    def data: DataFrame = inner.data
    def meta: IndexMeta = inner.meta

    private[index] def projectQueries(queries: DataFrame): DataFrame = {
      val proj = GraftBridge.column(
        PcaProject(GraftBridge.expression(vec.vector(col("qvec"))), mean, comps))
      queries.select(col("qid"), proj.as("qvec"))
    }

    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame =
      inner.search(projectQueries(queries), k, params)

    override def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      inner.searchRestricted(projectQueries(queries), k, params, restrict)

    // radius applies in the PROJECTED space. A full-rank orthonormal
    // transform (rotation / full PCA) is an isometry, so distances and
    // the radius predicate are exact; under a TRUNCATED transform the
    // projected distance only lower-bounds the true one — hits would be
    // invented and the emitted distance would silently be the projected
    // value, so that case fails loudly instead of returning wrong rows
    override def searchRadius(
        queries: DataFrame, radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      if (comps.length < mean.length)
        throw new UnsupportedOperationException(
          s"range search through a truncated ${comps.length}-of-${mean.length}-dim " +
            "pretransform would return projected-space distances; use k-NN search " +
            "or a full-rank transform")
      inner.searchRadius(projectQueries(queries), radius, params, restrict)
    }

    override def close(): Unit = inner.close()
  }

  final class FlatBuilt(val data: DataFrame, val meta: IndexMeta) extends BuiltIndex {
    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame =
      Knn.searchFlat(data, queries, k, meta.metric,
        padToK = params.get("pad").exists(_.toBoolean))
  }

  final class IvfBuilt(
      val data: DataFrame, // (list_id int, label bigint, vec array<float>)
      val meta: IndexMeta,
      val centroids: Array[Array[Float]],
      metricId: Int,
      cachedParts: Seq[DataFrame] = Nil, // union components to release on close
      private[index] val hasAppends: Boolean = false,
      // IVF<n>_HNSW<m>: graph coarse quantizer over the centroids;
      // None = flat argmin assignment/probing (plain IVF)
      private[index] val coarseGraph: Option[Nsw.Graph] = None,
      // IMI2x<n>: the two half-space codebooks whose product IS
      // `centroids` — assignment/probing run on the books (2·K half
      // scans / multi-sequence) instead of the K² product table
      private[index] val imiBooks: Option[Array[Array[Array[Float]]]] = None)
      extends BuiltIndex {

    override def close(): Unit = { data.unpersist(); cachedParts.foreach(_.unpersist()) }

    /**
     * Incremental append — the real-time-serving path: assign ONLY the
     * new rows to lists with the ALREADY-TRAINED centroids and union
     * them with the existing (cached, materialized) assignment, so a
     * micro-batch add costs O(batch), not O(corpus). Results are
     * identical to a full rebuild because assignment is a pure function
     * of (vec, centroids) and the centroids are pinned. Appended batches
     * are deliberately NOT cached: the add path already pins the batch
     * rows (auto-id cache / ingest localCheckpoint), so caching the
     * assignment too would hold every ingested row twice — instead the
     * cheap per-batch assignment recomputes per search until compact()
     * folds everything into one co-partitioned cache.
     */
    private[index] def appended(newRows: DataFrame): IvfBuilt = {
      val assign = IvfBuilt.assignCol(centroids, coarseGraph, metricId, coarseEfOf(meta), imiBooks)
      val assignedNew = newRows
        .select(
          when(size(assign) > 0, element_at(assign, 1)).otherwise(lit(-1)).as("list_id"),
          col("label"), col("vec"))
      new IvfBuilt(data.unionByName(assignedNew), meta, centroids, metricId,
        if (cachedParts.isEmpty) Seq(data) else cachedParts,
        hasAppends = true, coarseGraph = coarseGraph, imiBooks = imiBooks)
    }

    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame =
      searchRestricted(queries, k, params, identity)

    /** IVF with the selector composed INSIDE the probe: the restriction
      * applies to the pruned-list scan, so a loose filter over a huge
      * corpus still reads only nprobe lists (vs the flat fallback that
      * scans the whole filtered corpus). Exact at nprobe = nlist. */
    override def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val asc = VectorMath.smallerIsCloser(metricId)
      val pad = params.get("pad").exists(_.toBoolean)
      Knn.rankResults(probedCandidates(queries, params, restrict), k, asc, pad)
    }

    /** probed-list radius search: same list pruning as k-NN, the
      * radius predicate replaces the top-k aggregate (so there is no
      * shuffle at all — hits flow straight out of the probed scan).
      * Exact at nprobe = nlist; below that, misses are confined to
      * unprobed lists exactly as in FAISS's range_search on IVF. */
    override def searchRadius(
        queries: DataFrame, radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      val cands = probedCandidates(queries, params, restrict)
      val cmp =
        if (VectorMath.smallerIsCloser(metricId)) col("_dist") < lit(radius)
        else col("_dist") > lit(radius)
      cands.where(cmp).select(col("qid"), col("label"), col("_dist").as("distance"))
    }

    /** shared probe machinery: (qid, label, _dist) candidate rows from
      * the nprobe nearest lists per query */
    private def probedCandidates(
        queries: DataFrame, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      // collect the (bounded, FAISS-batch-sized) queries ONCE and derive
      // probes driver-side: a single evaluation feeds both the pruning
      // filter and the join, with nothing left cached behind
      val spark = data.sparkSession
      import spark.implicits._
      val qRows = collectQueryBatch(queries)
      // probe with the SAME metric vectors were assigned with (an IP
      // index probed by L2 would look in lists its vectors never joined)
      val probeOne = coarseProbe(params, centroids, metricId, coarseGraph, coarseEfOf(meta), imiBooks)
      val byQuery = qRows.toSeq.map { case (qid, qv) => (qid, qv, probeOne(qv)) }
      val d = vec.dist(meta.metric, col("vec"), col("qvec"))
      def candidatesOf(group: Seq[(Long, Array[Float], Seq[Int])]): DataFrame = {
        val probes = group
          .flatMap { case (qid, qv, ls) => ls.map(l => (qid, qv.toSeq, l)) }
          .toDF("qid", "qvec", "list_id")
          .select(col("qid"), vec.vector(col("qvec")).as("qvec"), col("list_id"))
        // the union of the group's probed lists becomes a STATIC IN
        // filter: on a list-partitioned parquet layout (saved indexes)
        // this is guaranteed partition pruning — unprobed lists are
        // never read, the on-disk analog of FAISS scanning only nprobe
        // inverted lists
        val union = group.flatMap(_._3).distinct
        val pruned =
          if (union.size < centroids.length) data.where(col("list_id").isInCollection(union))
          else data
        restrict(pruned).join(broadcast(probes), "list_id")
          .select(col("qid"), col("label"), d.as("_dist"))
      }
      // List-locality sub-batching (VERDICT r13 #2): a WIDE batch's
      // probed-list union approaches every list (coupon collector:
      // E[frac] = 1-(1-nprobe/nlist)^batch), so the single-scan plan
      // reads the whole layout — per BATCH, which is still IO-optimal
      // in total (each needed list is read exactly once; any correct
      // engine must read the union). What the one-job plan cannot do
      // is bound the per-scan working set. maxListsPerJob=L packs
      // signature-sorted queries greedily into sub-batches whose union
      // stays <= L and gives each its own pruned scan: clustered query
      // loads collapse to their hot lists per scan, and a uniform load
      // degrades gracefully (total records = sum of sub-unions, never
      // less than the single union — pick L for the SLO, not for
      // throughput). Off by default.
      val subCap = params.get("maxListsPerJob").map(_.toInt).filter(_ > 0)
      subCap match {
        case Some(cap) if byQuery.flatMap(_._3).distinct.size > cap =>
          // sort by probed-list signature so overlapping sets pack
          // into the same sub-batch before the union cap fires
          val sorted = byQuery.sortBy(_._3.sorted.mkString(","))
          val groups = scala.collection.mutable.ArrayBuffer(
            scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Seq[Int])])
          val curUnion = scala.collection.mutable.Set.empty[Int]
          sorted.foreach { q =>
            val grown = curUnion ++ q._3
            if (grown.size > cap && curUnion.nonEmpty) {
              groups += scala.collection.mutable.ArrayBuffer(q)
              curUnion.clear(); curUnion ++= q._3
            } else { groups.last += q; curUnion ++= q._3 }
          }
          groups.map(g => candidatesOf(g.toSeq)).reduce(_ unionByName _)
        case _ => candidatesOf(byQuery)
      }
    }
  }

  object IvfBuilt {

    /** shared assignment column: flat argmin, (for IVF_HNSW) the graph
      * walk, or (for IMI) the product argmin over the two half books —
      * all return an int array of nearest list ids */
    private[index] def assignCol(
        centroids: Array[Array[Float]], graph: Option[Nsw.Graph],
        metricId: Int, coarseEf: Int,
        imiBooks: Option[Array[Array[Array[Float]]]] = None): Column = (graph, imiBooks) match {
      case (Some(g), _) => GraftBridge.column(HnswNearestCentroids(
        GraftBridge.expression(col("vec")), g, 1, coarseEf, coarseMetricId(metricId)))
      case (None, Some(books)) => GraftBridge.column(
        ImiNearestCells(GraftBridge.expression(col("vec")), books))
      case (None, None) => GraftBridge.column(
        NearestCentroids(GraftBridge.expression(col("vec")), centroids, 1, metricId))
    }

    def build(
        data: DataFrame, meta: IndexMeta,
        centroids: Array[Array[Float]], metricId: Int,
        coarseGraph: Option[Nsw.Graph] = None,
        imiBooks: Option[Array[Array[Array[Float]]]] = None): IvfBuilt = {
      val assign = assignCol(centroids, coarseGraph, metricId, coarseEfOf(meta), imiBooks)
      // all-NaN vectors probe nothing -> park them in list -1 (never
      // probed), instead of failing the build on element_at(empty, 1).
      // Widen first: assignment is the map stage of the list_id shuffle,
      // and on a narrow (single-file) input it would run on one core.
      val assigned = Knn.widen(data)
        .select(
          when(size(assign) > 0, element_at(assign, 1)).otherwise(lit(-1)).as("list_id"),
          col("label"), col("vec"))
        .repartition(col("list_id"))
      new IvfBuilt(cachedLayout(assigned), meta, centroids, metricId,
        coarseGraph = coarseGraph, imiBooks = imiBooks)
    }
  }

  /** the coarse lists one query probes: the centroid-graph walk
    * (IVF<n>_HNSW<m>), the IMI multi-sequence over the half books, or
    * the flat argmin. Graph coarse returns every list outright at
    * exhaustive probe: a disconnected graph could otherwise silently
    * skip a list and break the nprobe = nlist exactness contract the
    * _exh gates pin. The IMI multi-sequence enumerates cells in exact
    * ascending d1+d2 order, so it is exact at nprobe = nlist anyway; the
    * same shortcut just skips the enumeration. Shared by IVF and coded
    * indexes (coded indexes assign and probe by L2SQ, the FAISS PQ
    * convention). */
  private def coarseProbe(
      params: Map[String, String], centroids: Array[Array[Float]], metricId: Int,
      graph: Option[Nsw.Graph], ef: Int,
      imiBooks: Option[Array[Array[Array[Float]]]] = None): Array[Float] => Seq[Int] = {
    val nprobe = positiveIntParam(params, "nprobe", math.max(1, centroids.length / 8))
    (graph, imiBooks) match {
      case (Some(g), _) if nprobe < centroids.length =>
        qv => Nsw.search(g, qv, nprobe, math.max(ef, nprobe), coarseMetricId(metricId))
          .map(_._2.toInt).toSeq
      case (None, Some(books)) if nprobe < centroids.length =>
        qv => Imi.probeCells(qv, books, nprobe)
      case (Some(_), _) | (None, Some(_)) => _ => centroids.indices
      case (None, None) =>
        qv => NearestCentroids.nearestIds(qv, centroids, nprobe, metricId)
    }
  }

  /** a search param that must be a positive integer (nprobe, refine,
    * efSearch), or `default` when absent. FAISS rejects nprobe <= 0; a
    * bare toInt would turn 0 into an empty result or an error naming
    * another argument, and a non-integer into an error naming no key. */
  private def positiveIntParam(params: Map[String, String], key: String, default: => Int): Int =
    params.get(key) match {
      case None => default
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"search param '$key' must be a positive integer, got '$v'"))
    }

  /**
   * Coded index (FAISS `[IVF<n>[_HNSW<m>],]PQ<m>|SQ8|SQ4|SQfp16|RQ<m>|LSQ<m>`):
   * vectors stored as fixed-width [[Codec]] codes in inverted lists
   * (one list 0 without a coarse quantizer). Search scores codes against
   * per-query state — ADC tables for PQ, decode-in-loop L2 for the
   * scalar and additive codecs — keeps the top k x refine, then re-ranks
   * those on the original vectors. L2 metric (FAISS convention). The
   * re-rank vectors live in the base table and join back by label; the
   * cached layout holds codes only.
   */
  final class CodedBuilt(
      val data: DataFrame, // (list_id int, label bigint, code binary) — codes only
      private[index] val raw: DataFrame, // the base (label, vec) plan, NOT cached here
      val meta: IndexMeta,
      private[index] val codec: Codec,
      private[index] val centroids: Option[Array[Array[Float]]],
      private[index] val coarseGraph: Option[Nsw.Graph] = None, // IVF<n>_HNSW<m> coarse
      cachedParts: Seq[DataFrame] = Nil, // union components to release on close
      private[index] val hasAppends: Boolean = false)
      extends BuiltIndex {

    /** base-table (label, vec) view for exact flat scans, re-rank and save() */
    private[index] def vecData: DataFrame =
      raw.select(col("label").cast("long").as("label"), vec.vector(col("vec")).as("vec"))
    override def flatData: DataFrame = vecData

    @transient private var packedCache: DataFrame = _
    private def packedItems: DataFrame = synchronized {
      if (packedCache == null) packedCache = packCoded(data)
      packedCache
    }
    private def dropPacked(): Unit =
      synchronized { if (packedCache != null) { packedCache.unpersist(); packedCache = null } }

    /** Incremental append (same contract as IvfBuilt.appended): encode +
      * assign ONLY the new rows with the already-trained codec and
      * centroids (graph coarse included) and union with the cached coded
      * layout — O(batch) per micro-batch, identical to a rebuild because
      * encode/assign are pure functions of the pinned trained state.
      * `newRaw` is the full raw plan (old + batch) so exact re-rank sees
      * appended vectors too. The packed chunk cache covers pre-append
      * rows only, so it is dropped here and lazily rebuilt over the union
      * on next search. */
    private[index] def appended(newRows: DataFrame, newRaw: DataFrame): CodedBuilt = {
      val newCoded = codedLayout(newRows, codec, centroids, coarseGraph, coarseEfOf(meta),
        repartitionLists = false)
      dropPacked()
      new CodedBuilt(data.unionByName(newCoded), newRaw, meta, codec, centroids, coarseGraph,
        if (cachedParts.isEmpty) Seq(data) else cachedParts, hasAppends = true)
    }

    /** appends folded into one materialization: codes and raw vectors
      * live in SEPARATE plans, so both checkpoint — codes
      * re-co-partitioned by list, the raw side flattened so pending
      * drops its per-add union tree */
    private[index] def compacted(): CodedBuilt =
      new CodedBuilt(data.repartition(col("list_id")).localCheckpoint(true),
        vecData.localCheckpoint(true), meta, codec, centroids, coarseGraph)

    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame =
      doSearch(queries, k, params, None)

    /** code scoring + re-rank over the restricted rows only: the selector
      * joins the candidate source (probed lists or full coded scan),
      * keeping compression + pruning instead of a flat fallback scan. */
    override def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      doSearch(queries, k, params, Some(restrict))

    /** probed lists (or the full coded scan) -> approximate per-code
      * distance -> bounded k x refine heap -> exact L2 re-rank on the
      * original vectors.
      *
      * Unrestricted searches scan PACKED chunk rows with
      * [[CodedTopKScan]] instead of joining probed codes against the
      * query batch: the row path pays join/aggregate overhead per
      * (code, query) PAIR (~35 s of the 100x rung's 42 s IVF-PQ search at
      * 100 queries x 2.5M probed codes), while the packed path's plan
      * cardinality is chunk x query and the pair loop runs at memory
      * speed. A row selector needs the row layout (chunks can't apply
      * per-row predicates), so restricted searches take the row plan.
      * Distances and (distance, label) tie-breaks are bit-identical (one
      * [[CodedScorer]], same heap), so the exhaustive exact gates hold
      * through either plan. */
    private def doSearch(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: Option[DataFrame => DataFrame]): DataFrame = {
      val spark = raw.sparkSession
      import spark.implicits._
      val qArr = collectQueryBatch(queries)
      val scorer = codec.scorer(qArr)
      val kk = k * positiveIntParam(params, "refine", 4)
      // the union of probed lists across the query batch, a static IN
      // filter on the coded scan (guaranteed partition pruning on a
      // list-partitioned saved layout, same as IvfBuilt's probe path)
      val probePairs = centroids.map { cents =>
        val probeOne = coarseProbe(params, cents, VectorMath.L2SQ, coarseGraph, coarseEfOf(meta))
        qArr.toSeq.flatMap { case (qid, qv) => probeOne(qv).map(l => (qid, l)) }
      }
      val cands = restrict match {
        case None =>
          // probes for the non-IVF case hit the single packed list 0
          val probes = probePairs.map(_.toDF("qid", "list_id"))
            .getOrElse(qArr.map(q => (q._1, 0)).toSeq.toDF("qid", "list_id"))
          packedItems.join(broadcast(probes), "list_id")
            .select(col("qid"), explode(GraftBridge.column(CodedTopKScan(
              GraftBridge.expression(col("items")),
              GraftBridge.expression(col("qid")), kk, scorer))).as("c"))
            .select(col("qid"), col("c.label").as("label"), col("c.distance").as("_cd"))
            .groupBy(col("qid"))
            .agg(vec.topk(kk, col("_cd"), col("label"), ascending = true).as("nn"))
            .select(col("qid"), explode(col("nn.label")).as("label"))
        case Some(r) =>
          val base = restrictCoded(r)
          val candSource = (probePairs, centroids) match {
            case (Some(pairs), Some(cents)) =>
              val probes = pairs.toDF("qid", "list_id")
              val lists = pairs.map(_._2).distinct
              val pruned =
                if (lists.size < cents.length) base.where(col("list_id").isInCollection(lists))
                else base
              pruned.join(broadcast(probes), "list_id")
            case _ =>
              base.crossJoin(broadcast(qArr.map(_._1).toSeq.toDF("qid")))
          }
          val codeDist = GraftBridge.column(CodedDistance(
            GraftBridge.expression(col("code")), GraftBridge.expression(col("qid")), scorer))
          candSource
            .select(col("qid"), col("label"), codeDist.as("_code_dist"))
            .groupBy(col("qid"))
            .agg(vec.topk(kk, col("_code_dist"), col("label"), ascending = true).as("nn"))
            .select(col("qid"), explode(col("nn.label")).as("label"))
      }
      // exact re-rank joins the BASE-TABLE vectors by label: the coded
      // layout caches codes only, so the raw `vec` never rides the list
      // shuffle or the cache. The candidate set is <= |q| x k x refine
      // rows and broadcasts; the vector side is one pruned-column pass
      // of the (uncached) base plan — the 100 TB shape, where re-rank
      // vectors live in the base table, not the index.
      val qdf = queries.select(col("qid").cast("long").as("qid"), vec.vector(col("qvec")).as("qvec"))
      Knn.rankResults(
        vecData
          .join(broadcast(cands), "label")
          .join(broadcast(qdf), "qid")
          .select(col("qid"), col("label"), vec.l2sq(col("vec"), col("qvec")).as("_dist")),
        k, ascending = true, padToK = params.get("pad").exists(_.toBoolean))
    }

    /** Apply a selector to the codes-only layout. The coded layout
      * carries (list_id, label, code); a predicate referencing `vec`
      * would fail analysis against it. Try the cheap label-side restrict
      * first; on an unresolved column, join the base-table vec back by
      * label, filter, and drop it — the extra join is paid only by
      * vec-referencing predicates. */
    private def restrictCoded(restrict: DataFrame => DataFrame): DataFrame =
      try restrict(data)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          restrict(data.join(vecData, Seq("label"))).select(data.columns.map(col): _*)
      }

    override def close(): Unit = {
      data.unpersist()
      cachedParts.foreach(_.unpersist())
      dropPacked()
    }
  }

  /** shared coded layout: widen -> encode -> (optional) coarse
    * assignment with NaN rows parked in never-probed list -1 ->
    * repartition by list. */
  private def codedLayout(
      data: DataFrame, codec: Codec, cents: Option[Array[Array[Float]]],
      coarseGraph: Option[Nsw.Graph], coarseEf: Int,
      repartitionLists: Boolean = true): DataFrame = {
    // codes ONLY — no raw vectors. The re-rank stage joins the base
    // table by label instead (CodedBuilt.doSearch), so the cached layout
    // is m-byte codes (FAISS IVFPQ stores codes, not vectors): at the
    // 100x rung (10M-row bigData) this cut the per-index cache ~8x,
    // which was the difference between fitting and thrashing when
    // several indexes coexist in one session
    val encode = GraftBridge.column(CodecEncode(GraftBridge.expression(col("vec")), codec))
    val wide = Knn.widen(data)
    cents match {
      case Some(cs) =>
        // flat argmin, or (IVF_HNSW,<codec>) the graph walk — the same
        // shared assignment column IVF uses, L2 per FAISS PQ convention
        val assign = IvfBuilt.assignCol(cs, coarseGraph, VectorMath.L2SQ, coarseEf)
        val assigned = wide.select(
            when(size(assign) > 0, element_at(assign, 1)).otherwise(lit(-1)).as("list_id"),
            col("label"), encode.as("code"))
        // append micro-batches skip the list shuffle (IvfBuilt.appended
        // parity): the batch is small and uncached, a per-search
        // repartition would only add an exchange
        if (repartitionLists) assigned.repartition(col("list_id")) else assigned
      case None =>
        wide.select(lit(0).as("list_id"), col("label"), encode.as("code"))
    }
  }

  /** max codes per packed chunk row (bounds packed-row size; smaller
    * corpora just emit fewer/smaller chunks) */
  private val PackedChunkCodes = 65536

  /** Pack a coded layout into (list_id, items array<struct<label,code>>)
    * chunk rows, cached on the built index — every subsequent search
    * scans chunks instead of joining code rows. NO shuffle and NO
    * aggregation buffers: the coded layout is already partitioned by
    * list_id, so each partition streams its rows into per-list primitive
    * buffers and emits a packed row whenever one reaches the chunk
    * bound (a collect_list groupBy held every (label, code) pair in
    * boxed agg buffers simultaneously — an OOM at the 10M-vector rung).
    * Chunk boundaries are partition-iteration-order dependent, which is
    * fine: the per-chunk top-k merge is chunking-invariant (same global
    * (distance, label) order regardless of how lists split). */
  private def packCoded(coded: DataFrame): DataFrame = {
    val spark = coded.sparkSession
    import spark.implicits._
    coded
      .where(col("code").isNotNull) // row path skips null codes in nullSafeEval
      .select(col("list_id"), col("label"), col("code"))
      // lists are contiguous after the in-partition sort (spill-safe
      // UnsafeExternalSorter), so the packer holds ONE open buffer at a
      // time — peak heap is one chunk, not the partition
      .sortWithinPartitions("list_id")
      .as[(Int, Long, Array[Byte])]
      .mapPartitions { it =>
        new Iterator[(Int, Seq[(Long, Array[Byte])])] {
          private val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])](256)
          private var bufList = Int.MinValue
          private var pending: (Int, Seq[(Long, Array[Byte])]) = _
          private def fill(): Unit = {
            while (pending == null && it.hasNext) {
              val (list, label, code) = it.next()
              if (list != bufList && buf.nonEmpty) {
                pending = (bufList, buf.toSeq); buf.clear()
              }
              bufList = list
              buf += ((label, code))
              if (pending == null && buf.length >= PackedChunkCodes) {
                pending = (bufList, buf.toSeq); buf.clear()
              }
            }
            if (pending == null && buf.nonEmpty) {
              pending = (bufList, buf.toSeq); buf.clear()
            }
          }
          override def hasNext: Boolean = { fill(); pending != null }
          override def next(): (Int, Seq[(Long, Array[Byte])]) = {
            fill()
            val r = pending; pending = null
            r
          }
        }
      }
      .toDF("list_id", "items")
      .cache()
  }

  /** largest query batch the catalog serving path will collect: the
    * same contract the SQL route enforces (FaissSql) — fail loudly
    * instead of OOMing the driver on an unbounded query set.
    * Overridable per-session for tests / constrained drivers. */
  private[graft] val MaxQueryBatchDefault = 1 << 20
  private[graft] val MaxQueryBatchConf = "spark.graft.index.maxQueryBatch"

  /** bounded FAISS-batch query collect (null rows skipped) — shared by
    * every index kind's search path. The limit+check makes the bound a
    * hard contract on the PROGRAMMATIC path too, not just the SQL one:
    * an oversized batch throws with a pointer at the unbounded-join
    * operator instead of collecting to death. */
  private def collectQueryBatch(queries: DataFrame): Array[(Long, Array[Float])] = {
    // clamped so the +1 below can't overflow to a negative limit when
    // the conf is set to Int.MaxValue (same guard as Knn's local serve)
    val maxBatch = math.min(maxQueryBatch(queries.sparkSession), Int.MaxValue - 1)
    // null rows are dropped BEFORE the limit so they never count toward
    // the cap — the bound is on rows actually collected
    val rows = queries
      .where(col("qid").isNotNull && col("qvec").isNotNull)
      .select(col("qid").cast("long"), vec.vector(col("qvec")))
      .limit(maxBatch + 1)
      .collect()
    if (rows.length > maxBatch)
      throw new IllegalStateException(
        s"index search query batch exceeds $maxBatch rows ($MaxQueryBatchConf); the " +
          "catalog serving path collects the query batch to the driver (FAISS-parity " +
          "bounded-batch contract) — use graft.search.AnnJoin.ivfJoin / ivfRadiusJoin " +
          "for unbounded query sets")
    rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
  }

  /** Storage level for BUILT index layouts (the corpus-scale caches).
    * Default MEMORY_AND_DISK (deserialized — fastest scans). When
    * several corpus-scale indexes must coexist in one JVM,
    * MEMORY_AND_DISK_SER cuts the vector-row footprint ~3-4x — at the
    * 1000x rung three ~30 GB deserialized layouts in one session
    * overwhelmed spill space and killed the JVM (SURVEY §21.9); the
    * serialized level is the deployment knob for that shape. Accepts
    * any StorageLevel name (MEMORY_ONLY, DISK_ONLY, ...). Read at
    * build time; rebuild to change. */
  private[graft] val CacheLevelConf = "spark.graft.index.cacheStorageLevel"

  private[index] def cachedLayout(df: DataFrame): DataFrame = {
    val lvl = df.sparkSession.conf.getOption(CacheLevelConf)
      .map(org.apache.spark.storage.StorageLevel.fromString)
      .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.persist(lvl)
  }

  /** parse the query-batch cap, naming the config key on a bad value
    * instead of surfacing a bare NumberFormatException. Shared with the
    * programmatic `Knn` flat path (same contract, same error shape). */
  private[graft] def maxQueryBatch(spark: SparkSession): Int =
    spark.conf.getOption(MaxQueryBatchConf).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$MaxQueryBatchConf must be an integer, got '$v'")
      }
    }.getOrElse(MaxQueryBatchDefault)

  /**
   * Sharded HNSW: each partition builds an independent NSW graph over
   * its vectors (RDD of graphs, cached as live objects); a search runs
   * every shard graph in parallel and merges per-shard top-k globally.
   * Graph search is O(ef log n) per shard instead of a full scan —
   * the architecture real distributed vector stores use, since graph
   * edges can't span executors. efConstruction/efSearch match the
   * reference's parameter names.
   *
   * Save/load divergence from FAISS (by design): save persists the
   * canonical (label, vec) rows, and load REBUILDS shard graphs from
   * whatever partitioning the load produces — graphs are cheap
   * executor-local state, not the durable asset. Approximate results
   * can therefore differ across a save/load cycle (recall holds; the
   * spec asserts it), unlike FAISS which serializes its graph bytes.
   */
  final class HnswBuilt(
      val data: DataFrame, // (label, vec) — retained for filtered/exact paths + save
      val meta: IndexMeta,
      graphs: org.apache.spark.rdd.RDD[Nsw.Graph],
      m: Int)
      extends BuiltIndex {

    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame = {
      val spark = data.sparkSession
      import spark.implicits._
      val efSearch = positiveIntParam(params, "efSearch", math.max(2 * k, 64))
      val metricId = VectorMath.metricId(meta.metric)
      val qArr = collectQueryBatch(queries)
      val qB = spark.sparkContext.broadcast(qArr)
      val perShard = graphs.flatMap { g =>
        qB.value.iterator.flatMap { case (qid, qv) =>
          Nsw.search(g, qv, k, efSearch, metricId).iterator
            .map { case (d, label) => (qid, label, d) }
        }
      }.toDF("qid", "label", "_dist")
      Knn.rankResults(perShard, k, ascending = VectorMath.smallerIsCloser(metricId),
        padToK = params.get("pad").exists(_.toBoolean))
    }

    /**
     * Selector inside the graph search (FAISS applies its IDSelector
     * within HNSW traversal, faiss_extension.cpp:940-1000). A NARROW
     * restriction (a Catalyst filter — searchFilter's predicate) keeps
     * the cached shard partitioning, so each shard's allowed-label set
     * rides zipPartitions to its own graph: no shuffle, no broadcast,
     * traversal keeps full connectivity and only allowed labels surface.
     * A shuffling restriction (searchFilterSet's LEFT SEMI id join)
     * breaks shard alignment — that path stays the EXACT flat scan of
     * the restricted set (pushdown-friendly, and exact beats
     * approximate when the selector already bounds the scan).
     */
    override def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val restricted = restrict(data.select(col("label"), col("vec")))
      import org.apache.spark.sql.catalyst.plans.logical._
      val narrow = !restricted.queryExecution.optimizedPlan.exists {
        case _: Aggregate | _: Join | _: Window | _: RepartitionOperation | _: Deduplicate => true
        case s: Sort => s.global
        case _ => false
      }
      if (!narrow || restricted.rdd.getNumPartitions != graphs.getNumPartitions)
        super.searchRestricted(queries, k, params, restrict)
      else {
        val spark = data.sparkSession
        import spark.implicits._
        val efSearch = positiveIntParam(params, "efSearch", math.max(2 * k, 64))
        val metricId = VectorMath.metricId(meta.metric)
        val qArr = collectQueryBatch(queries)
        val qB = spark.sparkContext.broadcast(qArr)
        val allowedRdd = restricted.select("label").rdd.mapPartitions({ it =>
          val s = new java.util.HashSet[Long]()
          it.foreach(r => s.add(r.getLong(0)))
          Iterator.single(s)
        }, preservesPartitioning = true)
        val perShard = graphs.zipPartitions(allowedRdd) { (git, ait) =>
          val allowed = if (ait.hasNext) ait.next() else new java.util.HashSet[Long]()
          git.flatMap { g =>
            qB.value.iterator.flatMap { case (qid, qv) =>
              Nsw.searchSel(g, qv, k, efSearch, metricId, allowed.contains).iterator
                .map { case (d, label) => (qid, label, d) }
            }
          }
        }.toDF("qid", "label", "_dist")
        Knn.rankResults(perShard, k, ascending = VectorMath.smallerIsCloser(metricId),
          padToK = params.get("pad").exists(_.toBoolean))
      }
    }

    /** driver snapshot of the per-shard graphs for injected replay
      * oracles — None past `maxNodes` total (gate-scale verification
      * surface; the serving path never collects graphs). The cap is
      * enforced by a DISTRIBUTED count BEFORE anything is collected,
      * and vectors are stripped executor-side: an over-cap corpus
      * never reaches the driver, and an under-cap snapshot carries
      * only labels + adjacency (every replay oracle reads distances
      * from the source table, never from the snapshot). */
    private[index] def graphsSnapshot(maxNodes: Int): Option[Seq[Nsw.Graph]] = {
      if (graphs.map(_.labels.length.toLong).sum() > maxNodes) None
      else Some(graphs.map(_.copy(vecs = Array.empty)).collect().toSeq)
    }

    override def close(): Unit = {
      graphs.unpersist(blocking = false)
      super.close()
    }
  }

  object HnswBuilt {
    def build(data: DataFrame, meta: IndexMeta, m: Int): HnswBuilt = {
      val efC = meta.params.get("efConstruction").map(_.toInt).getOrElse(math.max(64, 2 * m))
      val metricId = VectorMath.metricId(meta.metric)
      val spark = data.sparkSession
      // one graph per shard: widen narrow inputs so graph build and search
      // both use the full executor parallelism (Knn.widen, not a raw
      // .rdd probe — shared AQE-safety and drift-free partitioning)
      val cached = cachedLayout(Knn.widen(data).select(col("label"), col("vec")))
      val graphs = cached
        .select(col("label"), col("vec"))
        .rdd
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .mapPartitions(it => Iterator.single(Nsw.build(it.toArray, m, efC, metricId)),
          preservesPartitioning = true)
        .cache()
      graphs.count() // materialize graph construction once
      new HnswBuilt(cached, meta, graphs, m)
    }
  }

  final class LshBuilt(
      val data: DataFrame, // (bucket bigint, label bigint, vec array<float>)
      val meta: IndexMeta, bands: Int, bitsPerBand: Int, seed: Long)
      extends BuiltIndex {

    def search(queries: DataFrame, k: Int, params: Map[String, String]): DataFrame =
      searchRestricted(queries, k, params, identity)

    /** bucket probing over the restricted rows (the banded layout keeps
      * `label`, so predicates/semi-joins apply before the bucket join;
      * also fixes duplicate top-k labels the flat fallback would emit
      * from the per-band row duplication) */
    override def searchRestricted(
        queries: DataFrame, k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val qb = queries.select(col("qid"), col("qvec"),
        explode(hashes.hyperplaneBuckets(col("qvec"), bands, bitsPerBand, seed)).as("bucket"))
      val d = vec.dist(meta.metric, col("vec"), col("qvec"))
      val asc = VectorMath.smallerIsCloser(VectorMath.metricId(meta.metric))
      Knn.rankResults(
        restrict(data).join(broadcast(qb), "bucket")
          // a (label, qid) pair can match in several bands; compute the
          // distance in codegen, then dedup on (qid,label) before ranking
          .select(col("qid"), col("label"), d.as("_dist"))
          .dropDuplicates("qid", "label"),
        k, asc, params.get("pad").exists(_.toBoolean))
    }
  }

  object LshBuilt {
    /** bands when params carry no explicit "bands" — referenced by the
      * replay oracles, same single-definition rule as [[DefaultSeed]] */
    val DefaultBands = 16
    def build(data: DataFrame, meta: IndexMeta, bitsPerBand: Int): LshBuilt = {
      val bands = meta.params.get("bands").map(_.toInt).getOrElse(DefaultBands)
      val seed = IndexCatalog.seedOf(meta.params)
      // widen before hashing: bucket computation is the map stage of the
      // bucket shuffle and must not run on a single narrow partition
      val bucketed = Knn.widen(data)
        .select(
          explode(hashes.hyperplaneBuckets(col("vec"), bands, bitsPerBand, seed)).as("bucket"),
          col("label"), col("vec"))
        .repartition(col("bucket"))
        .cache()
      new LshBuilt(bucketed, meta, bands, bitsPerBand, seed)
    }
  }
}
