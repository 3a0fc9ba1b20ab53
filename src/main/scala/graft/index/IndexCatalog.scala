package graft.index

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
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
 *    ALREADY-BUILT top-level IVF or coded index extends the built
 *    structure incrementally (only the batch is assigned, trained state
 *    pinned — the real-time ingest path); compact() folds appended batches
 *  - an entry holds at most one trained coarse quantizer, a [[Coarse]]
 *    (flat argmin, HNSW graph over the centroids, or IMI half books):
 *    IVF / IVF_HNSW / IMI build one [[IvfBuilt]] over it, coded indexes
 *    with nlist > 1 assign and probe through it, and it persists itself
 *  - save = parquet rows (a top-level IVF family's list-partitioned
 *    layout, for partition pruning; every other index's canonical
 *    (label, vec) rows) + each trained part (coarse quantizer with a
 *    graph's adjacency, codec, pretransform), which writes and reads
 *    itself + a one-row meta DataFrame; load restores lazily
 *  - the query DataFrame's columns are read by position ([[colAt]]),
 *    so any column names work
 */
object IndexCatalog {

  /** seed used when an index's params carry no explicit "seed" — ONE
    * definition so injected replay oracles that regenerate seeded state
    * (LSH hyperplanes, reservoir samples) cannot silently desynchronize
    * from the engine default */
  val DefaultSeed = 42L

  /** params("seed") with the catalog default; a non-long names the key */
  def seedOf(params: Map[String, String]): Long =
    params.get("seed").map(v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"param 'seed' must be a long integer, got '$v'"))).getOrElse(DefaultSeed)

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
    * (IvfBuilt over an [[ImiCoarse]]; Imi.scala). */
  case class ImiKind(nbits: Int) extends Kind
  case class HnswKind(m: Int) extends Kind
  /** a pretransform wrapper: `inner` trains, stores and is searched in
    * the transform's output space, through one [[PcaBuilt]] */
  sealed trait PretransformKind extends Kind {
    def inner: Kind
    /** the (mean, components) transform trained on `pts` */
    def trainTransform(pts: Array[Array[Float]], seed: Long): (Array[Float], Array[Array[Float]])
  }
  /** pre-transform wrapper, e.g. "PCA16,IVF64,Flat" */
  case class PcaKind(outDim: Int, inner: Kind) extends PretransformKind {
    def trainTransform(pts: Array[Array[Float]], seed: Long): (Array[Float], Array[Array[Float]]) =
      Pca.train(pts, outDim)
  }
  /** learned-rotation pre-transform, e.g. "OPQ8,PQ8" (dim preserved): a
    * transform with mean 0 whose components are the rotation */
  case class OpqKind(m: Int, inner: Kind) extends PretransformKind {
    def trainTransform(pts: Array[Array[Float]], seed: Long): (Array[Float], Array[Array[Float]]) =
      (new Array[Float](pts(0).length), Opq.train(pts, m, seed = seed))
  }

  /** the kind under at most one pretransform (nesting is rejected) */
  private def unwrapped(kind: Kind): Kind = kind match {
    case p: PretransformKind => p.inner
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
    // the trained coarse quantizer: IVF / IVF_HNSW / IMI, or a coded
    // index's when nlist > 1 (under a pretransform: in projected space)
    var coarse: Option[Coarse] = None
    var codec: Option[Codec] = None // a coded index's trained fine quantizer
    var trainedPca: Option[(Array[Float], Array[Array[Float]])] = None
    var built: Option[BuiltIndex] = None
    var nextAutoId: Long = 0L
    val cachedBatches = scala.collection.mutable.ListBuffer.empty[DataFrame]
  }

  /** every search takes its entry point's [[queryBatch]] */
  sealed trait BuiltIndex {
    def data: DataFrame
    def meta: IndexMeta
    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame

    /** (label, vec) view of the indexed rows for exact flat scans, one
      * row per added row — the built layout itself for raw-vector
      * indexes; coded (codes-only) and LSH (one row per band) layouts
      * override with the base-table plan */
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
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      Knn.searchFlatFast(
        restrict(flatData).select(col("label"), col("vec")), batch, k, meta.metric, padToK = padOf(params))

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
        batch: Array[(Long, Array[Float])], radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      val d = vec.dist(meta.metric, col("vec"), col("qvec"))
      val cmp =
        if (VectorMath.smallerIsCloser(VectorMath.metricId(meta.metric))) d < lit(radius)
        else d > lit(radius)
      Knn.widen(restrict(flatData)).crossJoin(broadcast(Knn.queryFrame(data.sparkSession, batch)))
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
    checkParams(meta.params)
    val e = new Entry(meta)
    // metric/kind compatibility errors at create, not deep inside a
    // later search: graph traversal supports L2/IP/cosine only (FAISS
    // HNSW is L2/IP), and a mismatch would silently rank by the wrong
    // ordering. A pretransform keeps the metric, so its inner kind decides.
    def isL2 = mid == VectorMath.L2SQ || mid == VectorMath.L2
    unwrapped(e.kind) match {
      case HnswKind(_) if !Nsw.supportsMetric(mid) =>
        throw new IllegalArgumentException(
          s"HNSW supports metrics l2sq/l2/ip/cosine, got '$metric'")
      case CodedKind(_, _, _) if !isL2 =>
        throw new IllegalArgumentException(
          s"PQ/SQ/RQ/LSQ quantized search implements the FAISS L2 convention (code distance + L2 re-rank); got '$metric'")
      case ImiKind(_) if mid == VectorMath.IP =>
        // the multi-index coarse space decomposes by L2 over the two
        // halves (the FAISS IMI convention); an IP index would assign
        // by an ordering its vectors are never searched with
        throw new IllegalArgumentException(
          s"IMI coarse quantization assigns by L2 (FAISS convention); metric '$metric' is unsupported")
      // under a PCA the inner dim is the projection's, which Imi.train checks
      case ImiKind(_) if dim % 2 != 0 && !e.kind.isInstanceOf[PcaKind] =>
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
      val idSet = ids.select(colAt(ids, 0).cast("long").as("label")).distinct()
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
  def trainedCentroidsOf(name: String): Option[Array[Array[Float]]] = {
    val e = entry(name)
    unwrapped(e.kind) match {
      case IvfKind(_) | IvfHnswKind(_, _) => e.coarse.map(_.centroids.map(_.clone()))
      case _ => None
    }
  }

  /** trained scalar-quantizer state — (vmin, vdiff, coarse centroids):
    * the FAISS analog of reading `sq.trained` off an IndexScalarQuantizer.
    * Same injection purpose as [[trainedCentroidsOf]]. */
  def trainedSqOf(name: String)
      : Option[(Array[Float], Array[Float], Option[Array[Array[Float]]])] = {
    val e = entry(name)
    e.codec.flatMap(_.trainedBounds).map { case (mn, df) =>
      (mn.clone(), df.clone(), e.coarse.map(_.centroids.map(_.clone())))
    }
  }

  /** trained product/additive-quantizer state — (codebooks, coarse
    * centroids): the FAISS analog of reading `pq.centroids` off an
    * IndexPQ/IndexRQ. Shape: codebooks(sub)(code)(dim-within-sub) for
    * PQ, codebooks(stage)(code)(full-dim) for RQ/LSQ/IMI halves.
    * Same injection purpose as [[trainedCentroidsOf]]. */
  def trainedPqOf(name: String)
      : Option[(Array[Array[Array[Float]]], Option[Array[Array[Float]]])] = {
    val e = entry(name)
    (e.coarse match {
      case Some(ImiCoarse(books)) => Some((books, None))
      case c => e.codec.flatMap(_.trainedBooks).map((_, c.map(_.centroids)))
    }).map { case (books, cs) => (books.map(_.map(_.clone())), cs.map(_.map(_.clone()))) }
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

  /**
   * Add vectors. One column -> auto ids (dense, insertion order across
   * batches, like FAISS without IDMap); two columns -> (id, vec).
   * Invalidates any built state (FAISS retrains on add unless manually
   * trained; we rebuild lazily), except where [[appendRows]] extends it.
   */
  def add(df: DataFrame, name: String): Unit = {
    val e = entry(name)
    e.synchronized {
    if (e.destroyed) throw new NoSuchElementException(s"no index named '$name'")
    val normalized = df.schema.fields.length match {
      case 1 =>
        // dense sequential auto-ids across batches (FAISS semantics):
        // zipWithIndex is the only collision-free distributed numbering —
        // monotonically_increasing_id spans would overlap between batches
        val start = e.nextAutoId
        val spark = df.sparkSession
        // cache the INPUT before zipWithIndex: zipWithIndex runs its
        // partition-size job on the parent, and the numbering map runs in
        // a second job — on a nondeterministic source those two
        // evaluations could disagree (shifted/duplicate ids) unless both
        // read the same materialized data
        val vecDf = df.select(
          guardAddDim(vec.vector(colAt(df, 0)), e.meta.dim, e.meta.name).as("vec")).cache()
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
          colAt(df, 0).cast("long").as("label"),
          guardAddDim(vec.vector(colAt(df, 1)), e.meta.dim, e.meta.name).as("vec"))
    }
    appendRows(e, normalized)
    }
  }

  /** the step `add` and `merge` share, under the entry's lock: union the
    * rows into pending, then extend or drop the built index. A built
    * top-level IVF with pinned centroids extends INCREMENTALLY: only the
    * new rows are assigned (O(batch) per micro-batch — the real-time
    * ingest path). Coded indexes (PQ/SQ, flat or graph coarse) extend
    * the same way: codebooks/bounds/centroids are pinned in the Entry by
    * the first build, so encoding + assigning just the rows is identical
    * to a rebuild. Other kinds (graphs, LSH buckets) rebuild lazily. */
  private def appendRows(e: Entry, rows: DataFrame): Unit = {
    e.pending = Some(e.pending.map(_.unionByName(rows)).getOrElse(rows))
    e.built = e.built match {
      case Some(ivf: IvfBuilt) if ivf.coarse.nlist > 0 => Some(ivf.appended(rows))
      case Some(c: CodedBuilt) => Some(c.appended(rows, e.pending.get))
      case other =>
        other.foreach(_.close())
        None
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
      case other => other.flatData.select(lit(0).as("list_id"), col("label"))
    }).groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    val coarse = b match {
      case ivf: IvfBuilt => Some(ivf.coarse)
      case c: CodedBuilt => c.coarse
      case _ => None
    }
    val nlist = coarse.fold(1)(c => math.max(c.nlist, 1))
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
          Some((new IvfBuilt(rows, ivf.meta, ivf.coarse), rows))
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
   * trained state; a built IVF or coded index with pinned trained state
   * extends INCREMENTALLY (only src's rows are assigned — O(src), never
   * a corpus rebuild), any other built kind rebuilds lazily.
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
        appendRows(dst, shifted)
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
        val nlist = ivfNlist(e.kind)
        val n = if (nlist > 0) nlist else math.max(4, math.sqrt(sample.count().toDouble).toInt)
        val cents = KMeansTrainer.train(
          sample.select(vec.vector(colAt(sample, sample.columns.length - 1)).as("vec")), n,
          seed, positiveIntParam(e.meta.params, "maxIter", 10))
        // an empty sample trains nothing — leave untrained so build()
        // auto-trains from the real data (Some(empty) would block it)
        e.coarse = Option.when(cents.nonEmpty)(coarseFor(e, e.kind, cents))
      case k @ (CodedKind(_, _, _) | ImiKind(_)) =>
        trainPointsKind(e, k, samplePoints(sample), seed)
      case p: PretransformKind => trainPretransform(e, p, samplePoints(sample))
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
      e.coarse = Option.when(cents.nonEmpty)(coarseFor(e, e.kind, cents.map(_.clone())))
      e.built.foreach(_.close())
      e.built = None
    }
  }

  private def ivfNlist(kind: Kind): Int = kind match {
    case IvfKind(n) => n
    case IvfHnswKind(n, _) => n
    case _ => 0
  }

  private def samplePoints(sample: DataFrame): Array[Array[Float]] = {
    sample.select(vec.vector(colAt(sample, sample.columns.length - 1)).as("vec")).limit(50000)
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /** driver-side training for kinds whose sample is already collected
    * (also the inner-kind path of a PCA pretransform). An empty sample
    * leaves the kind untrained — build() auto-trains from real data. */
  private def trainPointsKind(e: Entry, kind: Kind, pts: Array[Array[Float]], seed: Long): Unit =
    if (pts.isEmpty) () else kind match {
      case IvfKind(_) | IvfHnswKind(_, _) =>
        val nlist = ivfNlist(kind)
        val n0 = if (nlist > 0) nlist else math.max(4, math.sqrt(pts.length.toDouble).toInt)
        e.coarse = Some(coarseFor(e, kind, Pq.localKMeans(pts, math.min(n0, math.max(1, pts.length)),
          seed, positiveIntParam(e.meta.params, "maxIter", 10))))
      case ImiKind(nbits) =>
        e.coarse = Some(ImiCoarse(Imi.train(pts, 1 << nbits, seed,
          positiveIntParam(e.meta.params, "maxIter", 10))))
      case CodedKind(spec, nlist, _) =>
        // codec before coarse k-means: the reverse order measured ~20%
        // slower cold-JVM IVF-PQ builds
        val codec = spec.train(pts, seed)
        e.coarse = Option.when(nlist > 1)(
          coarseFor(e, kind, Pq.localKMeans(pts, math.min(nlist, pts.length), seed + 999, 10)))
        e.codec = Some(codec)
      case _: PretransformKind =>
        throw new IllegalArgumentException("nested pretransforms are not supported")
      case _ => // Flat/LSH/HNSW need no training
    }

  /** train a pretransform on `pts`, then its inner kind in the projected
    * space, where it sees data and queries. An empty sample trains
    * nothing, like every other kind. */
  private def trainPretransform(e: Entry, p: PretransformKind, pts: Array[Array[Float]]): Unit =
    if (pts.nonEmpty) {
      val (mean, comps) = p.trainTransform(pts, seed(e))
      e.trainedPca = Some((mean, comps))
      trainPointsKind(e, p.inner, pts.map(Pca.projectArr(_, mean, comps)), seed(e))
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
        val built: BuiltIndex = buildKind(e, e.kind, data)
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

  /**
   * The coarse quantizer `kind` trains over `centroids`: flat argmin
   * under the index metric for IVF, under L2 for a coded index (the
   * FAISS PQ convention); an HNSW graph over the centroids for
   * IVF<n>_HNSW<m> (coded: only when there is more than one centroid),
   * walked by [[coarseMetricId]] with beam `coarseEfSearch`. `saved`
   * hands back a graph a save persisted under a given build-input key
   * ([[Coarse.graph]]); without one the graph is built here.
   */
  private def coarseFor(
      e: Entry, kind: Kind, centroids: Array[Array[Float]],
      saved: Long => Option[Nsw.Graph] = _ => None): Coarse = {
    val metricId = VectorMath.metricId(e.meta.metric)
    def graph(m: Int) = Coarse.graph(centroids, m,
      positiveIntParam(e.meta.params, "coarseEfConstruction", 64),
      positiveIntParam(e.meta.params, "coarseEfSearch", 64), coarseMetricId(metricId), saved)
    kind match {
      case IvfHnswKind(_, m) => graph(m)
      case CodedKind(_, _, m) if m > 0 && centroids.length > 1 => graph(m)
      case CodedKind(_, _, _) => FlatCoarse(centroids, VectorMath.L2SQ)
      case _ => FlatCoarse(centroids, metricId)
    }
  }

  private def buildKind(e: Entry, kind: Kind, data: DataFrame): BuiltIndex =
    kind match {
      case FlatKind => new FlatBuilt(cachedLayout(Knn.widen(data)), e.meta) // widen once, before the cache
      case LshKind(bits) => LshBuilt.build(data, e.meta, bits)
      case k @ CodedKind(_, _, _) =>
        // auto-train through the Entry (mirrors the IVF path) so save()
        // persists the trained state and load() never retrains from a
        // partition-order-dependent sample
        if (e.codec.isEmpty) trainPointsKind(e, k, boundedSample(data), seed(e))
        val codec = e.codec.getOrElse(
          throw new IllegalArgumentException("cannot train a coded index's quantizer on an empty index"))
          .forBuild(data.sparkSession.sparkContext, e.meta.name)
        new CodedBuilt(cachedLayout(codedLayout(data, codec, e.coarse)), data, e.meta, codec, e.coarse)
      case HnswKind(m) => HnswBuilt.build(data, e.meta, m)
      case k @ (IvfKind(_) | IvfHnswKind(_, _) | ImiKind(_)) =>
        // auto-train like FAISS: a bounded sample is plenty for a coarse
        // quantizer; don't run Lloyd's over the full corpus. `data` is
        // already in the index's working space (projected when nested
        // under a PCA pretransform), so train directly.
        if (e.coarse.isEmpty) trainPointsKind(e, k, boundedSample(data), seed(e))
        IvfBuilt.build(data, e.meta, e.coarse.getOrElse(k match {
          case ImiKind(_) =>
            throw new IllegalStateException("cannot train an IMI quantizer on an empty index")
          // empty data -> zero centroids -> searches return empty,
          // matching the pre-refactor KMeansTrainer behavior
          case _ => coarseFor(e, k, Array.empty)
        }))
      case p: PretransformKind =>
        if (e.trainedPca.isEmpty) trainPretransform(e, p, boundedSample(data))
        val (mean, comps) = e.trainedPca.getOrElse(throw new IllegalStateException(
          s"cannot auto-train the pretransform of '${e.meta.factory}' on an empty index"))
        val proj = GraftBridge.column(
          PcaProject(GraftBridge.expression(col("vec")), mean, comps))
        new PcaBuilt(buildKind(e, p.inner, data.select(col("label"), proj.as("vec"))), mean, comps)
    }

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

  /** batch searches (k-NN, filtered or range) started since JVM start
    * (calls, not rows scanned) — lets specs assert that executing one
    * SQL `faiss_search` statement searched exactly once (a call
    * duplicated by an optimizer rule would add a second search node, and
    * a second search), and that it searched at execution, whether or
    * not the search ran a job */
  val searchesPlanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** bytes of the driver replicas ([[ShardReplica]]) the catalog's
    * built indexes hold now */
  private[graft] def replicaBytes: Long = ShardReplica.admittedBytes

  /** an entry point's one query collect, checked against index `name`'s dim */
  private def batchOf(name: String, queries: DataFrame): Array[(Long, Array[Float])] =
    queryBatch(queries, "index search query batch", Some(entry(name).meta))

  /** create-time params under the caller's (normalized) ones */
  private def searchParams(name: String, params: Map[String, String]): Map[String, String] =
    entry(name).meta.params ++ normalizeParams(params)

  /**
   * faiss_search twin: top-k per query row. The query batch is
   * collected and dim-checked at the call. On HNSW, Flat, IVF (IVF_HNSW,
   * IMI) and coded indexes the search runs at the call too (its errors
   * surface here): HNSW, Flat and IVF return a local frame, and a coded
   * index returns the exact re-rank of the candidates it found. An HNSW
   * or Flat index held as a driver replica ([[ShardReplica]]) searches
   * in-process with no job; any other runs one.
   * A batch whose shard candidates pass [[localMergeBound]] returns the
   * distributed ranking instead, and LSH returns its search plan; both
   * run when acted on.
   * @param queries (qid bigint, qvec array<float>)
   * @return (qid, rank, label, distance)
   */
  def search(
      name: String, k: Int, queries: DataFrame,
      params: Map[String, String] = Map.empty): DataFrame =
    searchBatch(name, k, batchOf(name, queries), params)

  /** [[search]] over an already-collected batch (SQL `faiss_search`) */
  private[graft] def searchBatch(
      name: String, k: Int, batch: Array[(Long, Array[Float])],
      params: Map[String, String]): DataFrame = {
    searchesPlanned.incrementAndGet()
    build(name).search(batch, k, searchParams(name, params))
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
      params: Map[String, String] = Map.empty): DataFrame =
    searchRadiusBatch(name, radius, batchOf(name, queries), params)

  private[graft] def searchRadiusBatch(
      name: String, radius: Double, batch: Array[(Long, Array[Float])],
      params: Map[String, String]): DataFrame = {
    searchesPlanned.incrementAndGet()
    build(name).searchRadius(batch, radius, searchParams(name, params))
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
      .select(colAt(queries, 0).cast("long").as("qid"))
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
    val batch = batchOf(name, queries)
    searchesPlanned.incrementAndGet()
    build(name).searchRestricted(batch, k, searchParams(name, params), _.where(filter))
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
      params: Map[String, String] = Map.empty): DataFrame =
    searchFilterSetBatch(name, k, batchOf(name, queries), ids, params)

  private[graft] def searchFilterSetBatch(
      name: String, k: Int, batch: Array[(Long, Array[Float])], ids: DataFrame,
      params: Map[String, String]): DataFrame = {
    val idSet = ids.select(colAt(ids, 0).cast("long").as("label"))
    searchesPlanned.incrementAndGet()
    build(name).searchRestricted(batch, k, searchParams(name, params),
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
   * The strategy pick costs one column-pruned aggregate (both counts)
   * over the (cached) built layout — the statistics a 100 TB catalog
   * would serve from table metadata instead of a scan. Output carries
   * the chosen strategy so callers/specs can observe the switch.
   */
  def searchFilterAdaptive(
      name: String, k: Int, queries: DataFrame, filter: Column,
      params: Map[String, String] = Map.empty): DataFrame = {
    val batch = batchOf(name, queries)
    val e = entry(name)
    val b = build(name)
    val merged = searchParams(name, params)
    val cutoff = adaptiveCutoffOf(merged)
    val pad = padOf(merged)
    val counts = b.flatData.agg(count(lit(1)), count(when(filter, 1))).head()
    val total = math.max(counts.getLong(0), 1L)
    val matching = counts.getLong(1)
    if (matching <= math.max(1L, (cutoff * total).toLong)) {
      // the exact scan runs in the index's own space: a pretransform's
      // rows are projected, so its queries are too
      val scanBatch = b match {
        case pca: PcaBuilt => pca.project(batch)
        case _ => batch
      }
      Knn.searchFlatFast(b.flatData.where(filter), scanBatch, k, e.meta.metric, padToK = pad)
        .withColumn("strategy", lit("prefilter_scan"))
    } else {
      val sel = matching.toDouble / total
      val kBoost = math.min(total, math.ceil(2.0 * k / sel).toLong).toInt
      val allowed = b.flatData.where(filter).select("label")
      val metricId = VectorMath.metricId(e.meta.metric)
      val hits = b.search(batch, kBoost, merged - "pad")
        .join(allowed, Seq("label"), "left_semi")
        .select(col("qid"), col("label"), col("distance").as("_dist"))
      Knn.rankResults(hits, k, ascending = VectorMath.smallerIsCloser(metricId), padToK = pad)
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
    val idSet = ids.select(colAt(ids, 0).cast("long").as("label"))
    def rows(layout: DataFrame) = layout.join(broadcast(idSet), Seq("label"), "left_semi")
    b match {
      case c: CodedBuilt =>
        rows(c.data).select(col("label"), GraftBridge.column(CodecDecode(
          GraftBridge.expression(col("code")), c.codec)).as("vec"))
      case _: PcaBuilt =>
        throw new UnsupportedOperationException(
          "reconstruct through a PCA/OPQ pretransform is not supported " +
            "(codes live in projected space; a truncated transform has no inverse)")
      case _ => rows(b.flatData).select(col("label"), col("vec"))
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

  /** One of two row layouts, then each trained part writes itself. A
    * top-level IVF-family index writes its list-partitioned layout,
    * which load serves file-backed without re-assigning; every other
    * index writes its canonical (label, vec) rows, and load rebuilds
    * its structure from them (projected again under a pretransform,
    * encoded again when coded, banded or graphed again). */
  private def saveParts(
      e: Entry, b: BuiltIndex, spark: SparkSession, path: String): Unit = {
    val coarse = b match {
      case ivf: IvfBuilt =>
        ivf.data.write.mode("overwrite").option("compression", "zstd")
          .partitionBy("list_id").parquet(s"$path/data")
        Some(ivf.coarse) // an empty IVF keeps its zero-centroid table
      case _ =>
        e.pending.get.select(col("label"), vec.vector(col("vec")).as("vec"))
          .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/data")
        e.coarse
    }
    coarse.foreach(_.save(spark, path, coarseDirOf(e.kind)))
    e.codec.foreach(_.persist(spark, path))
    e.trainedPca.foreach(Pca.save(spark, _, path))
    import spark.implicits._
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

  /** where a save keeps an index's coarse centroid table: `centroids`
    * for a top-level IVF / IVF_HNSW, `pca_ivf_centroids` for one under a
    * pretransform, the codec family's `pq_coarse` / `sq_coarse` for a
    * coded index; None for an IMI at any level, which persists its half
    * books only (load rebuilds the quantizer from them, never from the
    * K² product table) */
  private def coarseDirOf(kind: Kind): Option[String] = (kind, unwrapped(kind)) match {
    case (_, CodedKind(spec, _, _)) => Some(spec.coarseDir)
    case (_, ImiKind(_)) => None
    case (IvfKind(_) | IvfHnswKind(_, _), _) => Some("centroids")
    case _ => Some("pca_ivf_centroids")
  }

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
    // each trained part the save holds reads itself back; the rest of
    // the index rebuilds lazily from the saved rows at the first build
    val inner = unwrapped(e.kind)
    e.coarse = Coarse.load(spark, path, coarseDirOf(e.kind))(coarseFor(e, inner, _, _))
    inner match {
      case CodedKind(spec, _, _) => e.codec = spec.restore(spark, path)
      case _ =>
    }
    e.trainedPca = Pca.load(spark, path)
    val data = spark.read.parquet(s"$path/data")
    e.pending = Some(data.select(col("label"), col("vec")))
    e.kind match {
      case IvfKind(_) | IvfHnswKind(_, _) | ImiKind(_) =>
        // serve the partitioned layout without re-assigning. NOT cached:
        // the scan must stay file-backed so the static probed-list filter
        // prunes partitions on disk (a cache would materialize every list
        // on first search)
        e.built = Some(new IvfBuilt(
          data.select(col("list_id"), col("label"), col("vec")), e.meta,
          e.coarse.getOrElse(throw new IllegalStateException(
            s"the index saved at '$path' holds no coarse quantizer"))))
      case _ =>
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

  /** PCA pretransform wrapper: projects the query batch (`Pca.projectArr`,
    * `PcaProject`'s arithmetic), delegates to the inner index (whose
    * data/state live entirely in projected space) */
  final class PcaBuilt(
      val inner: BuiltIndex, mean: Array[Float], comps: Array[Array[Float]])
      extends BuiltIndex {
    def data: DataFrame = inner.data
    def meta: IndexMeta = inner.meta

    private[index] def project(batch: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] =
      batch.map { case (qid, v) => (qid, Pca.projectArr(v, mean, comps)) }

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      inner.search(project(batch), k, params)

    override def searchRestricted(
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      inner.searchRestricted(project(batch), k, params, restrict)

    // radius applies in the PROJECTED space. A full-rank orthonormal
    // transform (rotation / full PCA) is an isometry, so distances and
    // the radius predicate are exact; under a TRUNCATED transform the
    // projected distance only lower-bounds the true one — hits would be
    // invented and the emitted distance would silently be the projected
    // value, so that case fails loudly instead of returning wrong rows
    override def searchRadius(
        batch: Array[(Long, Array[Float])], radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      if (comps.length < mean.length)
        throw new UnsupportedOperationException(
          s"range search through a truncated ${comps.length}-of-${mean.length}-dim " +
            "pretransform would return projected-space distances; use k-NN search " +
            "or a full-rank transform")
      inner.searchRadius(project(batch), radius, params, restrict)
    }

    override def close(): Unit = inner.close()
  }

  /** Flat: the shard top-k kernel over the cached layout's partitions,
    * run in-process over the index's [[ShardReplica]] when the replica
    * budget admits one (taken on the first search: a sizing pass, then
    * one collect), else in one job. A filtered search reads the
    * replica's twin rows that pass its restriction when that folds on
    * the driver ([[ShardReplica.restricted]]); any other takes the
    * kernel over the restricted scan ([[BuiltIndex.searchRestricted]]). */
  final class FlatBuilt(val data: DataFrame, val meta: IndexMeta) extends BuiltIndex {
    private[graft] val replica = new ShardReplica.Slot(data.sparkSession.sparkContext,
      ShardReplica.flatBytes(data), ShardReplica.ofFlat(data))

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      Knn.flatTopK(data.sparkSession, Knn.flatShards(data), replica.get.map(_.shards), batch, k, meta.metric,
        excludeSelf = false, padOf(params))

    override def searchRestricted(
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame =
      replica.get.flatMap(_.restricted(data.sparkSession, restrict)) match {
        case Some(rows) =>
          Knn.flatTopK(data.sparkSession, Knn.flatShards(restrict(flatData).select(col("label"), col("vec"))),
            Some(rows), batch, k, meta.metric, excludeSelf = false, padOf(params))
        case None => super.searchRestricted(batch, k, params, restrict)
      }

    override def close(): Unit = { replica.close(); super.close() }
  }

  /** IVF, IVF_HNSW and IMI: raw vectors in the inverted lists of one
    * [[Coarse]] quantizer */
  final class IvfBuilt(
      val data: DataFrame, // (list_id int, label bigint, vec array<float>)
      val meta: IndexMeta,
      val coarse: Coarse,
      cachedParts: Seq[DataFrame] = Nil, // union components to release on close
      private[index] val hasAppends: Boolean = false)
      extends BuiltIndex {

    private val metricId = VectorMath.metricId(meta.metric)

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
      val assignedNew = newRows.select(coarse.assign(col("vec")).as("list_id"), col("label"), col("vec"))
      new IvfBuilt(data.unionByName(assignedNew), meta, coarse,
        if (cachedParts.isEmpty) Seq(data) else cachedParts, hasAppends = true)
    }

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      searchRestricted(batch, k, params, identity)

    /** IVF with the selector composed INSIDE the probe: the restriction
      * applies to the pruned-list scan, so a loose filter over a huge
      * corpus still reads only nprobe lists (vs the flat fallback that
      * scans the whole filtered corpus). The probed-list kernel scores
      * each scanned row against the entries that probe its list, in the
      * one job of [[Knn.shardTopK]]. Exact at nprobe = nlist. */
    override def searchRestricted(
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val (lists, rows) = probedScan(data, Some(coarse), batch, params, restrict, "vec")
      val asc = VectorMath.smallerIsCloser(metricId)
      Knn.shardTopK(data.sparkSession, rows, batch, k, asc, padOf(params))(
        Knn.probedCandidates(lists, k, asc, Knn.vectorScore(meta.metric)))
    }

    /** probed-list radius search: the same probed scan as k-NN, keeping
      * every pair inside the radius instead of a top k (no heap, no
      * shuffle; the plan runs when acted on). Exact at nprobe = nlist;
      * below that, misses are confined to unprobed lists exactly as in
      * FAISS's range_search on IVF. */
    override def searchRadius(
        batch: Array[(Long, Array[Float])], radius: Double, params: Map[String, String],
        restrict: DataFrame => DataFrame = identity): DataFrame = {
      val (lists, rows) = probedScan(data, Some(coarse), batch, params, restrict, "vec")
      val within: Double => Boolean =
        if (VectorMath.smallerIsCloser(metricId)) _ < radius else _ > radius
      val hits = Knn.probedHits(lists, within, Knn.vectorScore(meta.metric))
      val qids = batch.map(_._1)
      val spark = data.sparkSession
      import spark.implicits._
      rows.mapPartitions(hits(_, batch)).map { case (qi, d, l) => (qids(qi), l, d) }
        .toDF("qid", "label", "distance")
    }
  }

  object IvfBuilt {
    def build(data: DataFrame, meta: IndexMeta, coarse: Coarse): IvfBuilt = {
      // all-NaN vectors probe nothing -> park them in list -1 (never
      // probed). Widen first: assignment is the map stage of the list_id
      // shuffle, and on a narrow (single-file) input it would run on one core.
      val assigned = Knn.widen(data)
        .select(coarse.assign(col("vec")).as("list_id"), col("label"), col("vec"))
        .repartition(col("list_id"))
      new IvfBuilt(cachedLayout(assigned), meta, coarse)
    }
  }

  /**
   * The shard input and probe table of an IVF or coded search: the lists
   * each batch entry probes at the search's nprobe (default nlist / 8;
   * without a coarse quantizer every entry probes the one list 0), and
   * the InternalRow scan of (list_id, label, `payload`) rows of
   * `restrict(pruned)`. `pruned` is `layout` under a STATIC `list_id IN`
   * filter of the probed lists' union: on a list-partitioned saved layout
   * unprobed lists are never read (the on-disk analog of FAISS scanning
   * only nprobe inverted lists), and a cached one skips their batches.
   */
  private def probedScan(
      layout: DataFrame, coarse: Option[Coarse], batch: Array[(Long, Array[Float])],
      params: Map[String, String], restrict: DataFrame => DataFrame, payload: String)
      : (Array[Seq[Int]], org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    // probe with the SAME quantizer vectors were assigned with (an IP
    // index probed by L2 would look in lists its vectors never joined)
    val lists = coarse match {
      case Some(c) =>
        val probeOne = c.probe(positiveIntParam(params, "nprobe", math.max(1, c.nlist / 8)))
        batch.map(e => probeOne(e._2))
      case None => batch.map(_ => Seq(0))
    }
    val union = lists.flatten.distinct
    val pruned =
      if (coarse.exists(union.length < _.nlist)) layout.where(col("list_id").isInCollection(union))
      else layout
    val rows = restrict(pruned)
      .select(col("list_id").cast("int"), col("label").cast("long"), col(payload))
      .queryExecution.toRdd
    (lists, rows)
  }

  /** a param that must be a positive integer (nprobe, refine, efSearch,
    * maxIter, efConstruction, ...), or `default` when absent. FAISS
    * rejects nprobe <= 0; a bare toInt would turn 0 into an empty result
    * or an error naming another argument, and a non-integer into an
    * error naming no key. */
  private def positiveIntParam(params: Map[String, String], key: String, default: => Int): Int =
    params.get(key) match {
      case None => default
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"param '$key' must be a positive integer, got '$v'"))
    }

  /** params("pad"): pad every result list to exactly k (label -1) */
  private def padOf(params: Map[String, String]): Boolean =
    params.get("pad").exists(v => v.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"param 'pad' must be true or false, got '$v'")))

  /** searchFilterAdaptive's pre-filter selectivity cutoff, in (0, 1] */
  private def adaptiveCutoffOf(params: Map[String, String]): Double =
    params.get("adaptiveCutoff").map { v =>
      v.toDoubleOption.filter(c => c > 0 && c <= 1).getOrElse(throw new IllegalArgumentException(
        s"param 'adaptiveCutoff' must be a number in (0, 1], got '$v'"))
    }.getOrElse(0.1)

  /** parse every known param once, so a bad value fails at create()
    * naming its key instead of at the first build or search */
  private def checkParams(params: Map[String, String]): Unit = {
    Seq("maxIter", "coarseEfSearch", "coarseEfConstruction", "efConstruction", "bands",
      "nprobe", "refine", "efSearch").foreach(positiveIntParam(params, _, 1))
    seedOf(params)
    padOf(params)
    adaptiveCutoffOf(params)
  }

  /**
   * Coded index (FAISS `[IVF<n>[_HNSW<m>],]PQ<m>|SQ8|SQ4|SQfp16|RQ<m>|LSQ<m>`):
   * vectors stored as fixed-width [[Codec]] codes in inverted lists
   * (one list 0 without a coarse quantizer). Search scans the probed
   * lists' code rows with the probed-list kernel in one job at the call
   * ([[Knn.shardTopK]]), scoring each code against per-query state — ADC
   * tables for PQ, decode-in-loop L2 for the scalar and additive codecs —
   * keeps the top k x refine per qid, then re-ranks those on the
   * original vectors. L2 metric (FAISS convention). The re-rank vectors
   * live in the base table and join back by label; the cached layout
   * holds codes only.
   */
  final class CodedBuilt(
      val data: DataFrame, // (list_id int, label bigint, code binary) — codes only
      private[index] val raw: DataFrame, // the base (label, vec) plan, NOT cached here
      val meta: IndexMeta,
      private[index] val codec: Codec,
      private[index] val coarse: Option[Coarse], // None: one list, no coarse quantizer (nlist = 1)
      cachedParts: Seq[DataFrame] = Nil, // union components to release on close
      private[index] val hasAppends: Boolean = false)
      extends BuiltIndex {

    /** base-table (label, vec) view for exact flat scans and re-rank */
    private[index] def vecData: DataFrame =
      raw.select(col("label").cast("long").as("label"), vec.vector(col("vec")).as("vec"))
    override def flatData: DataFrame = vecData

    /** Incremental append (same contract as IvfBuilt.appended): encode +
      * assign ONLY the new rows with the already-trained codec and
      * centroids (graph coarse included) and union with the cached coded
      * layout — O(batch) per micro-batch, identical to a rebuild because
      * encode/assign are pure functions of the pinned trained state.
      * `newRaw` is the full raw plan (old + batch) so exact re-rank sees
      * appended vectors too. */
    private[index] def appended(newRows: DataFrame, newRaw: DataFrame): CodedBuilt = {
      val newCoded = codedLayout(newRows, codec, coarse, repartitionLists = false)
      new CodedBuilt(data.unionByName(newCoded), newRaw, meta, codec, coarse,
        if (cachedParts.isEmpty) Seq(data) else cachedParts, hasAppends = true)
    }

    /** appends folded into one materialization: codes and raw vectors
      * live in SEPARATE plans, so both checkpoint — codes
      * re-co-partitioned by list, the raw side flattened so pending
      * drops its per-add union tree */
    private[index] def compacted(): CodedBuilt =
      new CodedBuilt(data.repartition(col("list_id")).localCheckpoint(true),
        vecData.localCheckpoint(true), meta, codec, coarse)

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      searchRestricted(batch, k, params, identity)

    /** probed lists (or the one list 0) of the restricted coded rows ->
      * approximate per-code distance -> k x refine candidates per qid ->
      * exact L2 re-rank on the original vectors. The candidates come from
      * the probed-list kernel in the one job of [[Knn.shardTopK]], run at
      * the call; the codes score through one [[CodedScorer]], so a
      * selector keeps compression and pruning instead of a flat fallback
      * scan. The re-rank is the plan returned, run when acted on. */
    override def searchRestricted(
        qArr: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val spark = raw.sparkSession
      val kk = k * positiveIntParam(params, "refine", 4)
      val (lists, rows) = probedScan(data, coarse, qArr, params, restrictCoded(restrict), "code")
      val cands = Knn.shardTopK(spark, rows, qArr, kk, ascending = true, padToK = false)(
        Knn.probedCandidates(lists, kk, ascending = true, codec.scorer(qArr)))
        .select(col("qid"), col("label"))
      // exact re-rank joins the BASE-TABLE vectors by label: the coded
      // layout caches codes only, so the raw `vec` never rides the list
      // shuffle or the cache. The candidate set is <= |q| x k x refine
      // rows and broadcasts; the vector side is one pruned-column pass
      // of the (uncached) base plan — the 100 TB shape, where re-rank
      // vectors live in the base table, not the index.
      Knn.rankResults(
        vecData
          .join(broadcast(cands), "label")
          .join(broadcast(Knn.queryFrame(spark, qArr)), "qid")
          .select(col("qid"), col("label"), vec.l2sq(col("vec"), col("qvec")).as("_dist")),
        k, ascending = true, padToK = padOf(params))
    }

    /** A selector over the codes-only layout. The coded layout
      * carries (list_id, label, code); a predicate referencing `vec`
      * would fail analysis against it. Try the cheap label-side restrict
      * first; on an unresolved column, join the base-table vec back by
      * label, filter, and drop it — the extra join is paid only by
      * vec-referencing predicates. */
    private def restrictCoded(restrict: DataFrame => DataFrame): DataFrame => DataFrame = coded =>
      try restrict(coded)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          restrict(coded.join(vecData, Seq("label"))).select(coded.columns.map(col): _*)
      }

    override def close(): Unit = {
      data.unpersist()
      cachedParts.foreach(_.unpersist())
    }
  }

  /** shared coded layout: widen -> encode -> (optional) coarse
    * assignment with NaN rows parked in never-probed list -1 ->
    * repartition by list. */
  private def codedLayout(
      data: DataFrame, codec: Codec, coarse: Option[Coarse],
      repartitionLists: Boolean = true): DataFrame = {
    // codes ONLY — no raw vectors. The re-rank stage joins the base
    // table by label instead (CodedBuilt.searchRestricted), so the cached layout
    // is m-byte codes (FAISS IVFPQ stores codes, not vectors): at the
    // 100x rung (10M-row bigData) this cut the per-index cache ~8x,
    // which was the difference between fitting and thrashing when
    // several indexes coexist in one session
    val encode = GraftBridge.column(CodecEncode(GraftBridge.expression(col("vec")), codec))
    val wide = Knn.widen(data)
    coarse match {
      case Some(c) =>
        val assigned = wide.select(c.assign(col("vec")).as("list_id"), col("label"), encode.as("code"))
        // append micro-batches skip the list shuffle (IvfBuilt.appended
        // parity): the batch is small and uncached, a per-search
        // repartition would only add an exchange
        if (repartitionLists) assigned.repartition(col("list_id")) else assigned
      case None =>
        wide.select(lit(0).as("list_id"), col("label"), encode.as("code"))
    }
  }

  /** largest query batch a serving path will collect to the driver —
    * fail loudly instead of OOMing the driver on an unbounded query
    * set. Overridable per-session for tests / constrained drivers. */
  private[graft] val MaxQueryBatchDefault = 1 << 20
  private[graft] val MaxQueryBatchConf = "spark.graft.index.maxQueryBatch"

  /** most shard candidates (queries × k × shards) a shard top-k request
    * ([[Knn.shardTopK]]: HNSW's graph shards, the partitions of the Flat
    * and probed-list kernels, or a replica's shards in-process) merges on
    * the driver: 2^20, or fewer when
    * `spark.driver.maxResultSize` (0: unlimited) leaves less than 128
    * bytes a candidate (a task result holds each as a boxed
    * (entry, distance, label) triple). Past it the shards' top-k are
    * ranked in a distributed aggregate. */
  private[graft] def localMergeBound(spark: SparkSession): Long = {
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult <= 0) 1L << 20 else math.min(1L << 20, maxResult / 128)
  }

  /** the bounded collect behind [[queryBatch]]: at most
    * `maxQueryBatch` rows reach the driver, and one more throws with a
    * pointer at the unbounded-join operator instead of collecting to
    * death. `what` names the caller's batch in the error. */
  private[graft] def collectBounded(batch: DataFrame, what: String): Array[Row] = {
    val maxBatch = maxQueryBatch(batch.sparkSession)
    val rows = batch.limit(maxBatch + 1).collect()
    checkBatchSize(rows.length, maxBatch, what)
    rows
  }

  /** `maxQueryBatch`, clamped so that the +1 of a bounded collect can't
    * overflow to a negative limit when the conf is set to Int.MaxValue */
  private def maxQueryBatch(spark: SparkSession): Int =
    math.min(confLong(spark, MaxQueryBatchConf, MaxQueryBatchDefault), Int.MaxValue - 1L).toInt

  private def checkBatchSize(n: Int, maxBatch: Int, what: String): Unit =
    if (n > maxBatch)
      throw new IllegalStateException(
        s"$what exceeds $maxBatch rows ($MaxQueryBatchConf); this serving path collects " +
          "its query batch to the driver (FAISS-parity bounded-batch contract) — use " +
          "graft.search.AnnJoin.ivfJoin / ivfRadiusJoin for unbounded query sets")

  private def checkDims(batch: Array[(Long, Array[Float])], meta: Option[IndexMeta]): Unit =
    meta.foreach { m =>
      if (batch.exists(_._2.length != m.dim))
        throw new IllegalArgumentException(
          s"query vector dimension mismatch: index '${m.name}' has dim ${m.dim}")
    }

  /** `df`'s column at position `i`, quoted so that a name holding a dot
    * or a backtick (`q.id`, a SQL-generated `vec.vector(...)`) resolves
    * as itself rather than as a nested field */
  private[graft] def colAt(df: DataFrame, i: Int): Column =
    col("`" + df.columns(i).replace("`", "``") + "`")

  /** The one query-batch collect behind every serving path (catalog
    * entry points, SQL `faiss_search`, `Knn`'s driver-side kernels):
    * (qid, vector) pairs from `queries`' first two columns, null rows
    * dropped BEFORE the cap so they never count toward it. With an
    * index's `meta`, each dim is checked on the driver (FAISS's
    * d == index->d assertion) before any search job is planned. A local
    * table (`Seq(...).toDF`) is read in place: the same qid cast and
    * vector conversion are evaluated over its rows, and no query is
    * planned; any other frame is collected through [[collectBounded]]. */
  private[graft] def queryBatch(
      queries: DataFrame, what: String, meta: Option[IndexMeta] = None): Array[(Long, Array[Float])] = {
    val pairs = queries.select(colAt(queries, 0).cast("long").as("qid"), vec.vector(colAt(queries, 1)).as("qvec"))
    val batch = localRows(pairs.queryExecution.analyzed) match {
      case Some(rows) =>
        val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        checkBatchSize(kept.length, maxQueryBatch(queries.sparkSession), what)
        kept.map { r =>
          val a = r.getArray(1)
          // a null element reads as 0, as the collected Row's unboxing reads it
          r.getLong(0) -> Array.tabulate(a.numElements())(i => if (a.isNullAt(i)) 0f else a.getFloat(i))
        }.toArray
      case None =>
        collectBounded(pairs.where(col("qid").isNotNull && col("qvec").isNotNull), what)
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    }
    checkDims(batch, meta)
    batch
  }

  /** the rows of a plan of projections over a local relation, evaluated
    * as Spark's ConvertToLocalRelation folds them; None for any other
    * plan, or one holding an expression that must not run here */
  private def localRows(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedMutableProjection, Unevaluable}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, SubqueryAlias}
    plan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data)
      case SubqueryAlias(_, child) => localRows(child)
      case Project(list, child) if list.forall(e => e.deterministic &&
          !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])) =>
        localRows(child).map { rows =>
          val proj = new InterpretedMutableProjection(list, child.output)
          proj.initialize(0)
          rows.map(proj(_).copy())
        }
      case _ => None
    }
  }

  /** [[queryBatch]] over vectors already in driver memory (SQL
    * `faiss_search` over a local query table): the same cap, counted in
    * `vectors`, and the same dim check; each vector's qid is its position */
  private[graft] def localQueryBatch(
      spark: SparkSession, vectors: Seq[Array[Float]], what: String,
      meta: Option[IndexMeta]): Array[(Long, Array[Float])] = {
    checkBatchSize(vectors.length, maxQueryBatch(spark), what)
    val batch = vectors.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
    checkDims(batch, meta)
    batch
  }

  /** Storage level for BUILT index layouts (the corpus-scale caches).
    * Default MEMORY_AND_DISK (deserialized — fastest scans). When
    * several corpus-scale indexes must coexist in one JVM,
    * MEMORY_AND_DISK_SER cuts the vector-row footprint ~3-4x — at the
    * 1000x rung three ~30 GB deserialized layouts in one session
    * overwhelmed spill space and killed the JVM (SURVEY §21.9); the
    * serialized level is the deployment knob for that shape. Accepts
    * any StorageLevel name (MEMORY_ONLY, DISK_ONLY, ...); any other
    * value throws naming the key. Read at build time; rebuild to change. */
  private[graft] val CacheLevelConf = "spark.graft.index.cacheStorageLevel"

  private[index] def cachedLayout(df: DataFrame): DataFrame = {
    val lvl = df.sparkSession.conf.getOption(CacheLevelConf).map { v =>
      try org.apache.spark.storage.StorageLevel.fromString(v)
      catch {
        case ex: IllegalArgumentException => throw new IllegalArgumentException(
          s"$CacheLevelConf must name a storage level (MEMORY_AND_DISK, MEMORY_AND_DISK_SER, ...), got '$v'",
          ex)
      }
    }.getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.persist(lvl)
  }

  /** a non-negative integer conf, naming the key on a bad value instead
    * of surfacing a bare NumberFormatException (the query-batch cap and
    * `Knn`'s thresholds). 0 is valid: for the cap it rejects every
    * non-empty batch. */
  private[graft] def confLong(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      v.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative integer, got '$v'"))
    }.getOrElse(default)

  /**
   * Sharded HNSW: each partition builds an independent NSW graph over
   * its vectors (RDD of graphs, cached as live objects); a search runs
   * every shard graph in parallel in ONE job, and the driver merges the
   * per-shard top-k. Graph search is O(ef log n) per shard instead of
   * a full scan — the architecture real distributed vector stores use,
   * since graph edges can't span executors. efConstruction/efSearch
   * match the reference's parameter names.
   *
   * `search` and a narrow `searchRestricted` search when they are
   * called, like the reference's in-process faiss_search, and return a
   * local result frame: a failing search (an executor lost, a bad
   * parameter) surfaces at the call, not at a later action. When the
   * replica budget admits the graphs (sized at build), the first search
   * collects them into the index's [[ShardReplica]] and every search
   * then walks them in-process with no job; otherwise each search runs
   * one job. A batch whose shard candidates (queries × k × shards) pass
   * [[localMergeBound]] is too big to merge on the driver: it returns
   * the distributed plan that ranks them with [[Knn.rankResults]]
   * instead, run when acted on.
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
      m: Int,
      replicaBytes: Long) // the graphs' replica, estimated at build
      extends BuiltIndex {

    private[graft] val replica = new ShardReplica.Slot(data.sparkSession.sparkContext,
      replicaBytes, ShardReplica.ofGraphs(graphs))

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      searchShards(batch, k, params, graphs.map(g => (g, null: Long => Boolean)),
        replica.get.map(_.shards.map(_.map(g => (g, null: Long => Boolean)))))

    /**
     * Selector inside the graph search (FAISS applies its IDSelector
     * within HNSW traversal, faiss_extension.cpp:940-1000). A NARROW
     * restriction (a Catalyst filter — searchFilter's predicate) keeps
     * the cached shard partitioning, so each shard's allowed labels
     * ride to its own graph: no shuffle, no broadcast, traversal keeps
     * full connectivity and only allowed labels surface. On a replica
     * they are the shard's twin rows that pass the restriction, read on
     * the driver when it folds there ([[ShardReplica.restricted]]);
     * otherwise the restricted label scan, planned once as an
     * InternalRow RDD, rides zipPartitions.
     * A shuffling restriction (searchFilterSet's LEFT SEMI id join)
     * breaks shard alignment — that path stays the EXACT flat scan of
     * the restricted set (pushdown-friendly, and exact beats
     * approximate when the selector already bounds the scan).
     */
    override def searchRestricted(
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val local = replica.get.flatMap { r =>
        r.restricted(data.sparkSession, restrict).map(_.zip(r.shards).map { case (rows, gs) =>
          val allowed = HnswBuilt.allowedOf(rows.iterator)
          gs.map(g => (g, allowed))
        })
      }
      lazy val labels = restrict(data.select(col("label"), col("vec"))).select(col("label"))
      lazy val labelRows = labels.queryExecution.toRdd
      def narrow: Boolean = {
        import org.apache.spark.sql.catalyst.plans.logical._
        !labels.queryExecution.optimizedPlan.exists {
          case _: Aggregate | _: Join | _: Window | _: RepartitionOperation | _: Deduplicate => true
          case s: Sort => s.global
          case _ => false
        }
      }
      // a restriction that folds on the driver is a filter, so narrow
      if (local.isEmpty && (!narrow || labelRows.getNumPartitions != graphs.getNumPartitions))
        super.searchRestricted(batch, k, params, restrict)
      else searchShards(batch, k, params,
        graphs.zipPartitions(labelRows) { (git, rit) =>
          val allowed = HnswBuilt.allowedOf(rit)
          git.map(g => (g, allowed))
        },
        local)
    }

    /** the request path: every shard graph is searched for the whole
      * batch, each under its shard's selector (null: every label), and
      * the shards' top-k are merged by [[Knn.shardTopK]], in-process over
      * `local` (the replica's shards) when given */
    private def searchShards(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        shards: => org.apache.spark.rdd.RDD[(Nsw.Graph, Long => Boolean)],
        local: Option[Array[Array[(Nsw.Graph, Long => Boolean)]]]): DataFrame = {
      val efSearch = positiveIntParam(params, "efSearch", math.max(2 * k, 64))
      val metricId = VectorMath.metricId(meta.metric)
      Knn.shardTopK(data.sparkSession, shards, batch, k, VectorMath.smallerIsCloser(metricId), padOf(params),
          local) {
        (shard, qs) => shard.flatMap { case (g, allowed) =>
          qs.indices.iterator.flatMap { qi =>
            Nsw.search(g, qs(qi)._2, k, efSearch, metricId, allowed).iterator.map { case (d, l) => (qi, d, l) }
          }
        }
      }
    }

    /** driver snapshot of the per-shard graphs for injected replay
      * oracles — None past `maxNodes` total (gate-scale verification
      * surface; the serving replica is the budgeted [[replica]]). The cap is
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
      replica.close()
      graphs.unpersist(blocking = false)
      super.close()
    }
  }

  object HnswBuilt {
    /** the labels of (label, ...) rows, as a graph walk's selector */
    private def allowedOf(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Long => Boolean = {
      val allowed = new java.util.HashSet[Long]()
      rows.foreach(r => allowed.add(r.getLong(0)))
      allowed.contains
    }

    def build(data: DataFrame, meta: IndexMeta, m: Int): HnswBuilt = {
      val efC = positiveIntParam(meta.params, "efConstruction", math.max(64, 2 * m))
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
      // materializes graph construction once, and sizes the graphs' replica
      val replicaBytes = graphs.map(ShardReplica.graphBytes).fold(0L)(_ + _)
      new HnswBuilt(cached, meta, graphs, m, replicaBytes)
    }
  }

  final class LshBuilt(
      val data: DataFrame, // (bucket bigint, label bigint, vec array<float>): one row per band
      override val flatData: DataFrame, // the unbanded (label, vec) input plan, NOT cached here
      val meta: IndexMeta, bands: Int, bitsPerBand: Int, seed: Long)
      extends BuiltIndex {

    def search(batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String]): DataFrame =
      searchRestricted(batch, k, params, identity)

    /** bucket probing over the restricted rows (the banded layout keeps
      * `label`, so predicates/semi-joins apply before the bucket join) */
    override def searchRestricted(
        batch: Array[(Long, Array[Float])], k: Int, params: Map[String, String],
        restrict: DataFrame => DataFrame): DataFrame = {
      val qb = Knn.queryFrame(data.sparkSession, batch).select(col("qid"), col("qvec"),
        explode(hashes.hyperplaneBuckets(col("qvec"), bands, bitsPerBand, seed)).as("bucket"))
      val d = vec.dist(meta.metric, col("vec"), col("qvec"))
      val asc = VectorMath.smallerIsCloser(VectorMath.metricId(meta.metric))
      Knn.rankResults(
        restrict(data).join(broadcast(qb), "bucket")
          // a (label, qid) pair can match in several bands; compute the
          // distance in codegen, then dedup on (qid,label) before ranking
          .select(col("qid"), col("label"), d.as("_dist"))
          .dropDuplicates("qid", "label"),
        k, asc, padOf(params))
    }
  }

  object LshBuilt {
    /** bands when params carry no explicit "bands" — referenced by the
      * replay oracles, same single-definition rule as [[DefaultSeed]] */
    val DefaultBands = 16
    def build(data: DataFrame, meta: IndexMeta, bitsPerBand: Int): LshBuilt = {
      val bands = positiveIntParam(meta.params, "bands", DefaultBands)
      val seed = IndexCatalog.seedOf(meta.params)
      // widen before hashing: bucket computation is the map stage of the
      // bucket shuffle and must not run on a single narrow partition
      val bucketed = Knn.widen(data)
        .select(
          explode(hashes.hyperplaneBuckets(col("vec"), bands, bitsPerBand, seed)).as("bucket"),
          col("label"), col("vec"))
        .repartition(col("bucket"))
        .cache()
      new LshBuilt(bucketed, data, meta, bands, bitsPerBand, seed)
    }
  }
}
