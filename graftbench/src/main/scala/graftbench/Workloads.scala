package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{TopKHeap, VectorMath}
import graft.index.{IndexCatalog, KMeansTrainer}
import graft.text.TextFunctions

/**
 * One workload: a closed loop of operations by one client. Besides its
 * op latencies (recorded by the [[Harness]]), a workload reports its
 * throughput, its answer quality against the benchmark's own oracle,
 * and the per-layer numbers it can only measure from outside.
 */
trait Workload {
  /** input sizes and parameters, recorded with every result */
  def sizes: Seq[(String, Any)]
  /** the operation whose latency is `op_p50_ms` */
  def unitKind: String
  /** lowest answer quality that still counts as correct */
  def qualityFloor: Double
  /** builds the state the loop runs against, up to its first result */
  def setup(h: Harness): Unit
  /** untimed: oracle inputs and any cheap cold-start ops; the
    * warm-up window that follows runs [[step]] */
  def prepare(h: Harness): Unit
  /** one step of the closed loop */
  def step(h: Harness): Unit
  /** the latencies `op_p50_ms` is the median of, in window `win` */
  def latencies(h: Harness, win: String): Seq[Double] = h.samplesMs(unitKind, win)
  /** items processed per second of op time in window `win` */
  def throughput(h: Harness, win: String): Double
  /** mean answer quality of window `win` */
  def quality(win: String): Double = q.mean(win)
  /** verified, untimed steps after [[prepare]]. JIT and codegen keep
    * improving over many seconds of full-size work, and a timed window
    * that starts cold trends down. The warm-up is a fixed amount of
    * work, so a slower host does not also start the timed window with a
    * colder JIT. */
  def warmupSteps: Int
  /** steps per block when traced and untraced blocks alternate */
  def traceBlock: Int = 1
  /** traced runs: per-layer numbers measured by calls outside the loop */
  def layerProbes(h: Harness): Map[String, Double] = Map.empty

  protected val q = new Quality
}

/** per-window mean of quality samples, committed only for correct ops */
final class Quality {
  private val sums = mutable.Map.empty[String, (Double, Long)].withDefaultValue((0.0, 0L))
  def add(win: String, xs: Iterable[Double]): Unit = {
    val (s, n) = sums(win)
    sums(win) = (s + xs.sum, n + xs.size)
  }
  def mean(win: String): Double = { val (s, n) = sums(win); if (n == 0) Double.NaN else s / n }
}

object Workloads {
  def apply(name: String, seed: Long, work: File): Workload = name match {
    case "ann_serve" => new AnnServe(seed, work)
    case "dedup_curate" => new DedupCurate(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Dim = 64
  val K = 10

  /** corpus vectors generated on the executors, ids from..from+n */
  def vectorsDf(spark: SparkSession, mix: Gen.Mixture, stream: Int, from: Long, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, spark.sparkContext.defaultParallelism).as[Long]
      .map(id => (id, mix.vec(stream, id))).toDF("id", "vec")
  }

  def queriesDf(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.toDF("qid", "qvec")
  }

  /** (qid, rank, label, distance) rows -> answer per query */
  def answers(rows: Array[Row]): Map[Long, Oracle.Answer] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (qid, rs) =>
      val s = rs.sortBy(_.getAs[Int]("rank"))
      qid -> Oracle.Answer(s.map(_.getAs[Long]("label")), s.map(_.getAs[Double]("distance")))
    }

  /** (qid, rs array<struct<rank, label, distance>>) rows of faiss_search */
  def sqlAnswers(rows: Array[Row]): Map[Long, Oracle.Answer] =
    rows.map { r =>
      val s = r.getSeq[Row](1).sortBy(_.getAs[Int]("rank"))
      r.getLong(0) -> Oracle.Answer(s.map(_.getAs[Long]("label")).toArray,
        s.map(_.getAs[Double]("distance")).toArray)
    }.toMap

  /** nodes of a physical plan, through the adaptive wrapper and its
    * query stages */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => 1 + planNodes(s.plan)
    case _ => 1 + p.children.map(planNodes).sum
  }

  /**
   * Checks every query's answer against the oracle: the universal
   * k-NN checks, then recall@k against the exact answer over `allowed`
   * vectors. Returns the first violation, or the recalls.
   */
  def check(
      qs: Seq[(Long, Array[Float])], ans: Map[Long, Oracle.Answer],
      ids: Array[Long], vecs: Array[Array[Float]], vecOf: Long => Option[Array[Float]],
      allowed: Long => Boolean): Either[String, Seq[Double]] = {
    val recalls = mutable.ArrayBuffer.empty[Double]
    val it = qs.iterator
    while (it.hasNext) {
      val (qid, qv) = it.next()
      val a = ans.getOrElse(qid, Oracle.Answer(Array.empty, Array.empty))
      if (a.labels.isEmpty) return Left(s"no answer for query $qid")
      Oracle.violations(a, K, allowed, vecOf, qv) match {
        case Some(v) => return Left(s"query $qid: $v")
        case None =>
      }
      val exact = Oracle.topK(qv, ids, vecs, K)
      recalls += Oracle.recall(a, exact, l => Oracle.l2sq(qv, vecOf(l).get), K)
    }
    Right(recalls.toSeq)
  }

  /** block-manager bytes held by cached RDDs */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** ns per pair of VectorMath.distArr and per TopKHeap.insert over the
    * workload's own vectors: best of five rounds */
  def kernelProbes(vecs: Array[Array[Float]], queries: Array[Array[Float]]): Map[String, Double] = {
    val dists = new Array[Double](vecs.length * queries.length)
    def pairRound(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < queries.length) {
        var j = 0
        while (j < vecs.length) {
          dists(i * vecs.length + j) = VectorMath.distArr(VectorMath.L2SQ, queries(i), vecs(j), 0.0)
          j += 1
        }
        i += 1
      }
      (System.nanoTime() - t0).toDouble / dists.length
    }
    def heapRound(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < queries.length) {
        val heap = new TopKHeap(K, true)
        var j = 0
        while (j < vecs.length) { heap.insert(dists(i * vecs.length + j), j.toLong); j += 1 }
        i += 1
      }
      (System.nanoTime() - t0).toDouble / dists.length
    }
    Map(
      "functions.l2sq_ns_per_pair" -> (1 to 5).map(_ => pairRound()).min,
      "functions.topk_ns_per_insert" -> (1 to 5).map(_ => heapRound()).min)
  }
}

import Workloads._

/**
 * ann_serve: requests of 8 queries against a built HNSW index, in a
 * fixed seeded mix of 2 IndexCatalog.search : 1 SQL faiss_search :
 * 1 searchFilter. Per-call planning and scheduling dominate, so driver
 * and SQL-rewrite changes move it and kernel changes should not.
 */
final class AnnServe(seed: Long, work: File) extends Workload {
  val unitKind = "request"
  val qualityFloor = 0.8
  /** one block is one seeded mix of four requests */
  override val traceBlock = 4
  val warmupSteps = 96
  private val n = 10000
  private val batch = 8
  /** requests cycle through a fixed seeded pool, so every run asks the
    * same questions in the same order whatever its speed */
  private val pool = 32
  private val efSearch = 64
  private val mod = 20
  private val residue = (Gen.mix64(seed) & 0xffff).toInt % mod
  private val index = "graftbench_serve"
  private val params = Map("efSearch" -> efSearch.toString)
  private val mix = new Gen.Mixture(seed, Dim, 100)
  def sizes: Seq[(String, Any)] = Seq(
    "vectors" -> n, "dim" -> Dim, "clusters" -> 100, "factory" -> "IDMap,HNSW32",
    "k" -> K, "efSearch" -> efSearch, "queries_per_request" -> batch,
    "request_pool" -> pool, "mix" -> "search:sql:filter = 2:1:1",
    "filter" -> s"label % $mod = $residue")

  private var ids: Array[Long] = _
  private var vecs: Array[Array[Float]] = _
  private var fIds: Array[Long] = _
  private var fVecs: Array[Array[Float]] = _
  private var issued = 0L
  private var lastPlanNodes = 0

  def setup(h: Harness): Unit = {
    h.must("setup.add") {
      IndexCatalog.create(index, Dim, "IDMap,HNSW32")
      IndexCatalog.add(vectorsDf(h.spark, mix, 0, 0, n), index)
    }
    h.must("index.build")(IndexCatalog.build(index))
    h.must("setup.first_result") {
      IndexCatalog.search(index, K, queriesDf(h.spark, Seq(0L -> mix.vec(1, -1))), params).collect()
    }
  }

  /** the oracle's vectors, then one evaluation pass over the pool:
    * `quality` is recall over the pool, the same in every run of a seed */
  def prepare(h: Harness): Unit = {
    vecs = mix.vecs(0, 0, n)
    ids = Array.tabulate(n)(_.toLong)
    val keep = ids.indices.filter(i => i % mod == residue)
    fIds = keep.map(i => ids(i)).toArray
    fVecs = keep.map(i => vecs(i)).toArray
    val win = h.window
    h.window = "eval"
    for (_ <- 0 until pool) step(h)
    h.window = win
  }

  /** request kinds in seeded blocks of four */
  private def kindOf(i: Long): String = {
    val block = Array("search", "search", "sql", "filter")
    val r = new Gen.Rng(seed * 7919 + i / 4)
    for (j <- block.indices.reverse) {
      val s = r.nextInt(j + 1); val t = block(j); block(j) = block(s); block(s) = t
    }
    block((i % 4).toInt)
  }

  def step(h: Harness): Unit = {
    val i = issued
    issued += 1
    val p = i % pool
    val qs = (0 until batch).map(j => (j.toLong, mix.vec(1, p * batch + j)))
    val kind = kindOf(p)
    val vecOf = (l: Long) => if (l >= 0 && l < n) Some(vecs(l.toInt)) else None
    val filtered = kind == "filter"
    h.op(unitKind) {
      val qdf = queriesDf(h.spark, qs)
      val (planSpan, execSpan) = kind match {
        case "sql" => ("sql.plan", "sql.exec")
        case "filter" => ("search.filter_plan", "search.exec")
        case _ => ("search.plan", "search.exec")
      }
      val df = h.trace.span(planSpan) {
        val d = kind match {
          case "sql" =>
            qdf.createOrReplaceTempView("graftbench_q")
            h.spark.sql(s"SELECT qid, faiss_search('$index', $K, qvec, " +
              s"map('efSearch', '$efSearch')) AS rs FROM graftbench_q")
          case "filter" =>
            IndexCatalog.searchFilter(index, K, qdf, col("label") % mod === residue, params)
          case _ => IndexCatalog.search(index, K, qdf, params)
        }
        d.queryExecution.executedPlan
        d
      }
      val rows = h.trace.span(execSpan)(df.collect())
      if (h.trace.enabled) lastPlanNodes = planNodes(df.queryExecution.executedPlan)
      (kind, rows)
    } { case (k, rows) =>
      val ans = if (k == "sql") sqlAnswers(rows) else answers(rows)
      val r =
        if (filtered) check(qs, ans, fIds, fVecs, vecOf, l => l % mod == residue)
        else check(qs, ans, ids, vecs, vecOf, _ => true)
      r.fold(Some(_), recalls => {
        val key = (h.window, p)
        recall(key) = math.min(recall.getOrElse(key, 1.0), recalls.sum / recalls.size)
        None
      })
    }.foreach { case (k, _) =>
      kinds(h.records.last.group) = k
      blocks(h.records.last.group) = i / 4
    }
  }

  /** request group -> kind, for the per-kind breakdown */
  val kinds = mutable.Map.empty[String, String]
  private val blocks = mutable.Map.empty[String, Long]
  /** (window, pool entry) -> the lowest recall@10 of its requests */
  private val recall = mutable.Map.empty[(String, Long), Double]

  /** mean recall over the pool: per entry the lower of its evaluation
    * pass and its requests in `win`, so a window that answers worse
    * than the evaluation shows, and a slower run, which reaches fewer
    * entries, reads the same */
  override def quality(win: String): Double =
    (0L until pool).map { p =>
      math.min(recall.getOrElse(("eval", p), Double.NaN), recall.getOrElse((win, p), 1.0))
    }.sum / pool

  /** request times of the complete mix blocks of window `win` */
  private def blockTimes(h: Harness, win: String): Seq[Seq[Double]] =
    h.records.filter(r => r.window == win && r.kind == unitKind && blocks.contains(r.group))
      .groupBy(r => blocks(r.group)).values.filter(_.size == 4)
      .map(_.map(_.ns / 1e6).toSeq).toSeq

  /** the mean request time of each complete mix block: the median of
    * single requests would sit on the edge between the fast search
    * and the slower filter and SQL requests, and jump between them */
  override def latencies(h: Harness, win: String): Seq[Double] =
    blockTimes(h, win).map(b => b.sum / b.size)

  def throughput(h: Harness, win: String): Double = {
    val bs = blockTimes(h, win)
    bs.map(_.size).sum * batch / (bs.map(_.sum).sum / 1000.0)
  }

  /** after the measured blocks: memory of the serve index, the kernels
    * over its vectors, a coded index's lifecycle and writes against
    * the serve index */
  override def layerProbes(h: Harness): Map[String, Double] = {
    val storage = cachedBytes(h.spark).toDouble / n
    kernelProbes(vecs.take(2000), mix.vecs(1, -100000, 32)) ++ Map(
      "index.cached_bytes_per_vector" -> storage,
      "search.plan_nodes" -> lastPlanNodes.toDouble) ++
      lifecycleProbe(h) ++ writeProbe(h)
  }

  /** an `IDMap,IVF256,PQ16` index over the same vectors: train alone,
    * then create -> add -> first result -> save -> destroy -> load ->
    * first result. The first results run the training and encoding
    * graft defers, so their spans end at the answer. Times come from
    * the spans; the probe returns what spans cannot give. */
  private def lifecycleProbe(h: Harness): Map[String, Double] = {
    val name = "graftbench_lifecycle"
    val path = new File(work, "index-lifecycle")
    val probe = Seq(0L -> mix.vec(1, -1))
    val vecOf = (l: Long) => if (l >= 0 && l < n) Some(vecs(l.toInt)) else None
    def first(): Array[Row] = IndexCatalog.search(name, K, queriesDf(h.spark, probe)).collect()
    val tr = h.trace
    h.op("probe.lifecycle") {
      val data = vectorsDf(h.spark, mix, 0, 0, n).cache()
      data.count()
      tr.span("index.train")(KMeansTrainer.train(data.select(col("vec")), 256, 42L, 10))
      IndexCatalog.create(name, Dim, "IDMap,IVF256,PQ16", params = Map("nprobe" -> "16", "refine" -> "40"))
      IndexCatalog.add(data, name)
      val r1 = tr.span("index.first_search")(first())
      val imbalance = IndexCatalog.stats(name).collect()(0).getAs[Double]("imbalance_factor")
      tr.span("index.save")(IndexCatalog.save(name, path.getPath))
      val saved = dirBytes(path).toDouble / n
      IndexCatalog.destroy(name)
      tr.span("index.load")(IndexCatalog.load(name, path.getPath, h.spark))
      val r2 = tr.span("index.first_search_after_load")(first())
      IndexCatalog.destroy(name)
      deleteTree(path)
      data.unpersist()
      (Seq(r1, r2), Map("index.imbalance_factor" -> imbalance, "index.saved_bytes_per_vector" -> saved))
    } { case (results, _) =>
      results.iterator.map { r =>
        answers(r).get(0L) match {
          case None => Some("no first result")
          case Some(a) => Oracle.violations(a, K, _ => true, vecOf, probe.head._2)
        }
      }.collectFirst { case Some(v) => s"lifecycle first result: $v" }
    }.map(_._2).getOrElse(Map.empty)
  }

  /** adds with explicit ids to the serve index, each followed by a
    * search for one added vector, which must come back at rank 1; then
    * one remove of half the added ids */
  private def writeProbe(h: Harness): Map[String, Double] = {
    val adds = 4
    val addN = 500
    var built = 0
    for (b <- 0 until adds) {
      val start = n.toLong + b * addN
      val own = start + addN / 2
      h.op("probe.add") {
        h.trace.span("index.add")(IndexCatalog.add(vectorsDf(h.spark, mix, 2, start, addN), index))
        if (IndexCatalog.isBuilt(index)) built += 1
        IndexCatalog.search(index, K, queriesDf(h.spark, Seq(0L -> mix.vec(2, own))), params).collect()
      } { rows =>
        if (answers(rows).get(0L).exists(_.labels.headOption.contains(own))) None
        else Some(s"read-your-writes: added vector $own is not at rank 1")
      }
    }
    val gone = (n.toLong until n.toLong + adds * addN by 2).toSeq
    h.op("probe.remove") {
      val spark = h.spark
      import spark.implicits._
      h.trace.span("index.remove")(IndexCatalog.remove(index, gone.toDF("id")))
    } { got => if (got != gone.size) Some(s"removed $got of ${gone.size} live ids") else None }
    Map("index.incremental_ratio" -> built.toDouble / adds)
  }
}

/**
 * dedup_curate: exact dedup -> MinHash signatures -> LSH candidates ->
 * connected components -> survivors passing a quality filter, written
 * to the noop sink. Hash kernels and shuffle do the work; no vector
 * code runs.
 */
final class DedupCurate(seed: Long, work: File) extends Workload {
  val unitKind = "curate"
  val qualityFloor = 0.9
  val warmupSteps = 4
  private val n = 5000
  private val numHashes = 128
  private val bands = 32
  private val shingle = 3
  private val minQuality = 0.5
  def sizes: Seq[(String, Any)] = Seq(
    "documents" -> n, "mean_tokens" -> 120, "vocabulary" -> 20000, "near_dup_fraction" -> 0.10,
    "exact_dup_fraction" -> 0.01, "minhash" -> numHashes, "bands" -> bands,
    "shingle" -> shingle, "min_quality" -> minQuality)

  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var keepOf: Map[Long, Long] = _
  private var family: Array[Long] = _
  private val docsDone = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var candidatePairs = 0L
  private var setups = 0

  /** the first `size` documents as a parquet table */
  private def table(h: Harness, size: Int): DataFrame = {
    val path = new File(work, s"corpus-$setups-$size").getPath
    val spark = h.spark
    import spark.implicits._
    corpus.texts.iterator.take(size).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("id", "text").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def setup(h: Harness): Unit = h.must("setup.corpus") {
    corpus = Gen.corpus(seed, n)
    setups += 1
    docs = table(h, n)
    docs.count()
  }

  def prepare(h: Harness): Unit = {
    // an exact copy maps to the first document with its text
    val first = mutable.HashMap.empty[String, Long]
    keepOf = corpus.texts.indices.map(i => i.toLong -> first.getOrElseUpdate(corpus.texts(i), i.toLong)).toMap
    family = Oracle.families(corpus)
    h.op("exact_check")(Dedup.exact(docs, "id", "text").count()) { groups =>
      if (groups != first.size) Some(s"exact dedup kept $groups texts, ${first.size} are distinct") else None
    }
    // the warm-up passes run on the first documents only: same plans
    // and code paths, a fraction of the cost
    val warm = table(h, n / 5)
    for (_ <- 0 until 2) pass(h, warm, n / 5)
  }

  def step(h: Harness): Unit = pass(h, docs, n)

  /** materializes a stage in traced runs, so each stage's work lands in
    * its own span instead of in the action that finally runs it */
  private def stage(h: Harness, span: String)(df: => DataFrame): DataFrame =
    h.trace.span(span) {
      val d = df
      if (h.trace.enabled) d.cache().count()
      d
    }

  private def pass(h: Harness, docs: DataFrame, size: Int): Unit = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    h.op(unitKind) {
      val exact = stage(h, "dedup.exact")(Dedup.exact(docs, "id", "text"))
      val kept = docs.join(exact.select(col("keep_id").as("id")), "id")
      val sig = stage(h, "dedup.signatures")(
        Dedup.minhashSignatures(kept, "id", "text", numHashes, shingle, seed))
      val cand = stage(h, "dedup.candidates")(Dedup.candidatesFromSignatures(sig, numHashes, bands))
      cached ++= Seq(exact, sig, cand)
      if (h.trace.enabled) candidatePairs = cand.count()
      val comp = h.trace.span("dedup.components")(Dedup.connectedComponents(cand))
      h.trace.span("text.quality") {
        kept.join(comp, Seq("id"), "left")
          .where(col("cluster_id").isNull || col("cluster_id") === col("id"))
          .where(TextFunctions.qualityScore(col("text")) >= minQuality)
          .write.format("noop").mode("overwrite").save()
      }
      comp
    } { comp =>
      val cluster = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val c = (id: Long) => cluster.getOrElse(id, id)
      val planted = corpus.nearPairs.filter(_._2 < size)
      val found = planted.count { case (a, b) => c(keepOf(a)) == c(keepOf(b)) }
      val recall = found.toDouble / math.max(1, planted.length)
      val kept = (0L until size).filter(id => keepOf(id) == id)
      val merged = Oracle.overMerged(kept.map(id => id -> c(id)), id => family(id.toInt))
      val unlabelled = cluster.valuesIterator.find(l => !cluster.get(l).contains(l))
      if (recall < qualityFloor)
        Some(f"dup_recall $recall%.4f below $qualityFloor (${planted.length} planted pairs)")
      else if (merged > size / 1000)
        Some(s"components join $merged families more than planted (at most ${size / 1000} allowed)")
      else if (unlabelled.isDefined)
        Some(s"component ${unlabelled.get} does not contain its own label, so it has no survivor")
      else { q.add(h.window, Seq(recall)); None }
    }.foreach(_ => docsDone(h.window) += size)
    cached.foreach(_.unpersist())
  }

  def throughput(h: Harness, win: String): Double =
    docsDone(win) / (h.samplesMs(unitKind, win).sum / 1000.0)

  override def layerProbes(h: Harness): Map[String, Double] = Map(
    "dedup.candidate_pairs" -> candidatePairs.toDouble,
    "dedup.candidates_per_true_pair" ->
      candidatePairs.toDouble / math.max(1, corpus.nearPairs.length))
}
