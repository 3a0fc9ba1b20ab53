package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.functions.{vec, VectorMath}
import graft.index.IndexCatalog.{CodedBuilt, IvfBuilt}
import graft.search.Knn

/**
 * IVF (IVF, IVF_HNSW, IMI) and coded indexes on the shard top-k route:
 * the probed-list kernel ([[Knn.probedCandidates]]) under
 * [[Knn.shardTopK]] must return, row for row, what the plans it replaced
 * return — the broadcast probe join ranked by `rankResults`, kept below
 * as [[ReferenceIvfRoute]], and the coded row plan (probe join, code
 * distance, `vec.topk`, exact re-rank), kept as [[ReferenceCodedRoute]].
 * A search runs its candidate scan in one job with no shuffle.
 */
class ProbedTopKSpec extends SparkSpec {

  override def afterAll(): Unit = {
    IndexCatalog.list().map(_.name).filter(_.startsWith("ptk_")).foreach(IndexCatalog.destroy)
    super.afterAll()
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** one random index and the searches run against it */
  private case class Case(
      factory: String, corpus: Seq[(Long, Array[Float])], batch: Seq[(Long, Array[Float])],
      nprobe: Int, k: Int, refine: Int, pad: Boolean, allowed: Seq[Long], radius: Double) {
    override def toString: String =
      s"Case($factory, n=${corpus.size}, nprobe=$nprobe, k=$k, refine=$refine, pad=$pad, " +
        s"radius=$radius, allowed=${allowed.size}, " +
        s"batch=${batch.map { case (q, v) => s"$q:${v.mkString("[", ",", "]")}" }.mkString(" ")})"
  }

  // 4-d values on a 1/2 grid, so that distances tie and the label order decides
  private val vector: Gen[Array[Float]] = Gen.listOfN(4, Gen.choose(-4, 4).map(_ / 2f)).map(_.toArray)

  private val cases: Gen[Case] = for {
    nlist <- Gen.choose(1, 8)
    factory <- Gen.oneOf(
      s"IDMap,IVF$nlist,Flat", s"IDMap,IVF${nlist}_HNSW4,Flat", "IDMap,IMI2x1,Flat",
      s"IDMap,IVF$nlist,PQ2", s"IDMap,IVF$nlist,SQ8", s"IDMap,IVF${nlist}_HNSW4,SQ8", "IDMap,PQ2")
    lists = if (factory.contains("IMI2x1")) 4 else nlist
    n <- Gen.choose(8, 48)
    corpus <- Gen.listOfN(n, vector).map(_.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    nprobe <- Gen.choose(1, lists)
    entries <- Gen.choose(1, 5)
    // qids 0..3 repeat across entries; one entry in six is a NaN query
    drawn <- Gen.listOfN(entries, Gen.zip(Gen.choose(0L, 3L),
      Gen.frequency(5 -> vector, 1 -> vector.map(_.updated(2, Float.NaN)))))
    // and now and then an entry repeats verbatim
    batch <- Gen.oneOf(drawn, drawn :+ drawn.head)
    k <- Gen.choose(1, 10)
    refine <- Gen.choose(1, 3)
    pad <- Gen.oneOf(false, true)
    allowed <- Gen.someOf(corpus.map(_._1))
    radius <- Gen.oneOf(0.5, 2.0, 6.0)
  } yield Case(factory, corpus, batch, nprobe, k, refine, pad, allowed.toSeq, radius)

  private val narrow: Column = col("label") % 3 =!= 0

  test("property: IVF and coded searches equal the probe-join plans row for row (nlist, nprobe, " +
    "repeated qids, a NaN query, pad, a narrow predicate, a semi-join restriction, IVF radius)") {
    import spark.implicits._
    var id = 0
    val prop = Prop.forAllNoShrink(cases) { c =>
      id += 1
      val name = s"ptk_p$id"
      IndexCatalog.create(name, 4, c.factory, "l2sq")
      try {
        IndexCatalog.add(c.corpus.toDF("label", "vec"), name)
        val params = Map("nprobe" -> c.nprobe.toString, "refine" -> c.refine.toString,
          "pad" -> c.pad.toString)
        val qs = c.batch.toDF("qid", "qvec")
        val batch = IndexCatalog.queryBatch(qs, "spec batch")
        val ids = c.allowed.toDF("id")
        val semi: DataFrame => DataFrame =
          _.join(ids.select(col("id").cast("long").as("label")), Seq("label"), "left_semi")
        val routes: Seq[(String, DataFrame, DataFrame)] = IndexCatalog.build(name) match {
          case ivf: IvfBuilt =>
            def ref(r: DataFrame => DataFrame) = ReferenceIvfRoute.search(ivf, batch, c.k, c.nprobe, c.pad, r)
            Seq(
              ("search", IndexCatalog.search(name, c.k, qs, params), ref(identity)),
              ("filter", IndexCatalog.searchFilter(name, c.k, qs, narrow, params), ref(_.where(narrow))),
              ("filterSet", IndexCatalog.searchFilterSet(name, c.k, qs, ids, params), ref(semi)),
              ("radius", IndexCatalog.searchRadius(name, c.radius, qs, params),
                ReferenceIvfRoute.radius(ivf, batch, c.radius, c.nprobe)))
          case coded: CodedBuilt =>
            def ref(r: DataFrame => DataFrame) =
              ReferenceCodedRoute.search(coded, batch, c.k, c.refine, c.nprobe, c.pad, r)
            Seq(
              ("search", IndexCatalog.search(name, c.k, qs, params), ref(identity)),
              ("filter", IndexCatalog.searchFilter(name, c.k, qs, narrow, params), ref(_.where(narrow))),
              ("filterSet", IndexCatalog.searchFilterSet(name, c.k, qs, ids, params), ref(semi)))
          case other => fail(s"unexpected built index $other")
        }
        routes.map { case (route, got, want) =>
          val (g, w) = (rowsOf(got), rowsOf(want))
          (g == w) :| s"$route: $g != reference $w"
        }.reduce(_ && _)
      } finally IndexCatalog.destroy(name)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(30).withWorkers(1).withInitialSeed(Seed(20261020L)),
      prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  test("IVF and coded batches past the driver-merge bound rank the candidates in the distributed " +
    "aggregate, row for row as the reference routes") {
    import spark.implicits._
    val rnd = new java.util.Random(23)
    val corpus = (0 until 64).map(i => (i.toLong, Array.fill(4)(rnd.nextInt(9) / 2f)))
    for ((name, factory, k, refine) <- Seq(("ptk_big_ivf", "IDMap,IVF8,Flat", 256, 1),
        ("ptk_big_pq", "IDMap,IVF8,PQ2", 64, 4))) {
      IndexCatalog.create(name, 4, factory, "l2sq", Map("nprobe" -> "1", "refine" -> refine.toString))
      IndexCatalog.add(corpus.toDF("label", "vec"), name)
      val b = IndexCatalog.build(name)
      val parts = b.data.queryExecution.toRdd.getNumPartitions
      // one entry more than the bound allows, the last one repeating qid 0
      val n = (IndexCatalog.localMergeBound(spark) / (k.toLong * refine * parts)).toInt
      val qs = ((0 until n).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat() * 4f))) :+
        (0L, Array(1f, 1f, 1f, 1f))).toDF("qid", "qvec")
      val batch = IndexCatalog.queryBatch(qs, "spec batch")
      assert(batch.length.toLong * k * refine * parts > IndexCatalog.localMergeBound(spark))
      for (pad <- Seq(false, true)) {
        val got = IndexCatalog.search(name, k, qs, Map("pad" -> pad.toString))
        val want = b match {
          case ivf: IvfBuilt =>
            assert(!got.queryExecution.executedPlan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
              s"$name pad=$pad")
            ReferenceIvfRoute.search(ivf, batch, k, 1, pad, identity)
          case coded: CodedBuilt => ReferenceCodedRoute.search(coded, batch, k, refine, 1, pad, identity)
          case other => fail(s"unexpected built index $other")
        }
        assert(rowsOf(got) === rowsOf(want), s"$name pad=$pad")
      }
      IndexCatalog.destroy(name)
    }
  }

  test("IVF search and a narrow IVF searchFilter run one job of one stage with no shuffle; a coded " +
    "search runs its candidate scan in one job with no shuffle at the call") {
    import spark.implicits._
    val rnd = new java.util.Random(29)
    val corpus = (0 until 200).map(i => (i.toLong, Array.fill(4)(rnd.nextInt(17) / 4f)))
    val qs = Seq((0L, Array(0.2f, 0f, 1f, 2f)), (1L, Array(3.7f, 3.1f, 0f, 1f)), (1L, Array(2f, 2f, 2f, 2f)))
      .toDF("qid", "qvec")
    for ((name, factory) <- Seq(("ptk_jobs_ivf", "IDMap,IVF4,Flat"), ("ptk_jobs_pq", "IDMap,IVF4,PQ2"))) {
      IndexCatalog.create(name, 4, factory, "l2sq", Map("nprobe" -> "2"))
      IndexCatalog.add(corpus.toDF("label", "vec"), name)
      IndexCatalog.search(name, 3, qs).collect() // builds outside the count
    }
    var jobs = 0
    var stages = 0
    var shuffleBytes = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      }
    }
    def counted(f: => Any): (Int, Int, Long) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs = 0; stages = 0; shuffleBytes = 0L
      spark.sparkContext.addSparkListener(listener)
      try { f; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(listener)
      (jobs, stages, shuffleBytes)
    }
    // the query batch is a local table: its collect runs no job
    assert(counted(assert(IndexCatalog.search("ptk_jobs_ivf", 3, qs).collect().length === 6)) === ((1, 1, 0L)),
      "IVF search")
    assert(counted(IndexCatalog.searchFilter("ptk_jobs_ivf", 3, qs, col("label") % 2 === 0).collect()) ===
      ((1, 1, 0L)), "IVF searchFilter")
    // the call runs the candidate scan; the returned plan is the exact re-rank
    assert(counted(IndexCatalog.search("ptk_jobs_pq", 3, qs)) === ((1, 1, 0L)), "coded search")
  }

  test("with the local Flat serve on, filtered searches collect no driver corpus and return the rows " +
    "they return with it off") {
    import spark.implicits._
    val name = "ptk_local"
    IndexCatalog.create(name, 2, "IDMap,Flat")
    IndexCatalog.add((0 until 100).map(i => (i.toLong, Array((i % 10).toFloat, (i / 10).toFloat)))
      .toDF("label", "vec"), name)
    val qs = Seq((0L, Array(0.2f, 0f)), (1L, Array(7.7f, 3.1f)), (1L, Array(2f, 2f))).toDF("qid", "qvec")
    def filtered(): Seq[Seq[String]] = Seq(
      rowsOf(IndexCatalog.searchFilter(name, 3, qs, col("label") % 2 === 0)),
      rowsOf(IndexCatalog.searchFilter(name, 3, qs, col("label") > 40)),
      rowsOf(IndexCatalog.searchFilter(name, 3, qs, element_at(col("vec"), 2) < 3f)))
    IndexCatalog.search(name, 3, qs).collect() // takes the replica
    val held = IndexCatalog.replicaBytes
    val local = filtered()
    assert(IndexCatalog.replicaBytes === held)
    IndexCatalog.build(name).asInstanceOf[IndexCatalog.FlatBuilt].replica.close()
    assert(IndexCatalog.replicaBytes < held)
    assert(filtered() === local)
    IndexCatalog.destroy(name)
  }

  test("a coded batch scores each entry with its own query state: a repeated qid's entries each " +
    "equal the entry scanned alone") {
    import spark.implicits._
    val name = "ptk_repeated"
    val rnd = new java.util.Random(31)
    IndexCatalog.create(name, 4, "IDMap,IVF4,PQ2", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add((0 until 120).map(i => (i.toLong, Array.fill(4)(rnd.nextInt(17) / 4f))).toDF("label", "vec"), name)
    val c = IndexCatalog.build(name).asInstanceOf[CodedBuilt]
    val rows = c.data.queryExecution.toRdd.map(_.copy()).collect() // (list_id, label, code)
    // qid 0 three times, with three different vectors
    val batch = Array((0L, Array(0.5f, 1f, 2f, 3f)), (1L, Array(3f, 3f, 0f, 1f)),
      (0L, Array(3.5f, 0f, 1.5f, 0.25f)), (0L, Array(2f, 2f, 2f, 2f)))
    def scan(qs: Array[(Long, Array[Float])]): Seq[(Int, Double, Long)] =
      Knn.probedCandidates(Array.fill(qs.length)(0 until 4: Seq[Int]), 8, ascending = true, c.codec.scorer(qs))(
        rows.iterator, qs).toSeq
    val together = scan(batch)
    for (qi <- batch.indices) {
      val alone = scan(Array(batch(qi)))
      assert(alone.nonEmpty)
      assert(together.filter(_._1 == qi).map(c => (c._2, c._3)) === alone.map(c => (c._2, c._3)), s"entry $qi")
    }
    IndexCatalog.destroy(name)
  }
}

/** IVF's candidate plan as it stood before the probed-list kernel: the
  * batch's (qid, qvec, list_id) probes broadcast-joined to the restricted,
  * list-pruned layout, ranked by [[Knn.rankResults]]. */
private object ReferenceIvfRoute {
  private def candidates(ivf: IvfBuilt, batch: Array[(Long, Array[Float])], nprobe: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    val spark = ivf.data.sparkSession
    import spark.implicits._
    val probeOne = ivf.coarse.probe(nprobe)
    val byQuery = batch.toSeq.map { case (qid, qv) => (qid, qv, probeOne(qv)) }
    val probes = byQuery
      .flatMap { case (qid, qv, ls) => ls.map(l => (qid, qv.toSeq, l)) }
      .toDF("qid", "qvec", "list_id")
      .select(col("qid"), vec.vector(col("qvec")).as("qvec"), col("list_id"))
    val union = byQuery.flatMap(_._3).distinct
    val pruned =
      if (union.size < ivf.coarse.nlist) ivf.data.where(col("list_id").isInCollection(union))
      else ivf.data
    restrict(pruned).join(broadcast(probes), "list_id")
      .select(col("qid"), col("label"), vec.dist(ivf.meta.metric, col("vec"), col("qvec")).as("_dist"))
  }

  private def ascending(ivf: IvfBuilt): Boolean = VectorMath.smallerIsCloser(VectorMath.metricId(ivf.meta.metric))

  def search(ivf: IvfBuilt, batch: Array[(Long, Array[Float])], k: Int, nprobe: Int, pad: Boolean,
      restrict: DataFrame => DataFrame): DataFrame =
    Knn.rankResults(candidates(ivf, batch, nprobe, restrict), k, ascending(ivf), pad)

  def radius(ivf: IvfBuilt, batch: Array[(Long, Array[Float])], radius: Double, nprobe: Int): DataFrame = {
    val cmp = if (ascending(ivf)) col("_dist") < lit(radius) else col("_dist") > lit(radius)
    candidates(ivf, batch, nprobe, identity).where(cmp)
      .select(col("qid"), col("label"), col("_dist").as("distance"))
  }
}

/** The coded row plan as it stood before the probed-list kernel (the
  * packed chunk scan it replaced ranked identically): probe pairs joined
  * to the restricted, list-pruned codes (crossed with the batch entries
  * when there is one list), each code scored with its batch entry's
  * query state, the top k x refine labels per qid kept by `vec.topk`,
  * then the exact re-rank. */
private object ReferenceCodedRoute {
  def search(c: CodedBuilt, qArr: Array[(Long, Array[Float])], k: Int, refine: Int, nprobe: Int,
      pad: Boolean, restrict: DataFrame => DataFrame): DataFrame = {
    val spark = c.data.sparkSession
    import spark.implicits._
    val scorer = c.codec.scorer(qArr)
    val codeDist = udf((code: Array[Byte], entry: Int) => scorer.distance(scorer.state(entry, null), code))
    val base = restrict(c.data)
    val candSource = c.coarse match {
      case Some(coarse) =>
        val probeOne = coarse.probe(nprobe)
        val pairs = qArr.toSeq.zipWithIndex.flatMap { case ((qid, qv), e) => probeOne(qv).map(l => (e, qid, l)) }
        val lists = pairs.map(_._3).distinct
        val pruned =
          if (lists.size < coarse.nlist) base.where(col("list_id").isInCollection(lists)) else base
        pruned.join(broadcast(pairs.toDF("entry", "qid", "list_id")), "list_id")
      case None =>
        base.crossJoin(broadcast(qArr.map(_._1).toSeq.zipWithIndex.map(_.swap).toDF("entry", "qid")))
    }
    val cands = candSource
      .select(col("qid"), col("label"), codeDist(col("code"), col("entry")).as("_code_dist"))
      .groupBy(col("qid"))
      .agg(vec.topk(k * refine, col("_code_dist"), col("label"), ascending = true).as("nn"))
      .select(col("qid"), explode(col("nn.label")).as("label"))
    Knn.rankResults(
      c.vecData
        .join(broadcast(cands), "label")
        .join(broadcast(Knn.queryFrame(spark, qArr)), "qid")
        .select(col("qid"), col("label"), vec.l2sq(col("vec"), col("qvec")).as("_dist")),
      k, ascending = true, padToK = pad)
  }
}
