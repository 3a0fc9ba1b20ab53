package graft.index

import java.nio.file.Files

import graft.SparkSpec
import graft.search.Knn

class IndexCatalogSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def grid = {
    import spark.implicits._
    (for (x <- 0 until 16; y <- 0 until 16)
      yield (y * 16L + x, Array(x.toFloat, y.toFloat))).toDF("label", "vec")
  }
  private def qs = {
    import spark.implicits._
    Seq((0L, Array(3.2f, 3.1f)), (1L, Array(12.0f, 1.0f))).toDF("qid", "qvec")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap

  override def afterAll(): Unit = { IndexCatalog.destroyAll(); super.afterAll() }

  test("flat index search equals brute force") {
    IndexCatalog.create("t_flat", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_flat")
    val got = labelsOf(IndexCatalog.search("t_flat", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("remove_ids: survivors searchable and exact, removed never surface, IDMap-gated") {
    import spark.implicits._
    IndexCatalog.create("t_rm", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_rm")
    IndexCatalog.search("t_rm", 2, qs).count() // force a build before the remove
    val doomed = grid.where(col("label") % 3 === 0).select("label")
    val nDoomed = doomed.count()
    assert(IndexCatalog.remove("t_rm", doomed) === nDoomed)
    // removing already-gone + unknown ids is a no-op returning 0
    assert(IndexCatalog.remove("t_rm", Seq(0L, 999999L).toDF("label")) === 0L)
    val got = IndexCatalog.search("t_rm", 4, qs)
    got.select("label").collect().foreach(r =>
      assert(r.getLong(0) % 3 !== 0L, s"removed id ${r.getLong(0)} surfaced"))
    // exhaustive probe over the survivors must equal brute force on them
    val want = labelsOf(Knn.searchFlat(grid.where(col("label") % 3 =!= 0), qs, 4, "l2sq"))
    assert(labelsOf(got) === want)
    // non-IDMap indexes reject remove (FAISS renumbering semantics)
    IndexCatalog.create("t_rm_plain", 2, "Flat")
    IndexCatalog.add(grid.select("vec"), "t_rm_plain")
    intercept[UnsupportedOperationException](
      IndexCatalog.remove("t_rm_plain", doomed))
  }

  test("duplicate create fails, destroy frees the name") {
    IndexCatalog.create("t_dup", 2, "Flat")
    intercept[IllegalStateException](IndexCatalog.create("t_dup", 2, "Flat"))
    IndexCatalog.destroy("t_dup")
    IndexCatalog.create("t_dup", 2, "Flat") // now fine
  }

  test("auto-id add assigns dense sequential labels across batches") {
    import spark.implicits._
    IndexCatalog.create("t_auto", 2, "Flat")
    IndexCatalog.add(grid.select("vec").limit(100).repartition(3), "t_auto")
    IndexCatalog.add(grid.select("vec").limit(50).repartition(2), "t_auto")
    val labels = IndexCatalog.build("t_auto").data.select("label").collect()
      .map(_.getLong(0)).sorted
    assert(labels.toSeq === (0L until 150L))
  }

  test("IVF with exhaustive nprobe is exact") {
    IndexCatalog.create("t_ivf_x", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_ivf_x")
    val got = labelsOf(IndexCatalog.search("t_ivf_x", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("IVF with partial nprobe keeps high recall on clustered queries") {
    IndexCatalog.create("t_ivf_p", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "3"))
    IndexCatalog.add(grid, "t_ivf_p")
    val got = labelsOf(IndexCatalog.search("t_ivf_p", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("concurrent add/search/retrain race: per-entry locking keeps the catalog consistent") {
    // the reference's Go harness shape (main_test.go): writers append,
    // readers search, a maintainer retrains — all racing on ONE index.
    // Contract pinned here: every operation is individually atomic
    // (per-Entry monitor), no operation throws, every appended label is
    // searchable once its add returns, and the final exhaustive search
    // is exact over whatever the interleaving produced.
    import spark.implicits._
    val name = "t_conc"
    IndexCatalog.create(name, 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, name)
    IndexCatalog.search(name, 1, qs).count() // initial build
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val added = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    (0 until 6).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          (0 until 4).foreach { i =>
            t % 3 match {
              case 0 => // writer: fresh far-away labels, distinct per (t, i)
                val base = 10000L + t * 1000L + i * 10L
                IndexCatalog.add(
                  (0 until 3).map(j => (base + j, Array(50f + t, 40f + i)))
                    .toDF("label", "vec"), name)
                added.addAndGet(3)
              case 1 => // reader: bounded result set, never a crash
                assert(IndexCatalog.search(name, 4, qs).count() <= 8)
              case 2 => // maintainer: re-derive centroids from current rows
                IndexCatalog.retrain(name)
            }
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS), "race test timed out")
    assert(errs.isEmpty, s"concurrent ops raised: ${Option(errs.peek()).map(_.toString)}")
    // nothing lost, nothing duplicated, and search is exact afterwards
    val allRows = IndexCatalog.build(name).data.select("label").collect().map(_.getLong(0))
    assert(allRows.length === allRows.distinct.length)
    assert(allRows.length === 256 + added.get())
    val want = labelsOf(Knn.searchFlat(
      IndexCatalog.build(name).data.select("label", "vec"), qs, 4, "l2sq"))
    assert(labelsOf(IndexCatalog.search(name, 4, qs)) === want)
  }

  test("IVF_HNSW coarse quantizer: exhaustive probe exact, partial probe high recall, incremental add consistent") {
    // exhaustive: graph assignment can't cost recall when every list is scanned
    IndexCatalog.create("t_ivfh_x", 2, "IDMap,IVF8_HNSW4,Flat", "l2sq", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_ivfh_x")
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(labelsOf(IndexCatalog.search("t_ivfh_x", 4, qs)) === want)
    // partial probe through the graph walk
    IndexCatalog.create("t_ivfh_p", 2, "IDMap,IVF8_HNSW4,Flat", "l2sq",
      Map("nprobe" -> "3", "coarseEfSearch" -> "16"))
    IndexCatalog.add(grid, "t_ivfh_p")
    val got = labelsOf(IndexCatalog.search("t_ivfh_p", 4, qs))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
    // incremental append goes through the SAME graph assignment
    import spark.implicits._
    IndexCatalog.search("t_ivfh_x", 1, qs).count() // force build
    IndexCatalog.add(Seq((999L, Array(3.2f, 3.1f))).toDF("label", "vec"), "t_ivfh_x")
    val withNew = labelsOf(IndexCatalog.search("t_ivfh_x", 1, qs))
    assert(withNew(0L) === Seq(999L)) // the appended exact-match vector wins at distance 0
  }

  test("IVF_HNSW save/load round-trips (graph rebuilds deterministically from saved centroids)") {
    val dir = Files.createTempDirectory("graft_ivfh").toString
    IndexCatalog.create("t_ivfh_s", 2, "IDMap,IVF8_HNSW4,Flat", "l2sq", Map("nprobe" -> "3"))
    IndexCatalog.add(grid, "t_ivfh_s")
    val before = labelsOf(IndexCatalog.search("t_ivfh_s", 4, qs))
    IndexCatalog.save("t_ivfh_s", dir)
    IndexCatalog.destroy("t_ivfh_s")
    IndexCatalog.load("t_ivfh_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_ivfh_l", 4, qs)) === before)
  }

  test("a top-level IMI save holds its half books and no product centroid table") {
    val dir = Files.createTempDirectory("graft_imi_nc_save").toString
    IndexCatalog.create("t_imi_nc_s", 2, "IDMap,IMI2x2", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_imi_nc_s")
    IndexCatalog.save("t_imi_nc_s", dir) // the round trip is the IMI2x save/load test's
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).find(_.startsWith("v1-")).get
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v1/pq_codebooks")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v1/centroids")))
  }

  test("coarse graph persists on save; loaded-graph search equals rebuilt-graph search; key mismatch rebuilds") {
    val dir = Files.createTempDirectory("graft_cgpersist").toString
    IndexCatalog.create("t_cg_s", 2, "IDMap,IVF8_HNSW4,Flat", "l2sq", Map("nprobe" -> "3"))
    IndexCatalog.add(grid, "t_cg_s")
    val before = labelsOf(IndexCatalog.search("t_cg_s", 4, qs))
    IndexCatalog.save("t_cg_s", dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).find(_.startsWith("v1-")).get
    // the adjacency layout landed next to data/centroids
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v1/coarse_graph")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v1/coarse_graph_meta")))
    // loaded graph serves identically to the rebuilt one (the graph is
    // a pure function of centroids+params, so this is an equality, not
    // a recall bound)
    IndexCatalog.load("t_cg_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_cg_l", 4, qs)) === before)
    // tamper the persisted KEY: load must fall back to a rebuild (same
    // results) instead of trusting a mismatched adjacency
    import spark.implicits._
    Seq((0L, -1, -1)).toDF("key", "entry", "max_level")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$v1/coarse_graph_meta")
    IndexCatalog.load("t_cg_l2", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_cg_l2", 4, qs)) === before)
    // coded composition (IVF_HNSW,SQ8) persists and round-trips too
    val dir2 = Files.createTempDirectory("graft_cgpersist2").toString
    IndexCatalog.create("t_cg_sq", 2, "IDMap,IVF8_HNSW4,SQ8", "l2sq",
      Map("nprobe" -> "8", "refine" -> "64"))
    IndexCatalog.add(grid, "t_cg_sq")
    val beforeSq = labelsOf(IndexCatalog.search("t_cg_sq", 4, qs))
    IndexCatalog.save("t_cg_sq", dir2)
    val v1sq = fs.listStatus(new org.apache.hadoop.fs.Path(dir2))
      .map(_.getPath.getName).find(_.startsWith("v1-")).get
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir2/$v1sq/coarse_graph")))
    IndexCatalog.load("t_cg_sql", dir2, spark)
    assert(labelsOf(IndexCatalog.search("t_cg_sql", 4, qs)) === beforeSq)
  }

  test("a graph coarse under PCA/OPQ persists its adjacency; load takes it; a key mismatch rebuilds") {
    import spark.implicits._
    // the list sizes' skew: 8.0 (= nlist) when every vector sits in one list
    def imbalanceOf(nm: String) = IndexCatalog.stats(nm).head().getDouble(2)
    for (fac <- Seq("IDMap,PCA2,IVF8_HNSW4,Flat", "IDMap,OPQ2,IVF8_HNSW4,Flat",
                    "IDMap,PCA2,IVF8_HNSW4,PQ2", "IDMap,OPQ2,IVF8_HNSW4,PQ2")) {
      val nm = "t_wcg_" + fac.filter(_.isLetterOrDigit)
      IndexCatalog.create(nm, 2, fac, "l2sq", Map("nprobe" -> "1", "refine" -> "8"))
      IndexCatalog.add(grid, nm)
      val rowsBefore = resultRowsOf(nm)
      val skewBefore = imbalanceOf(nm)
      assert(skewBefore < 8.0, fac)
      val dir = Files.createTempDirectory("graft_wrapped_cg").toString
      IndexCatalog.save(nm, dir)
      IndexCatalog.destroy(nm)
      val v1 = new java.io.File(dir).list().find(_.startsWith("v1-")).get
      assert(new java.io.File(s"$dir/$v1/coarse_graph").isDirectory, fac)
      assert(new java.io.File(s"$dir/$v1/coarse_graph_meta").isDirectory, fac)
      IndexCatalog.load(nm, dir, spark)
      assert(resultRowsOf(nm) === rowsBefore, fac)
      IndexCatalog.destroy(nm)
      // tamper the adjacency under the right key: with no edges the walk
      // stops at the entry node, so a load that takes the saved graph puts
      // every vector into the entry's list
      val graph = spark.read.parquet(s"$dir/$v1/coarse_graph").collect().map { r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Float](2), r.getInt(3),
          r.getSeq[AnyRef](4).map(_ => Seq.empty[Int]), r.getSeq[Long](5))
      }.toSeq
      graph.toDF("node_id", "label", "vec", "level", "adj", "dups")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$v1/coarse_graph")
      IndexCatalog.load(nm, dir, spark)
      assert(imbalanceOf(nm) === 8.0, s"$fac: the load did not take the saved adjacency")
      IndexCatalog.destroy(nm)
      // tamper the key too: the load rebuilds the graph and serves as before the save
      val meta = spark.read.parquet(s"$dir/$v1/coarse_graph_meta").head()
      Seq((meta.getLong(0) + 1, meta.getInt(1), meta.getInt(2))).toDF("key", "entry", "max_level")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$v1/coarse_graph_meta")
      IndexCatalog.load(nm, dir, spark)
      assert(resultRowsOf(nm) === rowsBefore, fac)
      assert(imbalanceOf(nm) === skewBefore, fac)
      IndexCatalog.destroy(nm)
    }
  }

  test("save -> destroy -> load serves the same rows for every kind but HNSW") {
    import spark.implicits._
    // SearchBatchCompatSpec's kinds over 96 seeded 8-d vectors on a 1/8
    // grid; HNSW rebuilds its shard graphs from the loaded partitioning
    // (its recall across a save is the HNSW save/load test's)
    val rnd = new java.util.Random(11)
    val data = (0 until 96).map(i => (i.toLong, Array.fill(8)((rnd.nextInt(33) - 16) / 8.0f)))
    val corpus = data.toDF("label", "vec")
    val q8 = (100 until 103).map(i => (i.toLong, data(i - 90)._2.map(_ + 0.0625f))).toDF("qid", "qvec")
    def rowsOf(nm: String) = IndexCatalog.search(nm, 4, q8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val kinds = SearchBatchCompatSpec.kinds.filterNot(_._1 == "bc_hnsw") ++ Seq(
      ("rt_pcaivfhnsw", "IDMap,PCA2,IVF8_HNSW4,Flat", Map("nprobe" -> "2")),
      ("rt_opqivfhnswpq", "IDMap,OPQ2,IVF8_HNSW4,PQ2", Map("nprobe" -> "2", "refine" -> "2")))
    for ((kindName, fac, params) <- kinds) {
      val nm = "t_rt_" + kindName
      IndexCatalog.create(nm, 8, fac, "l2sq", params)
      IndexCatalog.add(corpus, nm)
      val before = rowsOf(nm)
      val dir = Files.createTempDirectory("graft_rt").toString
      IndexCatalog.save(nm, dir)
      IndexCatalog.destroy(nm)
      IndexCatalog.load(nm, dir, spark)
      assert(rowsOf(nm) === before, fac)
      IndexCatalog.destroy(nm)
    }
    // an LSH index holding one (label, vec) row twice keeps both copies
    IndexCatalog.create("t_rt_lshdup", 8, "IDMap,LSH4", "l2sq", Map("bands" -> "6"))
    IndexCatalog.add(corpus, "t_rt_lshdup")
    IndexCatalog.add(corpus.where(col("label") === 12L), "t_rt_lshdup")
    def radiusOf(nm: String) = IndexCatalog.searchRadius(nm, 9.0, q8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val (before, radiusBefore) = (rowsOf("t_rt_lshdup"), radiusOf("t_rt_lshdup"))
    assert(IndexCatalog.stats("t_rt_lshdup").head().getLong(0) === 97L)
    val dir = Files.createTempDirectory("graft_rt_lsh").toString
    IndexCatalog.save("t_rt_lshdup", dir)
    IndexCatalog.destroy("t_rt_lshdup")
    IndexCatalog.load("t_rt_lshdup", dir, spark)
    assert(rowsOf("t_rt_lshdup") === before)
    assert(radiusOf("t_rt_lshdup") === radiusBefore)
    assert(IndexCatalog.stats("t_rt_lshdup").head().getLong(0) === 97L)
  }

  test("IMI2x: exhaustive probe exact, partial probe useful recall, grammar + guards") {
    // grammar
    assert(IndexCatalog.parseFactory("IMI2x4,Flat") === IndexCatalog.ImiKind(4))
    assert(IndexCatalog.parseFactory("IDMap,IMI2x8") === IndexCatalog.ImiKind(8))
    intercept[IllegalArgumentException](IndexCatalog.parseFactory("IMI2x9,Flat")) // > 2x8
    intercept[IllegalArgumentException](IndexCatalog.parseFactory("IMI2x4,PQ4")) // coded storage
    // guards: IP metric and odd dim fail at create, not mid-search
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_imi_ip", 2, "IDMap,IMI2x2,Flat", "ip"))
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_imi_odd", 3, "IDMap,IMI2x2,Flat", "l2sq"))
    // exhaustive probe (nprobe = nlist = 16): every product cell is
    // scanned, so the k-means cells cannot cost recall — exact
    IndexCatalog.create("t_imi_x", 2, "IDMap,IMI2x2,Flat", "l2sq", Map("nprobe" -> "16"))
    IndexCatalog.add(grid, "t_imi_x")
    assert(labelsOf(IndexCatalog.search("t_imi_x", 4, qs))
      === labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq")))
    // partial probe through the multi-sequence keeps useful recall
    IndexCatalog.create("t_imi_p", 2, "IDMap,IMI2x2,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_imi_p")
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val got = labelsOf(IndexCatalog.search("t_imi_p", 4, qs))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"IMI partial-probe recall $recall")
  }

  test("IMI2x save/load round-trips (half books persist); appended adds assign via the books") {
    val dir = Files.createTempDirectory("graft_imi").toString
    IndexCatalog.create("t_imi_s", 2, "IDMap,IMI2x2,Flat", "l2sq", Map("nprobe" -> "16"))
    IndexCatalog.add(grid.where(col("label") < 200), "t_imi_s")
    IndexCatalog.search("t_imi_s", 4, qs) // force the build pre-save
    IndexCatalog.save("t_imi_s", dir)
    IndexCatalog.destroy("t_imi_s")
    IndexCatalog.load("t_imi_l", dir, spark)
    // loaded index serves exactly (exhaustive probe = flat over the subset)
    assert(labelsOf(IndexCatalog.search("t_imi_l", 4, qs))
      === labelsOf(Knn.searchFlat(grid.where(col("label") < 200), qs, 4, "l2sq")))
    // incremental add AFTER load: assignment must run through the
    // restored half books (the appended() path), staying exact at
    // exhaustive probe over the full corpus
    IndexCatalog.add(grid.where(col("label") >= 200), "t_imi_l")
    assert(labelsOf(IndexCatalog.search("t_imi_l", 4, qs))
      === labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq")))
  }

  test("pretransform-wrapped IMI save/load restores its half books, results identical") {
    for ((nm, fac) <- Seq(("t_pca_imi", "IDMap,PCA2,IMI2x1"), ("t_opq_imi", "IDMap,OPQ2,IMI2x1"))) {
      IndexCatalog.create(nm, 2, fac, "l2sq", Map("nprobe" -> "2"))
      IndexCatalog.add(grid, nm)
      val rowsBefore = resultRowsOf(nm)
      val booksBefore = IndexCatalog.trainedPqOf(nm).map(_._1.map(_.map(_.toSeq).toSeq).toSeq)
      assert(booksBefore.isDefined, s"$nm: built IMI must expose its half books")
      val dir = Files.createTempDirectory("graft_wrapped_imi").toString
      IndexCatalog.save(nm, dir)
      IndexCatalog.destroy(nm)
      IndexCatalog.load(nm, dir, spark)
      // restored by load itself, not retrained at the next build
      assert(IndexCatalog.trainedPqOf(nm).map(_._1.map(_.map(_.toSeq).toSeq).toSeq) === booksBefore,
        s"$nm: load must restore the saved half books")
      assert(resultRowsOf(nm) === rowsBefore, s"$nm: save/load changed results")
    }
  }

  test("IVF_HNSW factory grammar: Flat, PQ, and SQ storage all compose with the graph coarse") {
    assert(IndexCatalog.parseFactory("IVF64_HNSW8,PQ8") === IndexCatalog.CodedKind(PqCodecSpec(8), 64, 8))
    assert(IndexCatalog.parseFactory("IVF64_HNSW8,SQ8") === IndexCatalog.CodedKind(SqCodecSpec(Sq.V8), 64, 8))
    // one codec per index: a second codec token is an error, not ignored
    intercept[IllegalArgumentException](IndexCatalog.parseFactory("IVF4,PQ2,SQ8"))
    intercept[IllegalArgumentException](IndexCatalog.parseFactory("IVF4,PQ2,SQ16"))
    assert(IndexCatalog.parseFactory("IVF64_HNSW8,Flat") === IndexCatalog.IvfHnswKind(64, 8))
    assert(IndexCatalog.parseFactory("IVF64_HNSW") === IndexCatalog.IvfHnswKind(64, 32))
  }

  test("IVF_HNSW,PQ / ,SQ8: exhaustive probe + corpus refine exact; partial probe high recall") {
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    for ((nm, fac) <- Seq(("t_ivfhpq", "IDMap,IVF8_HNSW4,PQ2"), ("t_ivfhsq", "IDMap,IVF8_HNSW4,SQ8"))) {
      // both knobs at their exact end: nprobe = nlist scans every list
      // regardless of graph assignment, refine covers the whole corpus
      IndexCatalog.create(nm, 2, fac, "l2sq", Map("nprobe" -> "8", "refine" -> "64"))
      IndexCatalog.add(grid, nm)
      assert(labelsOf(IndexCatalog.search(nm, 4, qs)) === want, nm)
      // partial probe through the graph walk keeps useful recall
      IndexCatalog.create(nm + "_p", 2, fac, "l2sq",
        Map("nprobe" -> "3", "refine" -> "16", "coarseEfSearch" -> "16"))
      IndexCatalog.add(grid, nm + "_p")
      val got = labelsOf(IndexCatalog.search(nm + "_p", 4, qs))
      val recall = qs.collect().map(_.getLong(0)).map { q =>
        got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
      }.sum / 2
      assert(recall >= 0.75, s"$nm recall $recall")
    }
  }

  test("IVF_HNSW,PQ save/load round-trips (codebooks + coarse centroids persist, graph rebuilds)") {
    val dir = Files.createTempDirectory("graft_ivfhpq").toString
    IndexCatalog.create("t_ivfhpq_s", 2, "IDMap,IVF8_HNSW4,PQ2", "l2sq",
      Map("nprobe" -> "3", "refine" -> "16"))
    IndexCatalog.add(grid, "t_ivfhpq_s")
    val before = labelsOf(IndexCatalog.search("t_ivfhpq_s", 4, qs))
    IndexCatalog.save("t_ivfhpq_s", dir)
    IndexCatalog.destroy("t_ivfhpq_s")
    IndexCatalog.load("t_ivfhpq_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_ivfhpq_l", 4, qs)) === before)
  }

  test("coded incremental append: add-after-build keeps built state, appended rows searchable (incl. graph coarse)") {
    import spark.implicits._
    for ((nm, fac) <- Seq(("t_pq_incr", "IDMap,IVF4,PQ2"), ("t_ivfhpq_incr", "IDMap,IVF8_HNSW4,PQ2"),
                          ("t_sq_incr", "IDMap,IVF4,SQ8"), ("t_rq_incr", "IDMap,IVF4,RQ2"),
                          ("t_lsq_incr", "IDMap,IVF4,LSQ2"), ("t_sq4_incr", "IDMap,SQ4"),
                          ("t_sqfp16_incr", "IDMap,SQfp16"), ("t_ivfhsq_incr", "IDMap,IVF8_HNSW4,SQ8"))) {
      IndexCatalog.create(nm, 2, fac, "l2sq", Map("nprobe" -> "8", "refine" -> "64"))
      IndexCatalog.add(grid, nm)
      IndexCatalog.search(nm, 1, qs).count() // force build
      assert(IndexCatalog.isBuilt(nm))
      IndexCatalog.add(Seq((999L, Array(3.2f, 3.1f))).toDF("label", "vec"), nm)
      assert(IndexCatalog.isBuilt(nm),
        s"$nm: coded add must extend the built index incrementally, not invalidate it")
      // the appended exact-match vector wins top-1 at distance 0 — it was
      // encoded + assigned with the pinned trained state and re-ranked
      // against the updated raw plan
      val top = IndexCatalog.search(nm, 1, qs).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(top(0L) === 999L, s"$nm: appended row must win the top-1 immediately")
      // compact() folds the append, results unchanged
      val before = resultSetOf(nm)
      IndexCatalog.compact(nm)
      assert(resultSetOf(nm) === before, s"$nm: compact changed results")
      // save -> destroy -> load: same rows (distances included) and the
      // same decoded codes, so trained state and layout round-trip
      val ids = Seq(17L, 200L, 999L).toDF("id")
      def decoded() = IndexCatalog.reconstruct(nm, ids).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      val rowsBefore = resultRowsOf(nm)
      val recBefore = decoded()
      assert(recBefore.keySet === Set(17L, 200L, 999L), s"$nm: reconstruct lost labels")
      val dir = Files.createTempDirectory("graft_coded_rt").toString
      IndexCatalog.save(nm, dir)
      IndexCatalog.destroy(nm)
      IndexCatalog.load(nm, dir, spark)
      assert(resultRowsOf(nm) === rowsBefore, s"$nm: save/load changed results")
      assert(decoded() === recBefore, s"$nm: save/load changed reconstruct")
    }
  }

  private def resultSetOf(name: String) =
    IndexCatalog.search(name, 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def resultRowsOf(name: String) =
    IndexCatalog.search(name, 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq

  test("index layout cache honors spark.graft.index.cacheStorageLevel") {
    spark.conf.set("spark.graft.index.cacheStorageLevel", "MEMORY_AND_DISK_SER")
    try {
      IndexCatalog.create("t_lvl", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
      IndexCatalog.add(grid, "t_lvl")
      val b = IndexCatalog.build("t_lvl")
      assert(b.data.storageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // results unaffected by the storage level
      assert(labelsOf(IndexCatalog.search("t_lvl", 4, qs))
        === labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq")))
    } finally spark.conf.unset("spark.graft.index.cacheStorageLevel")
    // a name that is no storage level throws naming the key
    spark.conf.set("spark.graft.index.cacheStorageLevel", "x")
    try {
      IndexCatalog.create("t_lvl_bad", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
      IndexCatalog.add(grid, "t_lvl_bad")
      val e = intercept[IllegalArgumentException](IndexCatalog.build("t_lvl_bad"))
      assert(e.getMessage.contains("spark.graft.index.cacheStorageLevel"), e.getMessage)
    } finally spark.conf.unset("spark.graft.index.cacheStorageLevel")
  }

  test("dotted and backticked column names resolve by position in add, search, searchNested, searchFilterSet") {
    val oddGrid = grid.toDF("l.abel", "v`ec")
    val oddQs = qs.toDF("q.id", "q.v`ec")
    val oddIds = grid.where(col("label") % 2 === 0).select(col("label").as("i.d"))
    val ids = grid.where(col("label") % 2 === 0).select("label")
    IndexCatalog.create("t_names", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "2"))
    IndexCatalog.add(grid, "t_names")
    IndexCatalog.create("t_names_odd", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "2"))
    IndexCatalog.add(oddGrid, "t_names_odd")
    // one column: auto ids
    IndexCatalog.create("t_names_auto", 2, "Flat")
    IndexCatalog.add(grid.select("vec"), "t_names_auto")
    IndexCatalog.create("t_names_auto_odd", 2, "Flat")
    IndexCatalog.add(oddGrid.select(col("`v``ec`").as("v.ec")), "t_names_auto_odd")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).sortBy(_.toString).toSeq
    val want = rows(IndexCatalog.search("t_names", 4, qs))
    assert(rows(IndexCatalog.search("t_names_odd", 4, oddQs)) === want)
    assert(rows(IndexCatalog.search("t_names_auto_odd", 4, oddQs))
      === rows(IndexCatalog.search("t_names_auto", 4, qs)))
    assert(rows(IndexCatalog.searchNested("t_names_odd", 4, oddQs))
      === rows(IndexCatalog.searchNested("t_names", 4, qs)))
    assert(rows(IndexCatalog.searchFilterSet("t_names_odd", 4, oddQs, oddIds))
      === rows(IndexCatalog.searchFilterSet("t_names", 4, qs, ids)))
    assert(rows(IndexCatalog.reconstruct("t_names_odd", oddIds))
      === rows(IndexCatalog.reconstruct("t_names", ids)))
  }

  test("RQ residual quantizer: exhaustive refine exact, IVF-RQ prunes, save/load + append + reconstruct") {
    // corpus-covering refine -> the exact re-rank reproduces brute force
    IndexCatalog.create("t_rq", 2, "IDMap,RQ2", "l2sq", Map("refine" -> "64"))
    IndexCatalog.add(grid, "t_rq")
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(labelsOf(IndexCatalog.search("t_rq", 4, qs)) === want)
    // IVF-RQ at exhaustive probe + corpus refine is exact too
    IndexCatalog.create("t_ivfrq", 2, "IDMap,IVF4,RQ2x8", "l2sq",
      Map("nprobe" -> "4", "refine" -> "64"))
    IndexCatalog.add(grid, "t_ivfrq")
    assert(labelsOf(IndexCatalog.search("t_ivfrq", 4, qs)) === want)
    // partial probe + modest refine keeps useful recall
    IndexCatalog.create("t_ivfrq_p", 2, "IDMap,IVF4,RQ2", "l2sq",
      Map("nprobe" -> "2", "refine" -> "8"))
    IndexCatalog.add(grid, "t_ivfrq_p")
    val got = labelsOf(IndexCatalog.search("t_ivfrq_p", 4, qs))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
    // save/load: stage codebooks persist (through the pq_codebooks
    // layout), results identical across the round-trip
    val dir = Files.createTempDirectory("graft_rq").toString
    val before = labelsOf(IndexCatalog.search("t_ivfrq_p", 4, qs))
    IndexCatalog.save("t_ivfrq_p", dir)
    IndexCatalog.destroy("t_ivfrq_p")
    IndexCatalog.load("t_ivfrq_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_ivfrq_l", 4, qs)) === before)
    // incremental append: exact-match vector wins top-1 immediately
    import spark.implicits._
    IndexCatalog.add(Seq((999L, Array(3.2f, 3.1f))).toDF("label", "vec"), "t_rq")
    assert(IndexCatalog.isBuilt("t_rq"), "coded add must extend incrementally")
    val top = IndexCatalog.search("t_rq", 1, qs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(top(0L) === 999L)
    // reconstruct = additive decode of the m stage centroids
    val rec = IndexCatalog.reconstruct("t_rq", Seq(17L).toDF("id")).collect()
    assert(rec.length === 1 && rec(0).getSeq[Float](1).length === 2)
    // the approximation should be close on a trained grid (2 stages x
    // 256 centroids over 256 points can represent the grid well)
    val v = rec(0).getSeq[Float](1)
    assert(math.abs(v(0) - 1.0f) < 1.5 && math.abs(v(1) - 1.0f) < 1.5, v)
  }

  test("IDMap2 factory: explicit-id adds allowed, reconstruct-by-id round-trips, search exact") {
    // FAISS IDMap2 = IDMap + a direct map for reconstruct(id); graft's
    // base table IS the direct map, so IDMap2 parses as a synonym and
    // the reconstruct contract is what distinguishes it
    IndexCatalog.create("t_idmap2", 2, "IDMap2,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_idmap2") // explicit ids: would throw without the IDMap gate
    assert(labelsOf(IndexCatalog.search("t_idmap2", 4, qs))
      === labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq")))
    import spark.implicits._
    val got = IndexCatalog.reconstruct("t_idmap2", Seq(17L, 200L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(got === Map(
      17L -> Seq(1.0f, 1.0f), // label 17 = y*16+x = (1,1)
      200L -> Seq(8.0f, 12.0f))) // 200 = 12*16+8
    assert(IndexCatalog.parseFactory("IDMap2,Flat") === IndexCatalog.FlatKind)
    assert(IndexCatalog.hasIdMap("IDMap2,Flat"))
  }

  test("two interleaved saves: loser fails loudly, survivor loads clean (version manifest)") {
    val dir = Files.createTempDirectory("graft_mw").toString
    IndexCatalog.create("t_mw_a", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_mw_a")
    val wantA = labelsOf(IndexCatalog.search("t_mw_a", 4, qs))
    IndexCatalog.save("t_mw_a", dir) // v1, claimed cleanly
    // writer B: a second index racing a save of version 2. The test
    // seam commits a competing version-2 manifest entry INSIDE B's race
    // window (after B staged, before B claims) — pointing at v1's valid
    // parts directory, as a real winning writer's entry would point at
    // its own complete staging
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1dir = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).find(_.startsWith("v1-")).get
    IndexCatalog.saveRaceHook = { p =>
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$p/_manifest/2"), false)
      try out.write(v1dir.getBytes("UTF-8")) finally out.close()
    }
    try {
      IndexCatalog.create("t_mw_b", 2, "IDMap,Flat")
      IndexCatalog.add(grid.where(col("label") < 8), "t_mw_b")
      intercept[java.util.ConcurrentModificationException](
        IndexCatalog.save("t_mw_b", dir))
    } finally IndexCatalog.saveRaceHook = _ => ()
    // the loser's complete-but-unclaimed staging was removed: only v1's
    // parts remain next to the manifest
    val children = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName).toSet
    assert(children === Set(v1dir, "_manifest"), s"leftover staging: $children")
    // survivor resolves through the manifest and loads clean
    IndexCatalog.load("t_mw_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_mw_l", 4, qs)) === wantA)
  }

  test("crashed-claim manifest entries (empty / dangling) are skipped by readers, not resolved") {
    val dir = Files.createTempDirectory("graft_mwcrash").toString
    IndexCatalog.create("t_mc_a", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_mc_a")
    val wantA = labelsOf(IndexCatalog.search("t_mc_a", 4, qs))
    IndexCatalog.save("t_mc_a", dir) // v1, valid
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a writer that died between the version-2 claim and the
    // content write: an EMPTY manifest entry
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_manifest/2"), false).close()
    // and one that wrote content naming a parts dir that never landed
    val out3 = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_manifest/3"), false)
    try out3.write("v3-deadbeef".getBytes("UTF-8")) finally out3.close()
    // readers fall back to the newest VALID version (v1) instead of
    // reading '<dir>//meta' or a nonexistent parts dir
    IndexCatalog.load("t_mc_l", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_mc_l", 4, qs)) === wantA)
    // and the next save does NOT try to re-claim burned versions 2/3
    // (which would spin on a phantom "race"): it claims 4
    IndexCatalog.create("t_mc_b", 2, "IDMap,Flat")
    IndexCatalog.add(grid.where(col("label") < 8), "t_mc_b")
    IndexCatalog.save("t_mc_b", dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_manifest/4")))
    IndexCatalog.load("t_mc_l2", dir, spark)
    assert(labelsOf(IndexCatalog.search("t_mc_l2", 4, qs))
      === labelsOf(Knn.searchFlat(grid.where(col("label") < 8), qs, 4, "l2sq")))
  }

  test("radius search: flat equals brute-force filter; IVF exhaustive equals flat; partial probe is a subset") {
    val r = 9.0 // l2sq radius on the 16x16 grid
    IndexCatalog.create("t_rad_flat", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_rad_flat")
    def hitSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val flat = hitSet(IndexCatalog.searchRadius("t_rad_flat", r, qs))
    // independent brute force
    val want = grid.crossJoin(broadcast(qs))
      .where(graft.functions.vec.l2sq(col("qvec"), col("vec")) < lit(r))
      .select(col("qid"), col("label"))
    assert(flat === hitSet(want) && flat.nonEmpty)

    IndexCatalog.create("t_rad_ivf", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_rad_ivf")
    assert(hitSet(IndexCatalog.searchRadius("t_rad_ivf", r, qs)) === flat,
      "exhaustive probe must be exact")
    val partial = hitSet(IndexCatalog.searchRadius("t_rad_ivf", r, qs, Map("nprobe" -> "2")))
    assert(partial.subsetOf(flat), "partial probe can only miss, never invent hits")
    assert(partial.nonEmpty, "nearest lists must contribute hits")
  }

  test("IP-metric radius search keeps the metric direction (hits are ABOVE the threshold)") {
    IndexCatalog.create("t_rad_ip", 2, "IDMap,Flat", "ip")
    IndexCatalog.add(grid, "t_rad_ip")
    val hits = IndexCatalog.searchRadius("t_rad_ip", 150.0, qs).collect()
    assert(hits.nonEmpty && hits.forall(_.getDouble(2) > 150.0))
  }

  test("IVF1 with a single vector trains implicitly and is searchable " +
      "(reference faiss_add_ids_with_train.test)") {
    import spark.implicits._
    IndexCatalog.create("t_ivf1_single", 2, "IDMap,IVF1,Flat")
    IndexCatalog.add(
      Seq((231L, Array(0.0040321066f, 0.023423655f))).toDF("label", "vec"), "t_ivf1_single")
    val res = IndexCatalog.search(
      "t_ivf1_single", 2, Seq((0L, Array(0.0f, 0.0f))).toDF("qid", "qvec")).collect()
    assert(res.map(_.getLong(2)).contains(231L))
  }

  test("IP-metric IVF probes the lists vectors were assigned to (exhaustive = exact)") {
    // assignment uses max-inner-product; probing must too, or the probed
    // lists won't be where the vectors live and recall collapses
    IndexCatalog.create("t_ivf_ip", 2, "IDMap,IVF8,Flat", "ip", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_ivf_ip")
    val got = labelsOf(IndexCatalog.search("t_ivf_ip", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "ip"))
    assert(got === want)
  }

  test("IP-metric IVF partial-probe recall stays high") {
    IndexCatalog.create("t_ivf_ip_p", 2, "IDMap,IVF8,Flat", "ip", Map("nprobe" -> "3"))
    IndexCatalog.add(grid, "t_ivf_ip_p")
    val got = labelsOf(IndexCatalog.search("t_ivf_ip_p", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "ip"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("LSH search finds mostly-true neighbors (cosine)") {
    IndexCatalog.create("t_lsh", 2, "IDMap,LSH8", "cosine", Map("bands" -> "16"))
    IndexCatalog.add(grid, "t_lsh")
    val got = labelsOf(IndexCatalog.search("t_lsh", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "cosine"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got.getOrElse(q, Nil).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.5, s"recall $recall")
  }

  test("search_filter restricts candidates") {
    IndexCatalog.create("t_filt", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_filt")
    val res = IndexCatalog.searchFilter("t_filt", 4, qs, col("label") % 2 === 0)
    assert(res.collect().forall(_.getLong(2) % 2 == 0))
  }

  test("search_filter composes with IVF: exhaustive exact, partial probe honors filter") {
    IndexCatalog.create("t_filt_ivf", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_filt_ivf")
    val pred = col("label") % 2 === 0
    val exact = labelsOf(Knn.searchFlat(grid.where(pred), qs, 4, "l2sq"))
    val got = labelsOf(IndexCatalog.searchFilter("t_filt_ivf", 4, qs, pred))
    assert(got === exact) // nprobe = nlist -> selector-inside-IVF is exact
    // partial probe: approximate, but the filter must always hold and
    // recall against the exact filtered answer stays useful
    val partial = IndexCatalog
      .searchFilter("t_filt_ivf", 4, qs, pred, Map("nprobe" -> "2")).collect()
    assert(partial.nonEmpty)
    assert(partial.forall(_.getLong(2) % 2 == 0))
    val exactPairs = exact.toSeq.flatMap { case (q, ls) => ls.map(q -> _) }.toSet
    val gotPairs = partial.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = gotPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("search_filter_set composes with IVF-PQ: exhaustive probe + wide refine is exact") {
    import spark.implicits._
    IndexCatalog.create("t_set_pq", 2, "IDMap,IVF4,PQ2", "l2sq",
      Map("nprobe" -> "4", "refine" -> "16"))
    IndexCatalog.add(grid, "t_set_pq")
    val ids = (0L until 256L by 4L).toDF("id")
    val res = IndexCatalog.searchFilterSet("t_set_pq", 4, qs, ids)
    assert(res.collect().forall(_.getLong(2) % 4 == 0))
    // all lists probed + refine covers the whole restricted set -> the
    // exact re-rank must reproduce brute force over the restriction
    val want = labelsOf(Knn.searchFlat(grid.where(col("label") % 4 === 0), qs, 4, "l2sq"))
    assert(labelsOf(res) === want)
  }

  test("search_filter referencing vec resolves on codes-only PQ/SQ layouts") {
    // the coded layout carries (list_id, label, code); a predicate over
    // the raw vector must transparently join the base-table vec back
    // (restrictCoded) instead of failing with an unresolved column
    for ((nm, fac) <- Seq(("t_filt_vec_pq", "IDMap,IVF4,PQ2"), ("t_filt_vec_sq", "IDMap,IVF4,SQ8"))) {
      IndexCatalog.create(nm, 2, fac, "l2sq", Map("nprobe" -> "4", "refine" -> "256"))
      IndexCatalog.add(grid, nm)
      val pred = element_at(col("vec"), 1) < 8.0f // x-coordinate slice
      val res = IndexCatalog.searchFilter(nm, 4, qs, pred)
      val want = labelsOf(Knn.searchFlat(grid.where(pred), qs, 4, "l2sq"))
      // exhaustive probe + corpus-wide refine -> exact over the restriction
      assert(labelsOf(res) === want, nm)
      // label-only predicates keep the cheap no-join path (same answer)
      val lblPred = col("label") % 2 === 0
      val res2 = IndexCatalog.searchFilter(nm, 4, qs, lblPred)
      assert(labelsOf(res2) === labelsOf(Knn.searchFlat(grid.where(lblPred), qs, 4, "l2sq")), nm)
    }
  }

  test("search_filter on LSH probes buckets and emits no duplicate labels") {
    IndexCatalog.create("t_filt_lsh", 2, "IDMap,LSH8", "l2sq", Map("bands" -> "8"))
    IndexCatalog.add(grid, "t_filt_lsh")
    val res = IndexCatalog.searchFilter("t_filt_lsh", 4, qs, col("label") % 2 === 0).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getLong(2) % 2 == 0))
    res.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(2)).distinct.length === rows.length, "duplicate labels in top-k")
    }
  }

  test("LSH's flat view holds each added row once: radius, narrow pre-filter, reconstruct and stats") {
    import spark.implicits._
    IndexCatalog.create("t_lsh_fv", 2, "IDMap,LSH8", "l2sq", Map("bands" -> "4"))
    IndexCatalog.add(grid, "t_lsh_fv")
    IndexCatalog.create("t_lsh_fv_flat", 2, "IDMap,Flat", "l2sq")
    IndexCatalog.add(grid, "t_lsh_fv_flat")
    def radiusRows(nm: String) = IndexCatalog.searchRadius(nm, 2.5, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(radiusRows("t_lsh_fv") === radiusRows("t_lsh_fv_flat"))
    val narrow = IndexCatalog.searchFilterAdaptive("t_lsh_fv", 4, qs, col("label") < 10).collect()
    assert(narrow.nonEmpty && narrow.forall(_.getString(4) == "prefilter_scan"))
    narrow.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(2)).distinct.length === rows.length, "one label at several ranks")
    }
    val rec = IndexCatalog.reconstruct("t_lsh_fv", Seq(0L, 17L, 123L).toDF("id")).collect()
    assert(rec.map(_.getLong(0)).sorted.toSeq === Seq(0L, 17L, 123L))
    assert(IndexCatalog.stats("t_lsh_fv").head().getLong(0) === 256L)
  }

  test("save/load round-trips an IVF index") {
    val dir = Files.createTempDirectory("graft_idx").toString
    IndexCatalog.create("t_save", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_save")
    val before = labelsOf(IndexCatalog.search("t_save", 4, qs))
    IndexCatalog.save("t_save", dir)
    IndexCatalog.destroy("t_save")
    IndexCatalog.load("t_loaded", dir, spark)
    val after = labelsOf(IndexCatalog.search("t_loaded", 4, qs))
    assert(before === after)
  }

  test("search_filter_set restricts to the id set via semi join") {
    import spark.implicits._
    IndexCatalog.create("t_set", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_set")
    val ids = Seq(3L, 7L, 999L).toDF("id") // 999 not in the index
    val res = IndexCatalog.searchFilterSet("t_set", 5, qs, ids).collect()
    assert(res.map(_.getLong(2)).toSet.subsetOf(Set(3L, 7L)))
    assert(res.length === 4) // 2 queries x 2 available candidates
  }

  test("pad=true returns exactly k rows with label -1 fill (FAISS padding)") {
    import org.apache.spark.sql.functions.col
    IndexCatalog.create("t_pad", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_pad")
    val res = IndexCatalog
      .searchFilter("t_pad", 5, qs, col("label") < 2, Map("pad" -> "true"))
      .collect()
    assert(res.length === 10) // 2 queries x k=5
    val padRows = res.filter(_.getLong(2) == -1L)
    assert(padRows.length === 6) // only 2 real candidates per query
    assert(padRows.forall(_.getInt(1) >= 2)) // padding ranks after real results
  }

  test("PQ index: exact re-rank recovers true neighbors (recall@4 high)") {
    IndexCatalog.create("t_pq", 2, "IDMap,PQ2", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(grid, "t_pq")
    val got = labelsOf(IndexCatalog.search("t_pq", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("full-rank PCA pretransform preserves L2 search exactly (isometry)") {
    IndexCatalog.create("t_pca_full", 2, "IDMap,PCA2,Flat", "l2sq")
    IndexCatalog.add(grid, "t_pca_full")
    val got = labelsOf(IndexCatalog.search("t_pca_full", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("PCA-nested IVF trains and probes in projected space; exhaustive probe is exact") {
    IndexCatalog.create("t_pca_ivf", 2, "IDMap,PCA2,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_pca_ivf")
    val got = labelsOf(IndexCatalog.search("t_pca_ivf", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("PCA transform persists across save/load (same projection, same results)") {
    val dir = Files.createTempDirectory("graft_pcasave").toString
    IndexCatalog.create("t_pcasave", 2, "IDMap,PCA2,IVF4,Flat", "l2sq", Map("nprobe" -> "2"))
    IndexCatalog.add(grid, "t_pcasave")
    val before = labelsOf(IndexCatalog.search("t_pcasave", 4, qs))
    IndexCatalog.save("t_pcasave", dir)
    IndexCatalog.destroy("t_pcasave")
    IndexCatalog.load("t_pcasave2", dir, spark)
    val after = labelsOf(IndexCatalog.search("t_pcasave2", 4, qs))
    assert(before === after)
  }

  test("truncated PCA keeps the dominant axis (variance-ordered components)") {
    import spark.implicits._
    // points spread along x with small y noise: PCA1 must keep x-ordering
    val line = (0 until 64).map(i => (i.toLong, Array(i.toFloat, (i % 3).toFloat * 0.01f)))
      .toDF("label", "vec")
    IndexCatalog.create("t_pca_trunc", 2, "IDMap,PCA1,Flat", "l2sq")
    IndexCatalog.add(line, "t_pca_trunc")
    val q = Seq((0L, Array(10.0f, 0.0f))).toDF("qid", "qvec")
    val got = IndexCatalog.search("t_pca_trunc", 3, q).collect().map(_.getLong(2)).toSet
    assert(got === Set(9L, 10L, 11L), got)
  }

  test("SQ8: scalar-quantized search with re-rank is exact on a well-spread grid") {
    // 2-dim grid values quantize to <=0.06 error per dim at 8 bits;
    // exact re-rank over k x refine candidates recovers the true top-k
    IndexCatalog.create("t_sq8", 2, "IDMap,SQ8", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(grid, "t_sq8")
    val got = labelsOf(IndexCatalog.search("t_sq8", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("reconstruct: raw for flat, decoded within quantization error for SQ, codebook rows for PQ") {
    import spark.implicits._
    IndexCatalog.create("t_rec_flat", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_rec_flat")
    val ids = Seq(0L, 17L, 255L).toDF("id")
    val flat = IndexCatalog.reconstruct("t_rec_flat", ids).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(flat === Map(0L -> Seq(0f, 0f), 17L -> Seq(1f, 1f), 255L -> Seq(15f, 15f)))
    // SQ8: decode error bounded by one quantization step per dim
    IndexCatalog.create("t_rec_sq", 2, "IDMap,SQ8")
    IndexCatalog.add(grid, "t_rec_sq")
    val sq = IndexCatalog.reconstruct("t_rec_sq", ids).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    for ((id, orig) <- flat; (a, b) <- sq(id).zip(orig))
      assert(math.abs(a - b) <= 15f / 255f + 1e-4f, s"SQ8 decode of $id: ${sq(id)} vs $orig")
    // fp16: near-exact (grid coords are exactly representable halves)
    IndexCatalog.create("t_rec_fp16", 2, "IDMap,SQfp16")
    IndexCatalog.add(grid, "t_rec_fp16")
    val fp = IndexCatalog.reconstruct("t_rec_fp16", ids).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(fp === flat, "small-int grid must round-trip fp16 exactly")
    // PQ: every decoded subvector is one of its codebook centroids
    IndexCatalog.create("t_rec_pq", 2, "IDMap,PQ2")
    IndexCatalog.add(grid, "t_rec_pq")
    val pq = IndexCatalog.reconstruct("t_rec_pq", ids).collect()
    assert(pq.length === 3 && pq.forall(_.getSeq[Float](1).length == 2))
    // pretransform wrappers refuse (projected-space codes)
    IndexCatalog.create("t_rec_pca", 2, "IDMap,PCA2,Flat")
    IndexCatalog.add(grid, "t_rec_pca")
    intercept[UnsupportedOperationException](
      IndexCatalog.reconstruct("t_rec_pca", ids).collect())
  }

  test("adaptive filtered search: narrow picks the exact scan, wide picks the boosted probe, both correct") {
    IndexCatalog.create("t_adapt", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "8"))
    IndexCatalog.add(grid, "t_adapt")
    val narrowPred = col("label") < 12 // 12/256 ~ 4.7% <= 10% cutoff
    val widePred = col("label") % 2 === 0 // 50%
    val narrow = IndexCatalog.searchFilterAdaptive("t_adapt", 4, qs, narrowPred).collect()
    val wide = IndexCatalog.searchFilterAdaptive("t_adapt", 4, qs, widePred).collect()
    assert(narrow.nonEmpty && narrow.forall(_.getString(4) == "prefilter_scan"), narrow.toSeq)
    assert(wide.nonEmpty && wide.forall(_.getString(4) == "postfilter_index"), wide.toSeq)
    // both strategies return the exact filtered answer (exhaustive probe)
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(asMap(narrow) === labelsOf(Knn.searchFlat(grid.where(narrowPred), qs, 4, "l2sq")))
    assert(asMap(wide) === labelsOf(Knn.searchFlat(grid.where(widePred), qs, 4, "l2sq")))
    // the cutoff is a real knob: raising it flips the wide predicate to the scan
    val flipped = IndexCatalog.searchFilterAdaptive(
      "t_adapt", 4, qs, widePred, Map("adaptiveCutoff" -> "0.9")).collect()
    assert(flipped.forall(_.getString(4) == "prefilter_scan"))
    // nothing matches -> empty result with the full schema, no error
    val none = IndexCatalog.searchFilterAdaptive("t_adapt", 4, qs, col("label") < 0)
    assert(none.columns.toSeq ===
      Seq("qid", "rank", "label", "distance", "strategy") && none.count() === 0)
  }

  test("fp16 codec: exact on representable values, bounded error, ordered, inf/NaN edges") {
    // halves are exact for small ints, powers of two, and 1/2^k sums
    for (v <- Seq(0f, 1f, -1f, 0.5f, 1024f, 0.09375f, -65504f))
      assert(Sq.halfToFloat(Sq.floatToHalf(v)) === v, s"round-trip of $v")
    // relative error <= 2^-11 within normal range
    for (v <- Seq(0.1f, 3.14159f, -271.5f, 1e-3f, 60000f)) {
      val r = Sq.halfToFloat(Sq.floatToHalf(v))
      assert(math.abs(r - v) <= math.abs(v) / 2048f + 1e-8f, s"$v -> $r")
    }
    assert(Sq.halfToFloat(Sq.floatToHalf(1e6f)) === Float.PositiveInfinity)
    assert(Sq.halfToFloat(Sq.floatToHalf(-1e6f)) === Float.NegativeInfinity)
    assert(Sq.halfToFloat(Sq.floatToHalf(Float.NaN)).isNaN)
    // subnormal half range round-trips within its quantum (2^-24)
    val tiny = 3e-6f
    assert(math.abs(Sq.halfToFloat(Sq.floatToHalf(tiny)) - tiny) <= Math.scalb(1f, -25))
  }

  test("SQfp16: half-precision search recovers the exact top-k on the grid") {
    IndexCatalog.create("t_sqfp16", 2, "IDMap,SQfp16", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(grid, "t_sqfp16")
    val got = labelsOf(IndexCatalog.search("t_sqfp16", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("SQ4: nibble-packed search with re-rank recovers the exact top-k on the grid") {
    IndexCatalog.create("t_sq4", 2, "IDMap,SQ4", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(grid, "t_sq4")
    val got = labelsOf(IndexCatalog.search("t_sq4", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
    // codes really are nibble-packed: 2 dims -> 1 byte per vector
    val codeLen = IndexCatalog.build("t_sq4") match {
      case c: IndexCatalog.CodedBuilt => c.data.select("code").head.getAs[Array[Byte]](0).length
      case other => fail(s"unexpected built kind $other")
    }
    assert(codeLen === 1, s"expected 1 packed byte for 2 dims, got $codeLen")
  }

  test("unsupported SQ widths fail at create") {
    val e = intercept[IllegalArgumentException](
      IndexCatalog.create("t_sq6", 2, "IDMap,SQ6", "l2sq"))
    assert(e.getMessage.contains("SQ8/SQ4/SQfp16"))
  }

  test("IVF-SQ8 factory combines list pruning with scalar-quantized search") {
    IndexCatalog.create("t_ivfsq", 2, "IDMap,IVF4,SQ8", "l2sq",
      Map("nprobe" -> "4", "refine" -> "8"))
    IndexCatalog.add(grid, "t_ivfsq")
    val got = labelsOf(IndexCatalog.search("t_ivfsq", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("SQ bounds persist across save/load (same codes, same results)") {
    val dir = Files.createTempDirectory("graft_sqsave").toString
    IndexCatalog.create("t_sqsave", 2, "IDMap,SQ8", "l2sq", Map("refine" -> "8"))
    IndexCatalog.manualTrain(grid.select("vec"), "t_sqsave")
    IndexCatalog.add(grid, "t_sqsave")
    val before = labelsOf(IndexCatalog.search("t_sqsave", 4, qs))
    IndexCatalog.save("t_sqsave", dir)
    IndexCatalog.destroy("t_sqsave")
    IndexCatalog.load("t_sqsave2", dir, spark)
    val after = labelsOf(IndexCatalog.search("t_sqsave2", 4, qs))
    assert(before === after)
  }

  test("IVF-PQ factory combines list pruning with code search") {
    IndexCatalog.create("t_ivfpq", 2, "IDMap,IVF4,PQ2", "l2sq",
      Map("nprobe" -> "4", "refine" -> "8"))
    IndexCatalog.add(grid, "t_ivfpq")
    val got = labelsOf(IndexCatalog.search("t_ivfpq", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("loaded IVF search prunes unprobed list partitions at the scan") {
    val dir = Files.createTempDirectory("graft_prune").toString
    IndexCatalog.create("t_prune", 2, "IDMap,IVF8,Flat", "l2sq", Map("nprobe" -> "1"))
    IndexCatalog.add(grid, "t_prune")
    IndexCatalog.save("t_prune", dir)
    IndexCatalog.destroy("t_prune")
    IndexCatalog.load("t_prune2", dir, spark)
    val layout = IndexCatalog.build("t_prune2").data
    // the search job's input records: the static IN filter must prune
    // the parquet scan to the probed list's files
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      val r = IndexCatalog.search("t_prune2", 4, qs.limit(1), Map("nprobe" -> "1")).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.length === 4)
    // every hit lives in the one probed list; the scan read that list only
    val probed = layout.where(col("label") === res.head.getLong(2)).select("list_id").head().getInt(0)
    val listRows = layout.where(col("list_id") === probed).count()
    assert(recordsRead.get === listRows, s"read ${recordsRead.get} records, list $probed holds $listRows")
    assert(listRows < grid.count())
  }

  test("PQ training persists across save/load (same quantization, same results)") {
    val dir = Files.createTempDirectory("graft_pqsave").toString
    IndexCatalog.create("t_pqsave", 2, "IDMap,PQ2", "l2sq", Map("refine" -> "8"))
    IndexCatalog.manualTrain(grid.select("vec"), "t_pqsave")
    IndexCatalog.add(grid, "t_pqsave")
    val before = labelsOf(IndexCatalog.search("t_pqsave", 4, qs))
    IndexCatalog.save("t_pqsave", dir)
    IndexCatalog.destroy("t_pqsave")
    IndexCatalog.load("t_pqsave2", dir, spark)
    val after = labelsOf(IndexCatalog.search("t_pqsave2", 4, qs))
    assert(before === after)
  }

  test("searchNested returns the reference's LIST<STRUCT(rank,label,distance)> shape") {
    IndexCatalog.create("t_nested", 2, "IDMap,Flat", "l2sq")
    IndexCatalog.add(grid, "t_nested")
    val nested = IndexCatalog.searchNested("t_nested", 4, qs, Map("pad" -> "true")).collect()
    assert(nested.length === 2) // one row per query
    val byQid = nested.map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    val flat = IndexCatalog.search("t_nested", 4, qs, Map("pad" -> "true")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    byQid.foreach { case (qid, results) =>
      assert(results.length === 4) // exactly k entries
      assert(results.map(_.getInt(0)).toSeq === (0 until 4)) // rank-ordered
      assert(results.map(_.getLong(1)).toSeq === flat(qid).map(_.getLong(2)).toSeq)
    }
  }

  test("searchNested keeps zero-candidate query rows as empty lists") {
    // FAISS_SEARCH returns a list for every query row; a group-by over
    // the flat results would silently drop queries with no candidates
    IndexCatalog.create("t_nested_void", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid.where(col("label") < 0), "t_nested_void") // zero vectors
    val voidRes = IndexCatalog.searchNested("t_nested_void", 3, qs).collect()
    assert(voidRes.length === 2)
    assert(voidRes.forall(_.getSeq[org.apache.spark.sql.Row](1).isEmpty))
  }

  /** newest versioned parts dir of a save path (v<N>-<token> layout) */
  private def partsDirOf(dir: String): java.nio.file.Path = {
    val vs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("v"))
    java.nio.file.Paths.get(vs.maxBy(_.getName.split("-")(0).drop(1).toLong).getPath)
  }

  test("auto-trained SQ and PQ persist quantizer state on save (no retrain on load)") {
    val dirSq = Files.createTempDirectory("graft_sq_auto").toString
    IndexCatalog.create("t_sq_auto", 2, "IDMap,SQ8", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(grid, "t_sq_auto")
    val beforeSq = labelsOf(IndexCatalog.search("t_sq_auto", 4, qs))
    IndexCatalog.save("t_sq_auto", dirSq)
    assert(partsDirOf(dirSq).resolve("sq_bounds").toFile.exists,
      "auto-trained SQ bounds not persisted")
    IndexCatalog.destroy("t_sq_auto")
    IndexCatalog.load("t_sq_auto_l", dirSq, spark)
    assert(labelsOf(IndexCatalog.search("t_sq_auto_l", 4, qs)) === beforeSq)

    val dirPq = Files.createTempDirectory("graft_pq_auto").toString
    IndexCatalog.create("t_pq_auto", 2, "IDMap,PQ2", "l2sq", Map("refine" -> "16"))
    IndexCatalog.add(grid, "t_pq_auto")
    val beforePq = labelsOf(IndexCatalog.search("t_pq_auto", 4, qs))
    IndexCatalog.save("t_pq_auto", dirPq)
    assert(partsDirOf(dirPq).resolve("pq_codebooks").toFile.exists,
      "auto-trained PQ codebooks not persisted")
    IndexCatalog.destroy("t_pq_auto")
    IndexCatalog.load("t_pq_auto_l", dirPq, spark)
    assert(labelsOf(IndexCatalog.search("t_pq_auto_l", 4, qs)) === beforePq)
  }

  test("HNSW keeps high recall across save/load (graphs rebuild from canonical rows)") {
    val dir = Files.createTempDirectory("graft_hnswsave").toString
    IndexCatalog.create("t_hnswsave", 2, "IDMap,HNSW8", "l2sq",
      Map("efConstruction" -> "64", "efSearch" -> "64"))
    IndexCatalog.add(grid, "t_hnswsave")
    IndexCatalog.save("t_hnswsave", dir)
    IndexCatalog.destroy("t_hnswsave")
    IndexCatalog.load("t_hnswsave2", dir, spark)
    val got = labelsOf(IndexCatalog.search("t_hnswsave2", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("IVF over zero matching vectors searches to an empty result, not a crash") {
    IndexCatalog.create("t_ivf_empty", 2, "IDMap,IVF4,Flat", "l2sq")
    IndexCatalog.add(grid.where(org.apache.spark.sql.functions.col("label") < 0), "t_ivf_empty")
    assert(IndexCatalog.search("t_ivf_empty", 3, qs).collect().isEmpty)
  }

  test("manualTrain with an empty sample is a no-op for every trainable kind") {
    val empty = grid.where(org.apache.spark.sql.functions.col("label") < 0).select("vec")
    for ((nm, fac) <- Seq(("t_mt_ivf", "IDMap,IVF4,Flat"), ("t_mt_pq", "IDMap,PQ2"),
        ("t_mt_sq", "IDMap,SQ8"), ("t_mt_pca", "IDMap,PCA2,Flat"))) {
      IndexCatalog.create(nm, 2, fac)
      IndexCatalog.manualTrain(empty, nm) // must not throw
      IndexCatalog.add(grid, nm)
      assert(IndexCatalog.search(nm, 2, qs).count() > 0) // build auto-trains
    }
  }

  test("query dimension mismatch fails loudly, like FAISS's d assertion") {
    import spark.implicits._
    IndexCatalog.create("t_dim", 2, "IDMap,Flat")
    IndexCatalog.add(grid, "t_dim")
    val badQs = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("qid", "qvec")
    val ex = intercept[Exception](IndexCatalog.search("t_dim", 2, badQs).collect())
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("query dimension mismatch on Flat and LSH throws at the search call, before any Spark job") {
    import spark.implicits._
    val badQs = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("qid", "qvec")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    for ((nm, fac) <- Seq(("t_dim_flat", "IDMap,Flat"), ("t_dim_lsh", "IDMap,LSH8"))) {
      IndexCatalog.create(nm, 2, fac)
      IndexCatalog.add(grid, nm)
      IndexCatalog.search(nm, 2, qs).collect() // builds
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs = 0
        // no action on the result: the call itself must throw
        val ex = intercept[IllegalArgumentException](IndexCatalog.search(nm, 2, badQs))
        assert(ex.getMessage.contains(s"query vector dimension mismatch: index '$nm' has dim 2"),
          ex.getMessage)
        intercept[IllegalArgumentException](IndexCatalog.searchFilter(nm, 2, badQs, lit(true)))
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        assert(jobs === 0, s"$nm: a search job ran before the dimension check")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("adaptive pre-filter through a pretransform scans with projected queries") {
    // PCA2 over 2-d data is a full-rank rotation: distances are preserved,
    // so the exact pre-filter scan must find the raw-space neighbours
    IndexCatalog.create("t_adapt_pca", 2, "IDMap,PCA2,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_adapt_pca")
    import spark.implicits._
    val q = Seq((0L, Array(3.3f, 0.8f))).toDF("qid", "qvec") // no near-ties in its top 4
    val pred = col("label") < 20
    val res = IndexCatalog.searchFilterAdaptive("t_adapt_pca", 4, q, pred)
    assert(res.select("strategy").distinct().collect().map(_.getString(0)).toSeq === Seq("prefilter_scan"))
    assert(labelsOf(res) === Map(0L -> Seq(19L, 3L, 4L, 18L)))
  }

  test("LSH search honours spark.graft.index.maxQueryBatch") {
    IndexCatalog.create("t_lsh_cap", 2, "IDMap,LSH8")
    IndexCatalog.add(grid, "t_lsh_cap")
    spark.conf.set(IndexCatalog.MaxQueryBatchConf, "1")
    try {
      val e = intercept[IllegalStateException](IndexCatalog.search("t_lsh_cap", 2, qs).collect())
      assert(e.getMessage.contains(IndexCatalog.MaxQueryBatchConf), e.getMessage)
      spark.conf.set(IndexCatalog.MaxQueryBatchConf, "2")
      assert(IndexCatalog.search("t_lsh_cap", 2, qs).count() > 0)
    } finally spark.conf.unset(IndexCatalog.MaxQueryBatchConf)
  }

  test("index params are parsed at create, each bad value naming its key") {
    val positive = Seq("maxIter", "coarseEfSearch", "coarseEfConstruction", "efConstruction",
      "bands", "nprobe", "refine", "efSearch")
    val cases = positive.map(_ -> Seq("0", "-1", "x")) ++ Seq(
      "seed" -> Seq("x"), // any long is a seed
      "adaptiveCutoff" -> Seq("0", "-1", "x", "1.5"),
      "pad" -> Seq("0", "-1", "x"))
    for ((key, bads) <- cases; bad <- bads) {
      val e = intercept[IllegalArgumentException](
        IndexCatalog.create("t_param_bad", 2, "IDMap,IVF4,Flat", "l2sq", Map(key -> bad)))
      assert(e.getMessage.contains(s"'$key'") && e.getMessage.contains(s"'$bad'"),
        s"$key=$bad: ${e.getMessage}")
      assert(!IndexCatalog.exists("t_param_bad"))
    }
    // valid edge values still create
    for ((key, ok) <- Seq("seed" -> "-1", "seed" -> "0", "adaptiveCutoff" -> "1",
        "pad" -> "false")) {
      IndexCatalog.create("t_param_ok", 2, "IDMap,IVF4,Flat", "l2sq", Map(key -> ok))
      IndexCatalog.destroy("t_param_ok")
    }
    // search-time params are checked by the same parsers
    IndexCatalog.create("t_param_s", 2, "IDMap,IVF4,Flat", "l2sq")
    IndexCatalog.add(grid, "t_param_s")
    val e = intercept[IllegalArgumentException](
      IndexCatalog.search("t_param_s", 2, qs, Map("pad" -> "yes")))
    assert(e.getMessage.contains("'pad'"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IndexCatalog.searchFilterAdaptive("t_param_s", 2, qs, lit(true), Map("adaptiveCutoff" -> "0")))
    assert(e2.getMessage.contains("'adaptiveCutoff'"), e2.getMessage)
  }

  test("move_gpu is explicitly unsupported") {
    IndexCatalog.create("t_gpu", 2, "Flat")
    intercept[UnsupportedOperationException](IndexCatalog.moveGpu("t_gpu", 0))
  }

  test("auto-id watermark survives save/load (no label reuse after load)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_autoid").toString
    IndexCatalog.create("t_wm", 2, "Flat")
    IndexCatalog.add(grid.select("vec").limit(20), "t_wm")
    IndexCatalog.save("t_wm", dir)
    IndexCatalog.destroy("t_wm")
    IndexCatalog.load("t_wm2", dir, spark)
    IndexCatalog.add(grid.select("vec").limit(5), "t_wm2")
    val labels = IndexCatalog.build("t_wm2").data.select("label").collect().map(_.getLong(0))
    assert(labels.length === 25 && labels.distinct.length === 25)
    assert(labels.max === 24L)
  }

  test("manualTrain after a search invalidates the built index") {
    IndexCatalog.create("t_retrain", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_retrain")
    IndexCatalog.search("t_retrain", 2, qs).count() // builds + caches
    IndexCatalog.manualTrain(grid.select("vec"), "t_retrain")
    // rebuilt on next search with the new centroids, still correct
    val got = labelsOf(IndexCatalog.search("t_retrain", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("retrain re-derives centroids from current contents and rebalances a drift-trained IVF") {
    import spark.implicits._
    IndexCatalog.create("t_driftfix", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    // drifted training sample: one corner of the grid — most of the
    // corpus then piles onto the outermost centroid
    val corner = (for (x <- 0 until 4; y <- 0 until 4)
      yield Tuple1(Array(x.toFloat, y.toFloat))).toDF("vec")
    IndexCatalog.manualTrain(corner, "t_driftfix")
    IndexCatalog.add(grid, "t_driftfix")
    IndexCatalog.search("t_driftfix", 2, qs).count() // build on drifted centroids
    val before = IndexCatalog.stats("t_driftfix").collect()(0).getDouble(2)
    IndexCatalog.retrain("t_driftfix")
    assert(!IndexCatalog.isBuilt("t_driftfix"), "retrain must invalidate the built layout")
    // exhaustive probe stays exact through the new centroid generation
    val got = labelsOf(IndexCatalog.search("t_driftfix", 4, qs))
    assert(got === labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq")))
    val after = IndexCatalog.stats("t_driftfix").collect()(0).getDouble(2)
    assert(after < before, s"imbalance should improve: $before -> $after")
  }

  test("retrain on an empty index errors; incremental add still extends after retrain") {
    import spark.implicits._
    IndexCatalog.create("t_retrain_add", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    intercept[IllegalStateException](IndexCatalog.retrain("t_retrain_add"))
    IndexCatalog.add(grid, "t_retrain_add")
    IndexCatalog.retrain("t_retrain_add")
    IndexCatalog.search("t_retrain_add", 2, qs).count() // build on retrained centroids
    val extra = Seq((999L, Array(30.0f, 30.0f))).toDF("label", "vec")
    IndexCatalog.add(extra, "t_retrain_add")
    assert(IndexCatalog.isBuilt("t_retrain_add"),
      "post-retrain add should extend the pinned-centroid build incrementally")
    val got = labelsOf(IndexCatalog.search("t_retrain_add", 4,
      Seq((7L, Array(29.0f, 29.0f))).toDF("qid", "qvec")))
    assert(got(7L).head === 999L)
  }

  test("manualTrain trains PQ codebooks from the given sample") {
    IndexCatalog.create("t_pqtrain", 2, "IDMap,PQ2", "l2sq", Map("refine" -> "8"))
    IndexCatalog.manualTrain(grid.select("vec"), "t_pqtrain")
    IndexCatalog.add(grid, "t_pqtrain")
    val got = labelsOf(IndexCatalog.search("t_pqtrain", 4, qs))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("explicit-id add to a non-IDMap index errors like the reference") {
    IndexCatalog.create("t_noid", 2, "Flat")
    val e = intercept[IllegalArgumentException](IndexCatalog.add(grid, "t_noid"))
    assert(e.getMessage.contains("IDMap"))
  }

  test("unknown metric errors at create time") {
    intercept[IllegalArgumentException](IndexCatalog.create("t_badmetric", 2, "Flat", "Invalid"))
    assert(!IndexCatalog.exists("t_badmetric"))
  }

  test("IP-metric HNSW ranks by inner product (descending), matching exact search") {
    IndexCatalog.create("t_hnsw_ip", 2, "IDMap,HNSW16", "ip", Map("efConstruction" -> "128"))
    IndexCatalog.add(grid.coalesce(1), "t_hnsw_ip")
    val got = labelsOf(IndexCatalog.search("t_hnsw_ip", 4, qs, Map("efSearch" -> "256")))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "ip"))
    assert(got === want) // generous ef on one shard: graph search is exact
    // and the filtered (flat-fallback) path agrees with the same metric
    val gotF = labelsOf(IndexCatalog.searchFilter("t_hnsw_ip", 4, qs, col("label") >= 0))
    assert(gotF === want)
  }

  test("HNSW: an always-true selector equals the plain search row for row (one shard body)") {
    import spark.implicits._
    val rnd = new scala.util.Random(71L)
    // multi-shard corpus with replicated vectors (collapsed graph nodes)
    val pts = Array.tabulate(400)(i => Array.fill(8)(rnd.nextFloat() * 4f))
    val data = (0 until 600).map(i => (i.toLong, pts(i % 400))).toDF("label", "vec").repartition(3)
    val queries = (0 until 12).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 4f)))
      .toDF("qid", "qvec")
    IndexCatalog.create("t_hnsw_one", 8, "IDMap,HNSW32", "l2sq", Map("efConstruction" -> "40"))
    IndexCatalog.add(data, "t_hnsw_one")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    for (params <- Seq(Map.empty[String, String], Map("efSearch" -> "8"), Map("pad" -> "true"))) {
      val filtered = IndexCatalog.searchFilter("t_hnsw_one", 10, queries, lit(true), params)
      assert(!filtered.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "lit(true) is narrow: it must take the graph path, not the flat fallback")
      val plain = rows(IndexCatalog.search("t_hnsw_one", 10, queries, params))
      assert(plain.length === 120)
      assert(rows(filtered) === plain, s"params $params")
    }
    IndexCatalog.destroy("t_hnsw_one")
  }

  test("HNSW filtered search composes the selector INSIDE the graph traversal") {
    IndexCatalog.create("t_hnsw_sel", 2, "IDMap,HNSW16", "l2sq", Map("efConstruction" -> "128"))
    IndexCatalog.add(grid.coalesce(1), "t_hnsw_sel")
    val pred = col("label") % 2 === 0
    val filtered = IndexCatalog.searchFilter(
      "t_hnsw_sel", 4, qs, pred, Map("efSearch" -> "512"))
    // the narrow-predicate path searches the shard GRAPHS (one job whose
    // per-shard results the driver merges: the whole plan is one local
    // scan), not a flat scan of the restricted rows (a join and an
    // aggregate over it)
    val plan = filtered.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
      "selector should ride the graph search, not the flat fallback:\n" + plan.toString.take(1500))
    val got = labelsOf(filtered)
    val want = labelsOf(Knn.searchFlat(grid.where(pred), qs, 4, "l2sq"))
    assert(got === want) // exhaustive ef on one shard: graph+selector is exact here
    // id-SET restriction shuffles (LEFT SEMI) — stays the exact flat path
    import spark.implicits._
    val ids = (0 until 256 by 2).map(_.toLong).toDF("label")
    val gotSet = labelsOf(IndexCatalog.searchFilterSet("t_hnsw_sel", 4, qs, ids))
    assert(gotSet === want)
  }

  test("metric/kind compatibility errors at create (HNSW + PQ/SQ conventions)") {
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_bad_hnsw", 2, "IDMap,HNSW8", "canberra"))
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_bad_pq", 2, "IDMap,PQ2", "ip"))
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_bad_sq", 2, "IDMap,SQ8", "cosine"))
  }

  test("wrong-dimension vectors are rejected on add, like FAISS's d assertion") {
    import spark.implicits._
    IndexCatalog.create("t_add_dim", 2, "IDMap,Flat")
    val bad = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("label", "vec") // 3 dims into a 2-dim index
    IndexCatalog.add(bad, "t_add_dim")
    val err = intercept[Exception](IndexCatalog.search("t_add_dim", 1, qs).collect())
    assert(err.getMessage != null && err.toString.contains("dimension") ||
      Option(err.getCause).exists(_.toString.contains("dimension")))
  }

  test("HNSW builds per-partition graphs and reaches high recall") {
    IndexCatalog.create("t_hnsw", 2, "IDMap,HNSW8", "l2sq", Map("efConstruction" -> "64"))
    IndexCatalog.add(grid.repartition(3), "t_hnsw")
    val got = labelsOf(IndexCatalog.search("t_hnsw", 4, qs, Map("efSearch" -> "64")))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    val recall = qs.collect().map(_.getLong(0)).map { q =>
      got(q).toSet.intersect(want(q).toSet).size.toDouble / want(q).size
    }.sum / 2
    assert(recall >= 0.75, s"recall $recall")
  }

  test("HNSW with generous efSearch equals exact search on a small shard") {
    IndexCatalog.create("t_hnsw_x", 2, "IDMap,HNSW16", "l2sq", Map("efConstruction" -> "128"))
    IndexCatalog.add(grid.coalesce(1), "t_hnsw_x")
    val got = labelsOf(IndexCatalog.search("t_hnsw_x", 4, qs, Map("efSearch" -> "256")))
    val want = labelsOf(Knn.searchFlat(grid, qs, 4, "l2sq"))
    assert(got === want)
  }

  test("nprobe / refine / efSearch below 1 or non-integer fail naming the key") {
    IndexCatalog.create("t_par_ivf", 2, "IDMap,IVF4,Flat", "l2sq")
    IndexCatalog.add(grid, "t_par_ivf")
    IndexCatalog.create("t_par_pq", 2, "IDMap,IVF4,PQ2", "l2sq")
    IndexCatalog.add(grid, "t_par_pq")
    IndexCatalog.create("t_par_hnsw", 2, "IDMap,HNSW8", "l2sq")
    IndexCatalog.add(grid, "t_par_hnsw")
    for ((nm, key) <- Seq(("t_par_ivf", "nprobe"), ("t_par_pq", "nprobe"),
                          ("t_par_pq", "refine"), ("t_par_hnsw", "efSearch"));
         bad <- Seq("0", "-2", "x", "1.5")) {
      val e = intercept[IllegalArgumentException](
        IndexCatalog.search(nm, 4, qs, Map(key -> bad)).collect())
      assert(e.getMessage.contains(s"'$key'"), s"$nm $key=$bad: ${e.getMessage}")
    }
    // the smallest valid value still serves
    assert(IndexCatalog.search("t_par_pq", 4, qs, Map("nprobe" -> "1", "refine" -> "1")).count() === 8)
  }

  test("oversized query batch fails loudly on the programmatic path, not OOM") {
    import spark.implicits._
    IndexCatalog.create("t_batchcap", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(grid, "t_batchcap")
    // shrink the cap for the test: the contract is the CHECK, not the size
    spark.conf.set(IndexCatalog.MaxQueryBatchConf, "8")
    try {
      val bigBatch = spark.range(0, 20)
        .select(col("id").as("qid"), array(lit(1.0f), lit(2.0f)).as("qvec"))
      val err = intercept[IllegalStateException](
        IndexCatalog.search("t_batchcap", 2, bigBatch).collect())
      assert(err.getMessage.contains("AnnJoin.ivfJoin"),
        s"cap error must point at the unbounded-join operator: ${err.getMessage}")
      // within the cap still serves
      assert(IndexCatalog.search("t_batchcap", 2, qs).count() === 4)
    } finally spark.conf.unset(IndexCatalog.MaxQueryBatchConf)
  }

  test("packed coded scan is bit-equal to the row-join plan (IVF-PQ, PQ, SQ variants)") {
    // the same index searched unrestricted (packed chunk scan) and with
    // an always-true filter (the row plan every restricted search takes)
    // must produce IDENTICAL rows -- same scorer, same (distance, label)
    // heap order, different plan
    import spark.implicits._
    val data = (for (i <- 0 until 400) yield {
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(r.nextFloat() * 4f))
    }).toDF("label", "vec")
    val queries = (for (q <- 0 until 7) yield {
      val r = new scala.util.Random(1000 + q)
      (q.toLong, Array.fill(8)(r.nextFloat() * 4f))
    }).toDF("qid", "qvec")
    val cases = Seq(
      ("t_pk_ivfpq", "IDMap,IVF8,PQ4", Map("nprobe" -> "3", "refine" -> "8")),
      ("t_pk_pq", "IDMap,PQ4", Map("refine" -> "8")),
      ("t_pk_sq8", "IDMap,SQ8", Map("refine" -> "4")),
      ("t_pk_ivfsq", "IDMap,IVF8,SQfp16", Map("nprobe" -> "8")),
      ("t_pk_rq", "IDMap,RQ2", Map("refine" -> "4")),
      ("t_pk_ivflsq", "IDMap,IVF4,LSQ2", Map("nprobe" -> "2", "refine" -> "4")),
      ("t_pk_sq4", "IDMap,SQ4", Map("refine" -> "4")))
    for ((name, factory, params) <- cases) {
      IndexCatalog.create(name, 8, factory, "l2sq", params)
      IndexCatalog.add(data, name)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
      val packed = rows(IndexCatalog.search(name, 5, queries))
      val rowPlan = rows(IndexCatalog.searchFilter(name, 5, queries, lit(true)))
      assert(packed === rowPlan, s"$factory: packed vs row plan diverged")
      assert(packed.nonEmpty)
      IndexCatalog.destroy(name)
    }
  }

}
