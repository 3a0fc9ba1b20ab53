package graft.index

import graft.SparkSpec
import graft.search.Knn

/** Incremental IVF append: add-after-build extends the built index in
  * O(batch) instead of invalidating it (the real-time ingest path). */
class IncrementalSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  override def afterAll(): Unit = { IndexCatalog.destroyAll(); super.afterAll() }

  private def vecs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, Array((i % 16).toFloat, (i / 16).toFloat))).toDF("label", "vec")
  }
  private def qs = {
    import spark.implicits._
    Seq((0L, Array(3.2f, 3.1f)), (1L, Array(12.0f, 1.0f))).toDF("qid", "qvec")
  }
  private def resultSet(name: String) =
    IndexCatalog.search(name, 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("add after build keeps built state and equals a full rebuild (exhaustive probe)") {
    IndexCatalog.create("t_incr", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(vecs(0 until 128), "t_incr")
    IndexCatalog.search("t_incr", 4, qs).count() // forces build
    assert(IndexCatalog.isBuilt("t_incr"))

    IndexCatalog.add(vecs(128 until 256), "t_incr")
    assert(IndexCatalog.isBuilt("t_incr"),
      "IVF add must extend the built index incrementally, not invalidate it")
    val incremental = resultSet("t_incr")

    // fresh index over the SAME total corpus with the SAME centroids:
    // pin them by training the reference index on the first batch only,
    // exactly what the incremental index saw at its build
    IndexCatalog.create("t_incr_ref", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.manualTrain(vecs(0 until 128).select(col("vec")), "t_incr_ref")
    IndexCatalog.add(vecs(0 until 256), "t_incr_ref")
    assert(incremental === resultSet("t_incr_ref"))

    // and at exhaustive probe both equal brute force over the union
    val want = Knn.searchFlat(
        vecs(0 until 256), qs, 4, "l2sq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(incremental === want)
  }

  test("incrementally appended rows are immediately searchable and probe-pruned") {
    IndexCatalog.create("t_incr2", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(vecs(0 until 64), "t_incr2")
    IndexCatalog.search("t_incr2", 2, qs).count()
    // append a vector that becomes the new exact nearest neighbor of q0
    import spark.implicits._
    IndexCatalog.add(Seq((999L, Array(3.2f, 3.1f))).toDF("label", "vec"), "t_incr2")
    val top = IndexCatalog.search("t_incr2", 1, qs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(top(0L) === 999L, "appended row must win the top-1 immediately")
  }

  test("appended rows land in the CORRECT list (visible at nprobe=1, not just exhaustive)") {
    import spark.implicits._
    // four tight clusters at the corners; manual train pins one centroid
    // per corner, so assignment is unambiguous
    val corners = Seq((0f, 0f), (0f, 100f), (100f, 0f), (100f, 100f))
    val base = corners.zipWithIndex.flatMap { case ((x, y), c) =>
      (0 until 8).map(i => ((c * 8 + i).toLong, Array(x + i * 0.1f, y + i * 0.1f)))
    }.toDF("label", "vec")
    IndexCatalog.create("t_incr_np1", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "1"))
    IndexCatalog.manualTrain(
      corners.map { case (x, y) => Tuple1(Array(x, y)) }.toDF("vec"), "t_incr_np1")
    IndexCatalog.add(base, "t_incr_np1")
    IndexCatalog.search("t_incr_np1", 1,
      Seq((0L, Array(0.5f, 0.5f))).toDF("qid", "qvec")).count() // build
    // append one row near corner (100,100); with nprobe=1 a query at that
    // corner probes exactly that list — a mis-assigned row would vanish
    IndexCatalog.add(Seq((777L, Array(99.0f, 99.0f))).toDF("label", "vec"), "t_incr_np1")
    assert(IndexCatalog.isBuilt("t_incr_np1"), "must be the incremental path")
    val hit = IndexCatalog.search("t_incr_np1", 1,
      Seq((0L, Array(99.0f, 99.0f))).toDF("qid", "qvec")).collect()
    assert(hit.head.getLong(2) === 777L,
      "appended row must be found through its OWN probed list at nprobe=1")
    // and a query at the opposite corner must NOT see it
    val miss = IndexCatalog.search("t_incr_np1", 32,
      Seq((0L, Array(0.5f, 0.5f))).toDF("qid", "qvec")).collect()
    assert(!miss.map(_.getLong(2)).contains(777L),
      "row must live in exactly its nearest list, not all probed unions")
  }

  test("compact() folds appended batches; results unchanged, built state kept") {
    IndexCatalog.create("t_incr3", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(vecs(0 until 64), "t_incr3")
    IndexCatalog.search("t_incr3", 4, qs).count()
    IndexCatalog.add(vecs(64 until 128), "t_incr3")
    IndexCatalog.add(vecs(128 until 192), "t_incr3")
    val before = resultSet("t_incr3")
    IndexCatalog.compact("t_incr3")
    assert(IndexCatalog.isBuilt("t_incr3"))
    assert(resultSet("t_incr3") === before)
    // still incremental after compaction
    IndexCatalog.add(vecs(192 until 200), "t_incr3")
    assert(IndexCatalog.isBuilt("t_incr3"))
    assert(IndexCatalog.search("t_incr3", 4, qs).count() === 8)
  }

  test("searches racing incremental adds never fail and never lose settled rows") {
    import spark.implicits._
    IndexCatalog.create("t_incr_race", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(vecs(0 until 64), "t_incr_race")
    IndexCatalog.search("t_incr_race", 2, qs).count()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val adder = new Thread(() => (0 until 8).foreach { b =>
      try IndexCatalog.add(
        Seq((1000L + b, Array(b.toFloat, b.toFloat))).toDF("label", "vec"), "t_incr_race")
      catch { case t: Throwable => errs.add(t) }
    })
    val searcher = new Thread(() => (0 until 8).foreach { _ =>
      try {
        // every search must return a full result set over SOME prefix of
        // the add stream (at least the initially-built 64 rows)
        val n = IndexCatalog.search("t_incr_race", 2, qs).count()
        if (n != 4) errs.add(new AssertionError(s"got $n result rows"))
      } catch { case t: Throwable => errs.add(t) }
    })
    adder.start(); searcher.start(); adder.join(); searcher.join()
    assert(errs.isEmpty, errs.toString)
    // all adds settled: the final index sees every appended row
    val all = IndexCatalog.search("t_incr_race", 2,
      Seq((9L, Array(7.0f, 7.0f))).toDF("qid", "qvec")).collect()
    assert(all.nonEmpty)
  }

  test("non-IVF kinds still invalidate on add (rebuild path unchanged)") {
    IndexCatalog.create("t_incr_flat", 2, "IDMap,Flat", "l2sq")
    IndexCatalog.add(vecs(0 until 32), "t_incr_flat")
    IndexCatalog.search("t_incr_flat", 2, qs).count()
    assert(IndexCatalog.isBuilt("t_incr_flat"))
    IndexCatalog.add(vecs(32 until 64), "t_incr_flat")
    assert(!IndexCatalog.isBuilt("t_incr_flat"))
    // and the rebuild sees everything
    assert(IndexCatalog.search("t_incr_flat", 2, qs).count() === 4)
  }

  test("merge folds src into dst, equals one index over the union; src left empty") {
    IndexCatalog.create("t_mrg_dst", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.create("t_mrg_src", 2, "IDMap,IVF4,Flat", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.add(vecs(0 until 64), "t_mrg_dst")
    IndexCatalog.add(vecs(64 until 128), "t_mrg_src")
    // dst is BUILT before the merge: the fold must extend it
    // incrementally (pinned centroids), not invalidate it
    IndexCatalog.search("t_mrg_dst", 4, qs).count()
    assert(IndexCatalog.isBuilt("t_mrg_dst"))
    IndexCatalog.merge("t_mrg_dst", "t_mrg_src")
    assert(IndexCatalog.isBuilt("t_mrg_dst"),
      "merge into a built IVF must append incrementally")
    // exhaustive probe over the merged index = brute force over the union
    val want = Knn.searchFlat(vecs(0 until 128), qs, 4, "l2sq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(resultSet("t_mrg_dst") === want)
    // src stays registered but holds nothing (FAISS clears the source's
    // inverted lists); searching it reports the empty-index error
    assert(IndexCatalog.exists("t_mrg_src"))
    val e = intercept[Exception](IndexCatalog.search("t_mrg_src", 2, qs).count())
    assert(e.getMessage.contains("no vectors"))
  }

  test("merge into a built coded index extends it in place, equal to a rebuild from the pinned state") {
    IndexCatalog.create("t_mrg_pq", 2, "IDMap,IVF4,PQ2", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.create("t_mrg_pq_src", 2, "IDMap,IVF4,PQ2", "l2sq")
    IndexCatalog.add(vecs(0 until 128), "t_mrg_pq")
    IndexCatalog.add(vecs(128 until 256), "t_mrg_pq_src")
    IndexCatalog.search("t_mrg_pq", 4, qs).count() // builds: trains and pins codebooks + centroids
    IndexCatalog.merge("t_mrg_pq", "t_mrg_pq_src")
    assert(IndexCatalog.isBuilt("t_mrg_pq"), "merge into a built coded index must append incrementally")
    // the reference trains on the first batch only, exactly what the
    // merged index saw at its build, then builds once over the union
    IndexCatalog.create("t_mrg_pq_ref", 2, "IDMap,IVF4,PQ2", "l2sq", Map("nprobe" -> "4"))
    IndexCatalog.manualTrain(vecs(0 until 128).select(col("vec")), "t_mrg_pq_ref")
    IndexCatalog.add(vecs(0 until 256), "t_mrg_pq_ref")
    def rows(name: String) = IndexCatalog.search(name, 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(rows("t_mrg_pq") === rows("t_mrg_pq_ref"))
  }

  test("merge addId shifts labels and keeps auto-id numbering collision-free") {
    import spark.implicits._
    IndexCatalog.create("t_mrg_auto_d", 2, "IVF2,Flat", "l2sq", Map("nprobe" -> "2"))
    IndexCatalog.create("t_mrg_auto_s", 2, "IVF2,Flat", "l2sq", Map("nprobe" -> "2"))
    // 1-col adds -> auto ids 0..3 in each shard
    IndexCatalog.add(vecs(0 until 4).select(col("vec")), "t_mrg_auto_d")
    IndexCatalog.add(vecs(4 until 8).select(col("vec")), "t_mrg_auto_s")
    IndexCatalog.merge("t_mrg_auto_d", "t_mrg_auto_s", addId = 4L)
    // all 8 rows searchable under distinct labels 0..7
    val labels = IndexCatalog.search("t_mrg_auto_d", 8,
        Seq((0L, Array(0f, 0f))).toDF("qid", "qvec"))
      .collect().map(_.getLong(2)).toSet
    assert(labels === (0L until 8L).toSet)
    // the NEXT auto-id add starts past the merged labels
    IndexCatalog.add(vecs(8 until 9).select(col("vec")), "t_mrg_auto_d")
    val after = IndexCatalog.search("t_mrg_auto_d", 9,
        Seq((0L, Array(0f, 0f))).toDF("qid", "qvec"))
      .collect().map(_.getLong(2)).toSet
    assert(after === (0L until 9L).toSet)
  }

  test("merge rejects self, dim and metric mismatches") {
    IndexCatalog.create("t_mrg_e1", 2, "IDMap,Flat", "l2sq")
    IndexCatalog.create("t_mrg_e2", 3, "IDMap,Flat", "l2sq")
    IndexCatalog.create("t_mrg_e3", 2, "IDMap,Flat", "ip")
    intercept[IllegalArgumentException](IndexCatalog.merge("t_mrg_e1", "t_mrg_e1"))
    intercept[IllegalArgumentException](IndexCatalog.merge("t_mrg_e1", "t_mrg_e2"))
    intercept[IllegalArgumentException](IndexCatalog.merge("t_mrg_e1", "t_mrg_e3"))
  }
}
