package graft.index

import graft.SparkSpec

/**
 * Saved-layout compatibility: the indexes under test resources
 * `compat/` were written by an earlier release's `IndexCatalog.save`
 * (200 seeded 4-d vectors on a 1/8 grid, created with the params below).
 * Loading them must reproduce that release's search rows and decoded
 * codes exactly. A same-build save/load round trip cannot catch a change
 * to the persisted format; this spec can.
 */
class SavedLayoutCompatSpec extends SparkSpec {

  private def qs = {
    import spark.implicits._
    Seq(
      (0L, Array(0.25f, -0.5f, 1.0f, 0.125f)),
      (1L, Array(-1.5f, 1.25f, 0.0f, -0.75f)),
      (2L, Array(1.75f, 1.5f, -1.25f, 0.5f))).toDF("qid", "qvec")
  }

  override def afterAll(): Unit = {
    cases.foreach(c => IndexCatalog.destroy(s"t_compat_${c._1}"))
    super.afterAll()
  }

  // top-5 rows (qid, rank, label, distance) recorded at save time
  private val ivfPqRows = Seq((0, 0, 142, 0.234375), (0, 1, 41, 0.484375), (0, 2, 143, 0.546875),
    (0, 3, 165, 0.5625), (0, 4, 32, 0.796875), (1, 0, 10, 0.53125), (1, 1, 52, 0.703125),
    (1, 2, 139, 0.71875), (1, 3, 67, 0.890625), (1, 4, 101, 1.09375), (2, 0, 15, 0.234375),
    (2, 1, 172, 0.46875), (2, 2, 31, 0.609375), (2, 3, 80, 1.625), (2, 4, 94, 1.640625))

  // the raw vectors of labels 0, 17 and 123: what a raw-vector layout reconstructs
  private val rawRec = Some(Map(0L -> Seq(0.875f, 0.5f, 0.875f, -2.0f),
    17L -> Seq(0.375f, 1.625f, 0.375f, -1.875f),
    123L -> Seq(0.75f, 0.625f, 0.875f, -0.75f)))

  // nprobe = 1 rows of the coarse kinds (IVF, its graph coarse and IVF_HNSW,PQ agree here)
  private val ivfProbe1Rows = Seq((0, 0, 142, 0.234375), (0, 1, 41, 0.484375),
    (0, 2, 143, 0.546875), (0, 3, 165, 0.5625), (0, 4, 19, 1.078125), (1, 0, 10, 0.53125),
    (1, 1, 52, 0.703125), (1, 2, 139, 0.71875), (1, 3, 67, 0.890625), (1, 4, 101, 1.09375),
    (2, 0, 15, 0.234375), (2, 1, 172, 0.46875), (2, 2, 31, 0.609375), (2, 3, 94, 1.640625),
    (2, 4, 8, 1.90625))

  private val cases = Seq(
    // (fixture, factory, params at save, search rows, reconstruct of labels
    // 0, 17, 123 — None where a pretransform makes reconstruct throw)
    ("ivfpq", "IDMap,IVF4,PQ2", Map("nprobe" -> "2", "refine" -> "2"), ivfPqRows,
      Some(Map(0L -> Seq(0.875f, 0.5f, 0.875f, -2.0f),
        17L -> Seq(0.375f, 1.625f, 0.4375f, -1.875f),
        123L -> Seq(0.75f, 0.625f, 0.875f, -0.75f)))),
    ("sq8", "IDMap,SQ8", Map("refine" -> "1"),
      Seq((0, 0, 142, 0.234375), (0, 1, 41, 0.484375), (0, 2, 143, 0.546875),
        (0, 3, 165, 0.5625), (0, 4, 136, 0.625), (1, 0, 10, 0.53125), (1, 1, 52, 0.703125),
        (1, 2, 139, 0.71875), (1, 3, 67, 0.890625), (1, 4, 101, 1.09375), (2, 0, 15, 0.234375),
        (2, 1, 172, 0.46875), (2, 2, 31, 0.609375), (2, 3, 118, 1.46875), (2, 4, 80, 1.625)),
      Some(Map(0L -> Seq(0.87205887f, 0.50735307f, 0.87205887f, -2.0f),
        17L -> Seq(0.3705883f, 1.6318626f, 0.3705883f, -1.8784313f),
        123L -> Seq(0.7504902f, 0.62892175f, 0.87205887f, -0.7539215f)))),
    ("ivflsq", "IDMap,IVF4,LSQ2", Map("nprobe" -> "2", "refine" -> "2"), ivfPqRows,
      Some(Map(0L -> Seq(0.8934271f, 0.5247372f, 0.83033293f, -1.9679449f),
        17L -> Seq(0.37169984f, 1.6086468f, 0.37162995f, -1.8580723f),
        123L -> Seq(0.742987f, 0.6185478f, 0.86667943f, -0.7442109f)))),
    // one fixture per coarse quantizer and save directory: flat `centroids`,
    // graph `centroids` + `coarse_graph[_meta]`, IMI `centroids` +
    // `pq_codebooks` half books, `pca_ivf_centroids` under a pretransform,
    // and a coded index's `pq_coarse` with its persisted graph
    ("ivf", "IDMap,IVF4,Flat", Map("nprobe" -> "1"), ivfProbe1Rows, rawRec),
    ("ivfhnsw", "IDMap,IVF4_HNSW4,Flat", Map("nprobe" -> "1"), ivfProbe1Rows, rawRec),
    ("imi", "IDMap,IMI2x1", Map("nprobe" -> "1"),
      Seq((0, 0, 41, 0.484375), (0, 1, 143, 0.546875), (0, 2, 165, 0.5625), (0, 3, 32, 0.796875),
        (0, 4, 167, 1.578125), (1, 0, 10, 0.53125), (1, 1, 52, 0.703125), (1, 2, 139, 0.71875),
        (1, 3, 67, 0.890625), (1, 4, 101, 1.09375), (2, 0, 15, 0.234375), (2, 1, 172, 0.46875),
        (2, 2, 31, 0.609375), (2, 3, 94, 1.640625), (2, 4, 8, 1.90625)),
      rawRec),
    ("pcaivf", "IDMap,PCA2,IVF4,Flat", Map("nprobe" -> "1"),
      Seq((0, 0, 180, 0.036934483430801635), (0, 1, 23, 0.060907884548644375),
        (0, 2, 142, 0.0646359069036464), (0, 3, 39, 0.0717958187854677),
        (0, 4, 182, 0.12199016603199908), (1, 0, 88, 0.01696898963191984),
        (1, 1, 152, 0.03179254507757051), (1, 2, 187, 0.041088386597361526),
        (1, 3, 52, 0.049266638693580944), (1, 4, 158, 0.054448816333845684),
        (2, 0, 169, 0.018288161753766907), (2, 1, 80, 0.07400060554675747),
        (2, 2, 128, 0.13193266169623996), (2, 3, 15, 0.22235220879849749),
        (2, 4, 172, 0.3175163496537863)),
      None),
    ("ivfhnswpq", "IDMap,IVF4_HNSW4,PQ2", Map("nprobe" -> "1", "refine" -> "2"), ivfProbe1Rows,
      Some(Map(0L -> Seq(0.875f, 0.5f, 0.875f, -2.0f),
        17L -> Seq(0.375f, 1.625f, 0.4375f, -1.875f),
        123L -> Seq(0.75f, 0.625f, 0.875f, -0.75f)))))

  for ((fixture, factory, params, rows, decoded) <- cases)
    test(s"$factory saved by an earlier release loads with its search rows and decoded codes") {
      import spark.implicits._
      val dir = new java.io.File(getClass.getResource(s"/compat/$fixture").toURI).getPath
      val name = s"t_compat_$fixture"
      IndexCatalog.load(name, dir, spark)
      assert(IndexCatalog.meta(name).factory === factory)
      assert(IndexCatalog.meta(name).params === params)
      val got = IndexCatalog.search(name, 5, qs).collect()
        .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2).toInt, r.getDouble(3))).sorted.toSeq
      assert(got === rows)
      decoded.foreach { want =>
        val rec = IndexCatalog.reconstruct(name, Seq(0L, 17L, 123L).toDF("id")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
        assert(rec === want)
      }
    }
}
