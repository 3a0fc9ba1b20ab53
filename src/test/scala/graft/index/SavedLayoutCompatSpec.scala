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
    Seq("t_compat_ivfpq", "t_compat_sq8", "t_compat_ivflsq").foreach(IndexCatalog.destroy)
    super.afterAll()
  }

  // top-5 rows (qid, rank, label, distance) recorded at save time
  private val ivfPqRows = Seq((0, 0, 142, 0.234375), (0, 1, 41, 0.484375), (0, 2, 143, 0.546875),
    (0, 3, 165, 0.5625), (0, 4, 32, 0.796875), (1, 0, 10, 0.53125), (1, 1, 52, 0.703125),
    (1, 2, 139, 0.71875), (1, 3, 67, 0.890625), (1, 4, 101, 1.09375), (2, 0, 15, 0.234375),
    (2, 1, 172, 0.46875), (2, 2, 31, 0.609375), (2, 3, 80, 1.625), (2, 4, 94, 1.640625))

  private val cases = Seq(
    // (fixture, factory, params at save, search rows, reconstruct of labels 0, 17, 123)
    ("ivfpq", "IDMap,IVF4,PQ2", Map("nprobe" -> "2", "refine" -> "2"), ivfPqRows,
      Map(0L -> Seq(0.875f, 0.5f, 0.875f, -2.0f),
        17L -> Seq(0.375f, 1.625f, 0.4375f, -1.875f),
        123L -> Seq(0.75f, 0.625f, 0.875f, -0.75f))),
    ("sq8", "IDMap,SQ8", Map("refine" -> "1"),
      Seq((0, 0, 142, 0.234375), (0, 1, 41, 0.484375), (0, 2, 143, 0.546875),
        (0, 3, 165, 0.5625), (0, 4, 136, 0.625), (1, 0, 10, 0.53125), (1, 1, 52, 0.703125),
        (1, 2, 139, 0.71875), (1, 3, 67, 0.890625), (1, 4, 101, 1.09375), (2, 0, 15, 0.234375),
        (2, 1, 172, 0.46875), (2, 2, 31, 0.609375), (2, 3, 118, 1.46875), (2, 4, 80, 1.625)),
      Map(0L -> Seq(0.87205887f, 0.50735307f, 0.87205887f, -2.0f),
        17L -> Seq(0.3705883f, 1.6318626f, 0.3705883f, -1.8784313f),
        123L -> Seq(0.7504902f, 0.62892175f, 0.87205887f, -0.7539215f))),
    ("ivflsq", "IDMap,IVF4,LSQ2", Map("nprobe" -> "2", "refine" -> "2"), ivfPqRows,
      Map(0L -> Seq(0.8934271f, 0.5247372f, 0.83033293f, -1.9679449f),
        17L -> Seq(0.37169984f, 1.6086468f, 0.37162995f, -1.8580723f),
        123L -> Seq(0.742987f, 0.6185478f, 0.86667943f, -0.7442109f))))

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
      val rec = IndexCatalog.reconstruct(name, Seq(0L, 17L, 123L).toDF("id")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      assert(rec === decoded)
    }
}
