package graft.index

import org.scalatest.funsuite.AnyFunSuite

/**
 * Unit properties of the local-search additive quantizer (Lsq.scala):
 * the two claims that justify shipping it next to RQ are that ICM
 * never encodes worse than greedy under the SAME books, and that
 * train's encode/refit alternation never increases the training
 * objective vs the greedy-RQ starting point.
 */
class LsqSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20260815L)
  // correlated dims (x, x+noise, ...) — the regime where additive
  // quantizers beat subspace PQ and refitting has signal to exploit
  private def vec(n: Int): Array[Float] = {
    val base = rnd.nextFloat() * 4f - 2f
    Array.tabulate(n)(i => base + (rnd.nextFloat() - 0.5f) * (1 + i % 3))
  }
  private val samples = Array.fill(600)(vec(16))

  test("ICM encoding never reconstructs worse than greedy under the same books") {
    val books = Rq.train(samples, 4, seed = 11L)
    var greedyErr = 0.0
    var icmErr = 0.0
    samples.foreach { v =>
      def err(code: Array[Byte]): Double = {
        val dec = Rq.decodeOne(code, books)
        var s = 0.0; var i = 0
        while (i < v.length) { val t = v(i).toDouble - dec(i); s += t * t; i += 1 }
        s
      }
      val g = err(Rq.encodeOne(new org.apache.spark.sql.catalyst.util.GenericArrayData(v), books))
      val l = err(Lsq.encodeArr(v, books))
      assert(l <= g + 1e-9, s"ICM worse than greedy: $l > $g")
      greedyErr += g; icmErr += l
    }
    assert(icmErr < greedyErr) // strictly better in aggregate on correlated data
  }

  test("LSQ training never worsens — and on a determined system strictly lowers — MSE vs greedy-RQ init") {
    // under-determined config (600 samples vs m*K=1024 unknowns): the
    // objective guard must HOLD the greedy init rather than accept an
    // ill-conditioned refit
    val rqSmall = Rq.train(samples, 4, seed = 11L)
    val lsqSmall = Lsq.train(samples, 4, seed = 11L)
    assert(Lsq.reconstructionMse(samples, lsqSmall)
      <= Lsq.reconstructionMse(samples, rqSmall) + 1e-9)
    // determined config (3000 samples vs 512 unknowns): the refit has
    // signal and must strictly improve
    val big = Array.fill(3000)(vec(16))
    val rqBooks = Rq.train(big, 2, seed = 11L)
    val lsqBooks = Lsq.train(big, 2, seed = 11L)
    val rqMse = Lsq.reconstructionMse(big, rqBooks)
    val lsqMse = Lsq.reconstructionMse(big, lsqBooks)
    assert(lsqMse < rqMse, s"LSQ $lsqMse not below RQ-init $rqMse")
  }

  test("train and encode are deterministic in (sample, m, seed)") {
    val a = Lsq.train(samples, 4, 7L)
    val b = Lsq.train(samples.map(_.clone()), 4, 7L)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq === b.map(_.map(_.toSeq).toSeq).toSeq)
    val v = samples(0)
    assert(Lsq.encodeArr(v, a).toSeq === Lsq.encodeArr(v.clone(), b).toSeq)
  }

  test("catalog: LSQ exhaustive settings equal flat search; factory grammar; save/load + append") {
    import org.apache.spark.sql.functions._
    val spark = graft.SparkSpec.session
    import spark.implicits._
    assert(IndexCatalog.parseFactory("LSQ8x8") === IndexCatalog.CodedKind(LsqCodecSpec(8), 1))
    assert(IndexCatalog.parseFactory("IVF8,LSQ4") === IndexCatalog.CodedKind(LsqCodecSpec(4), 8))
    assert(IndexCatalog.parseFactory("IVF64_HNSW8,LSQ4") === IndexCatalog.CodedKind(LsqCodecSpec(4), 64, 8))
    intercept[IllegalArgumentException](IndexCatalog.parseFactory("LSQ8x4"))
    intercept[IllegalArgumentException](
      IndexCatalog.create("t_lsq_ip", 2, "IDMap,LSQ2", "ip"))
    val grid = (0L until 256L)
      .map(i => (i, Array((i % 16).toFloat, (i / 16).toFloat))).toDF("label", "vec")
    val qs = Seq((0L, Array(3.2f, 7.7f)), (1L, Array(12.1f, 2.2f))).toDF("qid", "qvec")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val want = labelsOf(graft.search.Knn.searchFlat(grid, qs, 4, "l2sq"))
    if (IndexCatalog.exists("t_lsq")) IndexCatalog.destroy("t_lsq")
    IndexCatalog.create("t_lsq", 2, "IDMap,IVF4,LSQ2", "l2sq",
      Map("nprobe" -> "4", "refine" -> "64"))
    IndexCatalog.add(grid.where(col("label") < 200), "t_lsq")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsq").toString
    IndexCatalog.save("t_lsq", dir)
    IndexCatalog.load("t_lsq_l", dir, spark)
    // append AFTER load: encoding must run through the restored books
    // with the ICM encoder; exhaustive settings stay exact
    IndexCatalog.add(grid.where(col("label") >= 200), "t_lsq_l")
    assert(labelsOf(IndexCatalog.search("t_lsq_l", 4, qs)) === want)
  }
}
