package graft.index

import java.nio.file.Files

import graft.SparkSpec
import graft.search.Knn

/** OPQ learned-rotation pretransform (factory "OPQ<m>,..."). */
class OpqSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  override def afterAll(): Unit = { IndexCatalog.destroyAll(); super.afterAll() }

  /** correlated sample with coupling ACROSS the m=2 subspace boundary:
    * dims (0,2) and (1,3) move together, so axis-aligned subspaces
    * {0,1} and {2,3} each see both factors and waste code budget —
    * exactly the case a learned rotation fixes (it can concentrate
    * each factor into one subspace) */
  private def anisotropic(n: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(n) {
      val a = rnd.nextGaussian() * 4.0
      val b = rnd.nextGaussian() * 4.0
      Array(
        (a + rnd.nextGaussian() * 0.05).toFloat,
        (b + rnd.nextGaussian() * 0.05).toFloat,
        (a + rnd.nextGaussian() * 0.05).toFloat,
        (b + rnd.nextGaussian() * 0.05).toFloat)
    }
  }

  test("trained rotation is orthogonal (R'R = I) and deterministic") {
    val pts = anisotropic(2000)
    val comps = Opq.train(pts, m = 2, seed = 42L)
    val d = comps.length
    for (a <- 0 until d; b <- 0 until d) {
      val dot = (0 until d).map(i => comps(a)(i).toDouble * comps(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-4, s"R'R[$a][$b] = $dot")
    }
    val again = Opq.train(pts, m = 2, seed = 42L)
    assert(comps.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq, "seeded train must be stable")
  }

  test("rotation lowers PQ reconstruction error on correlated data") {
    val pts = anisotropic(2000)
    val comps = Opq.train(pts, m = 2, seed = 42L)
    def mse(sample: Array[Array[Float]]): Double = {
      val books = Pq.train(sample, 2, 42L)
      sample.map { v =>
        val r = Opq.reconstruct(v, books)
        v.indices.map(i => { val t = v(i).toDouble - r(i); t * t }).sum
      }.sum / sample.length
    }
    val plain = mse(pts)
    val rotated = mse(pts.map(p => Array.tabulate(4)(j =>
      (0 until 4).map(i => p(i) * comps(j)(i)).sum)))
    assert(rotated < plain * 0.9,
      s"OPQ should cut quantization error on coupled dims: plain=$plain rotated=$rotated")
  }

  test("full lifecycle: OPQ8,PQ8 searches with high recall vs exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val data = (0 until 512).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("label", "vec")
    val qs = (0 until 8).map(i => (i.toLong, Array.fill(16)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("qid", "qvec")
    IndexCatalog.create("t_opq", 16, "IDMap,OPQ8,PQ8", "l2sq", Map("refine" -> "16"))
    IndexCatalog.add(data, "t_opq")
    val got = IndexCatalog.search("t_opq", 5, qs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val want = Knn.searchFlat(data, qs, 5, "l2sq").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = want.map { case (q, w) => got(q).intersect(w).size.toDouble / w.size }.sum / want.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("OPQ rotation persists across save/load (same results)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val data = (0 until 256).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextGaussian() * 2).toFloat))
    }.toDF("label", "vec")
    val qs = Seq((0L, Array.fill(8)(0.5f))).toDF("qid", "qvec")
    val dir = Files.createTempDirectory("graft_opqsave").toString
    IndexCatalog.create("t_opqsave", 8, "IDMap,OPQ4,PQ4", "l2sq", Map("refine" -> "8"))
    IndexCatalog.add(data, "t_opqsave")
    val before = IndexCatalog.search("t_opqsave", 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    IndexCatalog.save("t_opqsave", dir)
    IndexCatalog.destroy("t_opqsave")
    IndexCatalog.load("t_opqsave2", dir, spark)
    val after = IndexCatalog.search("t_opqsave2", 4, qs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(before === after)
  }

  test("OPQ with a non-L2 metric fails at create (PQ ADC convention)") {
    for ((nm, fac) <- Seq(("t_opq_ip", "IDMap,OPQ4,PQ4"), ("t_opq_rq_ip", "IDMap,OPQ4,RQ2"),
                          ("t_opq_lsq_ip", "IDMap,OPQ4,LSQ2")))
      intercept[IllegalArgumentException] {
        IndexCatalog.create(nm, 8, fac, "ip")
      }
  }

  test("dim-reducing OPQ factory suffix fails loudly instead of silently ignoring it") {
    intercept[UnsupportedOperationException] {
      IndexCatalog.create("t_opq_dimred", 64, "IDMap,OPQ8_16,PQ8", "l2sq")
    }
  }

  test("range search through a TRUNCATED pretransform fails loudly (projected distances)") {
    import spark.implicits._
    val line = (0 until 64).map(i => (i.toLong, Array(i.toFloat, 0.0f))).toDF("label", "vec")
    IndexCatalog.create("t_pca_radius", 2, "IDMap,PCA1,Flat", "l2sq")
    IndexCatalog.add(line, "t_pca_radius")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    intercept[UnsupportedOperationException] {
      IndexCatalog.searchRadius("t_pca_radius", 4.0, q).collect()
    }
    // full-rank stays supported (isometry -> exact)
    IndexCatalog.create("t_pca_radius_full", 2, "IDMap,PCA2,Flat", "l2sq")
    IndexCatalog.add(line, "t_pca_radius_full")
    assert(IndexCatalog.searchRadius("t_pca_radius_full", 4.5, q).count() >= 3)
  }
}
