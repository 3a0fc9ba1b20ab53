package graft.index

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.functions.{TopKHeap, VectorMath}

/**
 * argmin-n over a (small) centroid table: the `nprobe` nearest centroid
 * ids of a vector — the kernels of [[FlatCoarse]], the Spark-native
 * analog of FAISS's in-RAM flat coarse quantizer (IVF probing, cf.
 * duckdb-faiss-ext README index_factory "IVFn,Flat"). The centroid
 * matrix rides along with the serialized plan to every executor inside
 * [[CoarseAssign]].
 */
object NearestCentroids {

  /** the executor-side kernel (an array<float> row value) */
  def nearest(v: ArrayData, centroids: Array[Array[Float]], nprobe: Int, metric: Int): ArrayData = {
    // materialize ONCE per row: ArrayData.getFloat is a virtual call
    // (boxed on GenericArrayData), and the centroid loop reads the
    // vector nlist times — through the accessor that measured ~75
    // MFLOP/s/core and made assignment the dominant term of the 100x
    // rung's ANN join (218 s); on a primitive float[] the same loop is
    // JIT-vectorizable
    val q = v.toFloatArray()
    if (nprobe == 1) {
      // hot path for assignment: plain argmin, no heap. NaN distances
      // are skipped like TopKHeap does; an all-NaN vector probes nothing
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val d0 = distTo(q, centroids(c), metric)
        if (!java.lang.Double.isNaN(d0)) {
          val d = if (metric == VectorMath.IP) -d0 else d0
          if (d < bestD) { bestD = d; best = c }
        }
        c += 1
      }
      if (best < 0) new GenericArrayData(Array.emptyIntArray)
      else new GenericArrayData(Array(best))
    } else {
      val asc = VectorMath.smallerIsCloser(metric)
      val heap = new TopKHeap(math.min(nprobe, centroids.length), asc)
      var c = 0
      while (c < centroids.length) {
        heap.insert(distTo(q, centroids(c), metric), c.toLong)
        c += 1
      }
      new GenericArrayData(heap.sorted.map(_._2.toInt))
    }
  }

  /**
   * Driver-side twin of [[nearest]] for probing with an already
   * materialized query vector. Metric-aware like the assignment path:
   * FAISS probes with the same metric it assigned with — an IP index
   * probed by L2 would look in lists its vectors were never put in.
   */
  def nearestIds(q: Array[Float], centroids: Array[Array[Float]], nprobe: Int, metric: Int): Seq[Int] = {
    val asc = VectorMath.smallerIsCloser(metric)
    val heap = new TopKHeap(math.min(nprobe, centroids.length), asc)
    var c = 0
    while (c < centroids.length) {
      heap.insert(distTo(q, centroids(c), metric), c.toLong) // same loops, same SIMD gate
      c += 1
    }
    heap.sorted.map(_._2.toInt).toSeq
  }

  @inline private def distTo(v: Array[Float], cen: Array[Float], metric: Int): Double = {
    // IVF assignment/probing is per-corpus-row at build time (the
    // measured dominant term of the 100x ANN-join rung pre-packing):
    // opt into the SIMD kernels when gated on; the scalar loops below
    // stay the canonical default (identical order to distArr's)
    if (VectorMath.Simd.active)
      return if (metric == VectorMath.IP) graft.functions.SimdKernels.ip(v, cen)
             else graft.functions.SimdKernels.l2sq(v, cen)
    var d = 0.0
    var i = 0
    if (metric == VectorMath.IP) {
      while (i < v.length) { d += v(i).toDouble * cen(i); i += 1 }
    } else { // coarse quantization probes by L2 for all other metrics
      while (i < v.length) { val t = v(i).toDouble - cen(i); d += t * t; i += 1 }
    }
    d
  }
}
