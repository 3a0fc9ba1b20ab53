package graft.search

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.{TopKHeap, VectorMath}

/**
 * FAISS-style packed-list scan: given one probe vector and an IVF
 * list's vectors PACKED into a single array<struct<label,vec>> column,
 * return the probe's top-k (label, distance) over that list.
 *
 * This is the kernel that lets the distributed ANN join avoid a
 * row-per-candidate-pair join: Spark's join operators cost
 * ~0.4-0.9 us per OUTPUT row (buffered-group iteration, joined-row
 * plumbing, operator hand-off — measured at the 100x rung where an
 * 8e8-pair SortMergeJoin burned 2000 core-seconds), while this
 * expression is evaluated once per (probe, list) row and scans the
 * packed vectors in a primitive loop at ~0.1 us per pair. One eval
 * amortizes the expression-dispatch overhead over the whole list, so
 * interpreted eval (CodegenFallback) is fine — the inner loop IS the
 * work, and it runs on UnsafeArrayData views with the devirtualized
 * distance kernels from [[VectorMath]]. The interpreted-companion tax
 * (other columns in this projection also losing codegen) was MEASURED
 * at chunk granularity (SURVEY §21.7: 80M-pair probe stage with an
 * extra arithmetic column in the same projection, +6.3% / −26.2% /
 * −2.0% over three fresh JVMs): within the ±15% run noise — companions evaluate once per chunk,
 * not per candidate, so no doGenCode is warranted.
 *
 * Heap semantics are [[TopKHeap]]'s (distance, label) deterministic
 * ordering — identical to the vec_topk aggregate, so exhaustive-probe
 * joins through this path stay bit-equal to the brute-force oracle.
 */
case class ListTopKScan(
    items: Expression, // array<struct<label bigint, vec array<float>>>
    qvec: Expression, // array<float>
    qid: Expression, // bigint (self-match exclusion)
    k: Int,
    metric: Int,
    ascending: Boolean,
    excludeSelf: Boolean)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(items, qvec, qid)
  override def nullable: Boolean = false
  override def dataType: DataType = ListTopKScan.resultType

  override def checkInputDataTypes(): TypeCheckResult = {
    val itemsOk = items.dataType match {
      case ArrayType(StructType(Array(l, v)), _) =>
        l.dataType == LongType && (v.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
      case _ => false
    }
    val qvecOk = qvec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (itemsOk && qvecOk && qid.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"list_topk_scan needs (array<struct<bigint,array<float>>>, array<float>, bigint), got " +
        s"(${items.dataType.catalogString}, ${qvec.dataType.catalogString}, ${qid.dataType.catalogString})")
  }

  // Unpack-once cache: every probe of a given (list, salt) evaluates
  // against byte-identical `items` content, but each eval sees a fresh
  // ArrayData VIEW — per-pair getStruct/getArray wrapper allocations
  // measured ~0.4 us/pair of the packed scan (400 core-s of the 100x
  // rung's 8e8-pair join). Unpacking to primitive arrays once per list
  // and scanning with distArr runs the pair loop at memory speed. The
  // cache key (n, first label, last label) is collision-proof WITHIN a
  // join: a right row lives in exactly one (list, salt) group, so
  // label sets across groups are disjoint and the first label alone
  // identifies the group. Expression instances are deserialized per
  // task (single-threaded), so the mutable fields are task-local.
  @transient private var cKeyN: Int = -1
  @transient private var cKeyFirst: Long = 0L
  @transient private var cKeyLast: Long = 0L
  @transient private var cLabels: Array[Long] = _
  @transient private var cVecs: Array[Array[Float]] = _

  override def eval(input: InternalRow): Any = {
    val itemsV = items.eval(input)
    val qvecV = qvec.eval(input)
    if (itemsV == null || qvecV == null) return new GenericArrayData(Array.empty[Any])
    val arr = itemsV.asInstanceOf[ArrayData]
    val q = qvecV.asInstanceOf[ArrayData]
    val qidV = if (excludeSelf) {
      val v = qid.eval(input)
      if (v == null) Long.MinValue else v.asInstanceOf[Long]
    } else Long.MinValue
    val heap = new TopKHeap(k, ascending)
    val n = arr.numElements()
    if (n > 0 && !arr.isNullAt(0) && !arr.isNullAt(n - 1)) {
      val first = arr.getStruct(0, 2).getLong(0)
      val last = arr.getStruct(n - 1, 2).getLong(0)
      if (n != cKeyN || first != cKeyFirst || last != cKeyLast) {
        val ls = new Array[Long](n)
        val vs = new Array[Array[Float]](n)
        var i = 0
        while (i < n) {
          if (!arr.isNullAt(i)) {
            val row = arr.getStruct(i, 2)
            ls(i) = row.getLong(0)
            vs(i) = if (row.isNullAt(1)) null else row.getArray(1).toFloatArray()
          }
          i += 1
        }
        cLabels = ls; cVecs = vs; cKeyN = n; cKeyFirst = first; cKeyLast = last
      }
      val qArr = q.toFloatArray()
      val labels = cLabels
      val vecs = cVecs
      var i = 0
      while (i < n) {
        val v = vecs(i)
        // NaN distances are rejected by the heap, matching vec_topk
        if (v != null && !(excludeSelf && labels(i) == qidV))
          heap.insert(VectorMath.distArr(metric, v, qArr, 3.0), labels(i))
        i += 1
      }
    } else {
      // null entries at the array ends defeat the cache key — scan
      // through the views directly (same loop order, bit-equal)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val row = arr.getStruct(i, 2)
          val lbl = row.getLong(0)
          // mirror the cached branch's null-vec guard (AnnJoin's
          // collect_list never emits one, but other callers might)
          if (!(excludeSelf && lbl == qidV) && !row.isNullAt(1)) {
            val vec = row.getArray(1)
            heap.insert(VectorMath.dist(metric, vec, q, 3.0), lbl)
          }
        }
        i += 1
      }
    }
    val out = new Array[Any](heap.size)
    val sorted = heap.sorted
    var j = 0
    while (j < sorted.length) {
      out(j) = new GenericInternalRow(Array[Any](sorted(j)._2, sorted(j)._1))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(items = c(0), qvec = c(1), qid = c(2))

  override def prettyName: String = "list_topk_scan"
}

object ListTopKScan {
  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("label", LongType, nullable = false),
      StructField("distance", DoubleType, nullable = false))),
    containsNull = false)
}
