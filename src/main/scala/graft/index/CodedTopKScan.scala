package graft.index

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.TopKHeap

/**
 * Packed coded-list scan: one IVF list chunk's (label, code) pairs
 * PACKED into a single array<struct<label bigint, code binary>> column,
 * scanned for one query with a bounded (distance, label) heap in a
 * primitive loop — the coded twin of [[graft.search.ListTopKScan]]. The
 * [[CodedScorer]] is the one the row plan's [[CodedDistance]] uses, so
 * distances are bit-identical between the packed and row plans.
 *
 * Why: the row-per-candidate coded search joins probed codes against
 * the query batch and pays join/aggregate operator overhead per
 * (code, query) PAIR — ~0.4 us each, which at the 100x rung (100
 * queries x 2.5M probed codes) was ~35 s of the 42 s search. This
 * expression is evaluated once per (chunk, query) row, so the plan's
 * cardinality is probe-count while the pair loop runs at memory speed
 * over a contiguous code buffer.
 *
 * Unpack-once cache: every query's eval of a given chunk sees
 * byte-identical `items`; the labels and the fixed-width codes are
 * flattened into primitive arrays once per chunk (key: n + first/last
 * label — chunks partition labels disjointly, same argument as
 * ListTopKScan) and reused across the query batch. Expression
 * instances are task-local, so the mutable cache needs no locking.
 *
 * Heap semantics are [[TopKHeap]]'s deterministic (distance, label)
 * ordering, ascending (coded search is the FAISS L2 convention) —
 * identical to the row path's vec_topk aggregate, so per-chunk top-k
 * merged by a second vec_topk equals the single-aggregate top-k
 * bit-for-bit.
 *
 * CodegenFallback is deliberate and measured: companion columns in
 * the same projection evaluate once per CHUNK row — the tax is within
 * run noise (tools/PackedScanProfile), see ListTopKScan's doc.
 */
case class CodedTopKScan(
    items: Expression, // array<struct<label bigint, code binary>>
    qid: Expression, // bigint
    k: Int,
    scorer: CodedScorer)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(items, qid)
  override def nullable: Boolean = false
  override def dataType: DataType = CodedTopKScan.resultType

  override def checkInputDataTypes(): TypeCheckResult = {
    val itemsOk = items.dataType match {
      case ArrayType(StructType(Array(l, c)), _) =>
        l.dataType == LongType && c.dataType == BinaryType
      case _ => false
    }
    if (itemsOk && qid.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"coded_topk_scan needs (array<struct<bigint,binary>>, bigint), got " +
        s"(${items.dataType.catalogString}, ${qid.dataType.catalogString})")
  }

  @transient private var cKeyN: Int = -1
  @transient private var cKeyFirst: Long = 0L
  @transient private var cKeyLast: Long = 0L
  @transient private var cLabels: Array[Long] = _
  @transient private var cCodes: Array[Byte] = _
  @transient private var cWidth: Int = 0

  private def unpack(arr: ArrayData): Unit = {
    val n = arr.numElements()
    val first = if (n > 0) arr.getStruct(0, 2).getLong(0) else 0L
    val last = if (n > 0) arr.getStruct(n - 1, 2).getLong(0) else 0L
    if (n == cKeyN && first == cKeyFirst && last == cKeyLast && cLabels != null) return
    val labels = new Array[Long](n)
    var width = 0
    if (n > 0) width = arr.getStruct(0, 2).getBinary(1).length
    val codes = new Array[Byte](n * width)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      labels(i) = row.getLong(0)
      val c = row.getBinary(1)
      System.arraycopy(c, 0, codes, i * width, width)
      i += 1
    }
    cKeyN = n; cKeyFirst = first; cKeyLast = last
    cLabels = labels; cCodes = codes; cWidth = width
  }

  override def eval(input: InternalRow): Any = {
    val arr = items.eval(input).asInstanceOf[ArrayData]
    val q = qid.eval(input)
    if (arr == null || q == null) return new GenericArrayData(Array.empty[Any])
    unpack(arr)
    val ctx = scorer.forQuery(q.asInstanceOf[Long])
    val heap = new TopKHeap(k, ascending = true)
    val n = cKeyN
    var i = 0
    while (i < n) {
      heap.insert(scorer.score(ctx, cCodes, i * cWidth, cWidth), cLabels(i))
      i += 1
    }
    val out = heap.sorted.map { case (d, l) =>
      new GenericInternalRow(Array[Any](l, d))
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(items = newChildren(0), qid = newChildren(1))
}

object CodedTopKScan {
  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("label", LongType, nullable = false),
      StructField("distance", DoubleType, nullable = false))),
    containsNull = false)
}
