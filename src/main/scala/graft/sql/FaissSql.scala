package graft.sql

import scala.collection.immutable.ArraySeq

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, BindReferences, Cast, Expression, Generator, JoinedRow, Literal, NamedExpression, PredicateHelper, UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

import graft.index.IndexCatalog

/**
 * Per-row `faiss_search` SQL parity (reference README:71
 * `SELECT id, UNNEST(FAISS_SEARCH('name', 10, data)) FROM queries`):
 * the call parses as the unevaluable placeholder [[FaissSearchCall]],
 * [[FaissSearchRewrite]] turns each call into a [[FaissSearch]] logical
 * node over the rows it reads, and [[FaissSearchStrategy]] plans that
 * node into a [[FaissSearchExec]]. The search runs when the plan is
 * executed: analysis, optimization, planning and `EXPLAIN` run no job.
 * The reference executes one serial FAISS call per chunk; here the
 * exec searches the distinct query vectors as one batch through the
 * index's own search (for most kinds a distributed plan) and hands each
 * input row the list of its vector.
 *
 * Result type matches the reference shape: LIST<STRUCT(rank, label,
 * distance)> per input row (README:243), distances as DOUBLE.
 */
case class FaissSearchCall(
    indexName: String,
    k: Int,
    qvec: Expression,
    params: Map[String, String],
    // faiss_search_filter[_set]: (filterSql, idSelector, tableName) —
    // only rows of `tableName` passing `filterSql` participate, labels
    // taken from `idSelector` (reference README:225 argument order)
    restrict: Option[(String, String, String)],
    // faiss_range_search (FAISS range_search; a graft extension of the
    // reference's SQL surface): all neighbors within `radius`, variable
    // length, never padded — so the result shape drops `rank`
    radius: Option[Double] = None)
  extends Expression with Unevaluable {
  override def children: Seq[Expression] = Seq(qvec)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (radius.isDefined) FaissSearchCall.rangeResultType else FaissSearchCall.resultType
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(qvec = newChildren.head)
}

object FaissSearchCall {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = true),
    StructField("label", LongType, nullable = true),
    StructField("distance", DoubleType, nullable = true))), containsNull = true)
  // distance leads so the sorted-list order IS the metric order
  val rangeResultType: DataType = ArrayType(StructType(Seq(
    StructField("distance", DoubleType, nullable = true),
    StructField("label", LongType, nullable = true))), containsNull = true)
}

/**
 * The rows of `child`, each with `result`: the list [[FaissSearchCall]]
 * `call` gives its query vector (empty for a null vector or a vector
 * with no result). The call's own qvec refers to `child`'s output.
 */
case class FaissSearch(call: FaissSearchCall, result: Attribute, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ result
  override def producedAttributes: AttributeSet = AttributeSet(result)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/**
 * Rewrites [[FaissSearchCall]] placeholders into [[FaissSearch]] nodes.
 * Registered two ways (mirroring GraftFunctions):
 *  - `spark.sql.extensions=graft.sql.GraftExtensions` -> resolution rule
 *  - `GraftFunctions.registerAll(spark)` -> experimental optimizer rule
 *    (a live session's analyzer cannot be extended post-hoc)
 * Either way the rule only builds nodes; [[FaissSearchExec]] searches
 * at execution.
 *
 * A call in a SELECT list, a generator or a WHERE clause is replaced by
 * the result attribute of a node placed under that operator. The node
 * keys its rows by the query VECTOR itself, not a synthetic row id:
 * duplicate vectors share one search (FAISS would return identical
 * results anyway) and no id has to survive a recomputed nondeterministic
 * scan. Null vectors get an empty result list, zero-candidate queries
 * too — faiss_search returns a list value for every input row.
 */
case class FaissSearchRewrite(postAnalysis: Boolean = true)
  extends Rule[LogicalPlan] with PredicateHelper {

  private def hasCall(es: Seq[Expression]): Boolean =
    es.exists(_.exists(_.isInstanceOf[FaissSearchCall]))

  /** `size(faiss_search(...)) > 0` / `isnotnull(faiss_search(...))`
    * conjuncts over a call that is ALSO computed elsewhere in the plan
    * are vacuous — the surface pads every result list to exactly k like
    * the reference (README:243), so such guards can only come from
    * InferFiltersFromGenerate, whose guard over a generator's input
    * attribute is pushed down into the call on the post-hoc path (it
    * runs after the main optimizer). Left in place they would each
    * become a complete SECOND search of the corpus. A guard over a call
    * that appears nowhere else, or whose padding the user disabled, is
    * kept and rewritten like any filter (it genuinely drops empty-list
    * rows — e.g. null query vectors). */
  private def isVacuousCallGuard(e: Expression, alsoComputed: FaissSearchCall => Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{GetArrayStructFields, GreaterThan, IsNotNull, LessThan, Size}
    def padded(c: FaissSearchCall): Boolean =
      !c.params.get("pad").contains("false") && alsoComputed(c)
    // SimplifyExtractValueOps / nested-column pruning can rewrite
    // `size(call)` into `size(call.rank)` — per-element field extraction
    // preserves array length, so the guard is equally vacuous through
    // any GetArrayStructFields chain
    def callUnder(x: Expression): Option[FaissSearchCall] = x match {
      case c: FaissSearchCall => Some(c)
      case g: GetArrayStructFields => callUnder(g.child)
      case _ => None
    }
    e match {
      case GreaterThan(Size(a, _), l)
        if l.foldable && l.eval() == 0 && callUnder(a).exists(padded) => true
      case LessThan(l, Size(a, _))
        if l.foldable && l.eval() == 0 && callUnder(a).exists(padded) => true
      case IsNotNull(a) if callUnder(a).exists(alsoComputed) => true
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // calls computed outside Filters (project lists, generators): their
    // inferred filter guards are redundant copies
    val computed = plan.collect {
      case n if !n.isInstanceOf[Filter] =>
        n.expressions.flatMap(_.collect { case c: FaissSearchCall => c })
    }.flatten.toSet
    val cleaned = plan.transformUp {
      case f: Filter if hasCall(Seq(f.condition)) =>
        val conj = splitConjunctivePredicates(f.condition)
        val kept = conj.filterNot(isVacuousCallGuard(_, computed.contains))
        if (kept.length == conj.length) f
        else kept.reduceOption(And).map(Filter(_, f.child)).getOrElse(f.child)
    }
    val rewritten = cleaned.transformUp {
      case p: Project if p.resolved && hasCall(p.projectList) =>
        val (child, subst) = rewriteCalls(p.child, p.projectList)
        Project(p.projectList.map(subst(_).asInstanceOf[NamedExpression]), child)
      // SELECT explode(faiss_search(...)): if generator extraction won the
      // race to this subtree, the call sits inside the Generate node
      case g: Generate if g.resolved && hasCall(Seq(g.generator)) =>
        val (child, subst) = rewriteCalls(g.child, Seq(g.generator))
        g.copy(generator = subst(g.generator).asInstanceOf[Generator],
          unrequiredChildIndex = Nil, child = child)
      // a WHERE over the call (or a guard an optimizer rule copied there
      // that is not vacuous); the Project restores the Filter's schema
      case f: Filter if f.resolved && hasCall(Seq(f.condition)) =>
        val (child, subst) = rewriteCalls(f.child, Seq(f.condition))
        Project(f.output, Filter(subst(f.condition), child))
    }
    if (rewritten.eq(plan)) {
      // a surviving call in an unsupported position (aggregate list,
      // join condition, window spec, ...) would otherwise die deep in
      // codegen as an obscure Unevaluable error. On the post-hoc path
      // this is the terminal pass — fail with a clear message. During
      // resolution the batch is a fixpoint and the call may simply not
      // be matchable YET, so only log there; unresolved leftovers then
      // surface through the injected check rule.
      if (FaissSearchRewrite.hasUnplannedCall(plan)) {
        if (postAnalysis) throw new UnsupportedOperationException(FaissSearchRewrite.UnsupportedPosition)
        else logError(s"${FaissSearchRewrite.UnsupportedPosition}:\n${plan.treeString}")
      }
      plan
    }
    else if (!rewritten.resolved) {
      rewritten.foreachUp {
        case n if !n.resolved && n.children.forall(_.resolved) =>
          logError(s"faiss_search rewrite produced unresolved node:\n${n.treeString}")
        case _ => ()
      }
      rewritten
    } else rewritten
  }

  /** `child` under one [[FaissSearch]] node per distinct call in
    * `exprs`; returns it and the substitution of each call by its
    * node's result attribute. */
  private def rewriteCalls(
      child0: LogicalPlan, exprs: Seq[Expression]): (LogicalPlan, Expression => Expression) = {
    val calls = exprs.flatMap(_.collect { case c: FaissSearchCall => c }).distinct
    var child = child0
    val replacements = calls.zipWithIndex.map { case (call, i) =>
      val result = AttributeReference(s"__graft_res_$i", call.dataType, nullable = false)()
      child = FaissSearch(call, result, child)
      (call: Expression) -> (result: Expression)
    }.toMap
    (child, e => e.transformUp { case c: FaissSearchCall => replacements(c) })
  }
}

object FaissSearchRewrite {
  private[sql] val UnsupportedPosition =
    "faiss_search is supported in SELECT lists, generators (explode), and WHERE clauses " +
      "over a resolved FROM — not in aggregate/join/window positions"

  /** a call still in place of an expression: every call but a
    * [[FaissSearch]] node's own, which the node answers */
  private[sql] def hasUnplannedCall(plan: LogicalPlan): Boolean = plan.exists {
    case _: FaissSearch => false
    case n => n.expressions.exists(_.exists(_.isInstanceOf[FaissSearchCall]))
  }
}

/** Plans [[FaissSearch]]. A deterministic Project straight over the
  * node is planned into the same exec, so a request's collect is the
  * exec's own (one job on a local query table over HNSW: the search). */
object FaissSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, s: FaissSearch) if list.forall(_.deterministic) =>
      FaissSearchExec(s.call, s.result, list, planLater(s.child)) :: Nil
    case s: FaissSearch => FaissSearchExec(s.call, s.result, s.output, planLater(s.child)) :: Nil
    case _ => Nil
  }
}

/**
 * Executes [[FaissSearch]], then `projectList` over its rows:
 *  1. the child's distinct non-null query vectors (cast to
 *     array<float>; -0.0 is 0.0 and every NaN one value, as Spark's
 *     `distinct` groups them) are the batch, under the cap and dim
 *     check of [[IndexCatalog.queryBatch]], counted in distinct vectors.
 *     A local child (a [[LocalTableScanExec]], or another call's exec
 *     over one) is read on the driver; any other child goes through
 *     `.distinct()`;
 *  2. the batch is searched once through the index's batch search;
 *  3. the result's bounded per-vector lists (at most `maxQueryBatch` ×
 *     k rows for k-NN) are collected to the driver, each sorted as
 *     `sort_array` sorts it;
 *  4. each child row gets the list of its vector, or an empty list. A
 *     local child is joined on the driver (its collect runs only the
 *     search's jobs); any other child is mapped partition by partition
 *     against a broadcast vector → list map.
 * A vector with a null element equals no vector the search could read,
 * so it is left out of the batch (it counts toward neither the cap nor
 * the distinct vectors) and its rows get an empty list, as null rows do.
 */
case class FaissSearchExec(
    call: FaissSearchCall, result: Attribute, projectList: Seq[NamedExpression], child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(result)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "queryRows" -> SQLMetrics.createMetric(sparkContext, "query rows"),
    "distinctVectors" -> SQLMetrics.createMetric(sparkContext, "distinct query vectors"),
    "resultRows" -> SQLMetrics.createMetric(sparkContext, "result rows"),
    "searchTime" -> SQLMetrics.createTimingMetric(sparkContext, "search time"),
    "driverJoins" -> SQLMetrics.createMetric(sparkContext, "driver joins"),
    "broadcastJoins" -> SQLMetrics.createMetric(sparkContext, "broadcast map joins"))

  /** the query vector as the search reads it */
  private def queryVector: Expression =
    Cast(call.qvec, ArrayType(FloatType), Option(conf.sessionLocalTimeZone))

  /** the child's rows are in driver memory: a local table, or the
    * driver-joined rows of another call's exec over one */
  private def local: Boolean = child match {
    case _: LocalTableScanExec => true
    case e: FaissSearchExec => e.local
    case _ => false
  }

  override def executeCollect(): Array[InternalRow] =
    if (local) driverJoin() else super.executeCollect()

  protected override def doExecute(): RDD[InternalRow] =
    if (local) {
      val rows = driverJoin()
      sparkContext.parallelize(rows.toSeq, math.max(1, math.min(rows.length, sparkContext.defaultParallelism)))
    } else broadcastJoin()

  /** a local child's rows with their lists, joined on the driver */
  private def driverJoin(): Array[InternalRow] = {
    val rows = child.executeCollect()
    val vec = BindReferences.bindReference(queryVector, child.output)
    val vectors = rows.map { r =>
      Some(vec.eval(r).asInstanceOf[ArrayData]).filter(FaissSearchExec.searchable)
        .map(a => FaissSearchExec.vectorKey(a) -> a)
    }
    val distinct = scala.collection.mutable.LinkedHashMap.empty[ArraySeq[Long], Array[Float]]
    vectors.foreach(_.foreach { case (key, a) => distinct.getOrElseUpdate(key, FaissSearchExec.searched(a)) })
    val batch = IndexCatalog.localQueryBatch(session, distinct.values.toSeq, FaissSearchExec.BatchName,
      Some(IndexCatalog.meta(call.indexName)))
    val lists = search(batch)
    val proj = UnsafeProjection.create(projectList, child.output :+ result)
    val joined = new JoinedRow
    val out = rows.indices.map { i =>
      val list = vectors(i).flatMap(v => lists.get(v._1)).getOrElse(FaissSearchExec.Empty)
      proj(joined(rows(i), InternalRow(list))).copy(): InternalRow
    }.toArray
    metrics("queryRows").add(rows.length)
    metrics("driverJoins").add(1)
    postDriverMetrics()
    out
  }

  /** any other child: its distinct vectors through `.distinct()`, then
    * its partitions mapped against the broadcast lists */
  private def broadcastJoin(): RDD[InternalRow] = {
    val in = child.output
    val vec = queryVector
    val vectors = child.execute().mapPartitions { it =>
      val p = UnsafeProjection.create(Seq(Literal(0L), vec), in)
      it.map(p).filter(r => FaissSearchExec.searchable(r.getArray(1)))
    }
    val schema = StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType))))
    val batch = IndexCatalog.queryBatch(
      GraftBridge.internalCreateDataFrame(session, vectors, schema).distinct(),
      FaissSearchExec.BatchName, Some(IndexCatalog.meta(call.indexName)))
      .zipWithIndex.map { case ((_, v), qi) => (qi.toLong, v) }
    val lists = sparkContext.broadcast(search(batch))
    metrics("broadcastJoins").add(1)
    postDriverMetrics()
    val out = projectList
    val res = result
    val queryRows = metrics("queryRows")
    child.execute().mapPartitions { it =>
      val v = BindReferences.bindReference(vec, in)
      val proj = UnsafeProjection.create(out, in :+ res)
      val joined = new JoinedRow
      it.map { r =>
        queryRows += 1
        val a = v.eval(r).asInstanceOf[ArrayData]
        val list = if (!FaissSearchExec.searchable(a)) FaissSearchExec.Empty
          else lists.value.getOrElse(FaissSearchExec.vectorKey(a), FaissSearchExec.Empty)
        proj(joined(r, InternalRow(list)))
      }
    }
  }

  /** searches `batch` once; each searched vector's key -> its sorted list */
  private def search(batch: Array[(Long, Array[Float])]): Map[ArraySeq[Long], ArrayData] = {
    val start = System.nanoTime()
    // the reference pads every result list to exactly k (label = -1 for
    // missing, README:243) — mirror that by default, overridable via
    // an explicit map('pad','false') parameter (k-NN only; range
    // results are inherently variable-length)
    val params = Map("pad" -> "true") ++ call.params
    val flat = (call.radius, call.restrict) match {
      case (Some(r), None) =>
        IndexCatalog.searchRadiusBatch(call.indexName, r, batch, call.params)
      case (Some(_), Some(_)) =>
        throw new UnsupportedOperationException(
          "faiss_range_search does not take a filter; compose WHERE over the result")
      case (None, None) =>
        IndexCatalog.searchBatch(call.indexName, call.k, batch, params)
      case (None, Some((filterSql, idSelector, tableName))) =>
        val ids = session.table(tableName).where(expr(filterSql))
          .select(expr(idSelector).cast("long").as("label"))
        IndexCatalog.searchFilterSetBatch(call.indexName, call.k, batch, ids, params)
    }
    // (qid, rank, label, distance) or (qid, label, distance) rows: read
    // in place when the search left them in driver memory (HNSW)
    val (attrs, rows) = flat.queryExecution.logical match {
      case r: LocalRelation => (r.output, r.data)
      case _ => val (a, rs) = GraftBridge.collectInternal(flat); (a, rs.toSeq)
    }
    def at(name: String): Expression = attrs.find(_.name == name).get
    val fields = call.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val proj = UnsafeProjection.create(
      Cast(at("qid"), LongType) +: fields.map(f => Cast(at(f.name), f.dataType): Expression), attrs)
    val order = TypeUtils.getInterpretedOrdering(fields)
    val lists = rows.map(r => proj(r).copy()).groupBy(_.getLong(0)).map { case (qid, rs) =>
      val elems = rs.map(r => InternalRow.fromSeq(fields.indices.map(i => r.get(i + 1, fields(i).dataType))))
      qid -> (new GenericArrayData(elems.sorted(order).toArray[Any]): ArrayData)
    }
    metrics("distinctVectors").add(batch.length)
    metrics("resultRows").add(rows.length)
    metrics("searchTime").add((System.nanoTime() - start) / 1000000)
    batch.map { case (qid, v) =>
      FaissSearchExec.vectorKey(ArrayData.toArrayData(v)) -> lists.getOrElse(qid, FaissSearchExec.Empty)
    }.toMap
  }

  private def postDriverMetrics(): Unit =
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan = copy(child = newChild)
}

object FaissSearchExec {
  private val BatchName = "faiss_search query batch"
  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** a vector the search can read: not null, with no null element */
  private def searchable(a: ArrayData): Boolean = a != null && !(0 until a.numElements()).exists(a.isNullAt)

  /** a [[searchable]] query vector's equality key: -0.0 counts as 0.0
    * and every NaN as one value — the way Spark's `distinct` and join
    * keys group vectors */
  private[sql] def vectorKey(a: ArrayData): ArraySeq[Long] =
    ArraySeq.unsafeWrapArray(Array.tabulate(a.numElements()) { i =>
      val x = a.getFloat(i); java.lang.Float.floatToIntBits(if (x == 0f) 0f else x).toLong
    })

  /** the vector the search reads for `a`: normalized as [[vectorKey]] groups it */
  private def searched(a: ArrayData): Array[Float] = Array.tabulate(a.numElements()) { i =>
    val x = a.getFloat(i); if (x.isNaN) Float.NaN else if (x == 0f) 0f else x
  }
}
