package graft.sql

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Generator, NamedExpression, Unevaluable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.IndexCatalog

/**
 * Per-row `faiss_search` SQL parity (reference README:71
 * `SELECT id, UNNEST(FAISS_SEARCH('name', 10, data)) FROM queries`):
 * the call parses as this unevaluable placeholder, and
 * [[FaissSearchRewrite]] rewrites the enclosing operator into the
 * index's search over the distinct query vectors (for most kinds a
 * relational plan: broadcast query batch -> pruned index scan ->
 * partial top-k), joined back to the input rows on query-vector
 * equality. The reference executes one serial FAISS call per chunk;
 * here the SAME SQL text becomes a distributed Catalyst plan. What is
 * already in driver memory stays there: a LocalRelation query table is
 * deduplicated on the driver (no distinct job), and a local result (an
 * HNSW search, merged on the driver) becomes the per-vector lists on
 * the driver (no aggregate, no join against the batch), so such a
 * request runs only its search job while it is planned.
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
 * Rewrites [[FaissSearchCall]] placeholders into executable plans.
 * Registered two ways (mirroring GraftFunctions):
 *  - `spark.sql.extensions=graft.sql.GraftExtensions` -> resolution rule
 *  - `GraftFunctions.registerAll(spark)` -> experimental optimizer rule
 *    (a live session's analyzer cannot be extended post-hoc)
 *
 * The join-back key is the query VECTOR itself, not a synthetic row id:
 * duplicate vectors share one search (FAISS would return identical
 * results anyway) and no id has to survive a recomputed nondeterministic
 * scan. Null vectors get an empty result list, zero-candidate queries
 * too — faiss_search returns a list value for every input row.
 */
case class FaissSearchRewrite(spark: SparkSession, postAnalysis: Boolean = true)
  extends Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private def hasCall(es: Seq[Expression]): Boolean =
    es.exists(_.exists(_.isInstanceOf[FaissSearchCall]))

  /** `size(faiss_search(...)) > 0` / `isnotnull(faiss_search(...))`
    * conjuncts over a call that is ALSO computed elsewhere in the plan
    * are vacuous — the surface pads every result list to exactly k like
    * the reference (README:243), so such guards can only come from
    * InferFiltersFromGenerate (the post-hoc path runs after the main
    * optimizer). Left in place they would each rewrite into a complete
    * SECOND search of the corpus. A guard over a call that appears
    * nowhere else, or whose padding the user disabled, is kept and
    * rewritten like any filter (it genuinely drops empty-list rows —
    * e.g. null query vectors). */
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
        else kept.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, f.child)).getOrElse(f.child)
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
      // optimizer rules can copy the call into a Filter (e.g.
      // InferFiltersFromGenerate + pushdown on the post-hoc path);
      // restore the original schema above the result join
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
      if (plan.exists(n => hasCall(n.expressions))) {
        val msg = "faiss_search is supported in SELECT lists, generators (explode), " +
          "and WHERE clauses over a resolved FROM — not in aggregate/join/window positions"
        if (postAnalysis) throw new UnsupportedOperationException(msg)
        else logError(s"$msg:\n${plan.treeString}")
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

  /** Join `child` with the results of every distinct call in `exprs`;
    * returns the joined plan and a substitution over expressions. */
  private def rewriteCalls(
      child0: LogicalPlan, exprs: Seq[Expression]): (LogicalPlan, Expression => Expression) = {
    val calls = exprs.flatMap(_.collect { case c: FaissSearchCall => c }).distinct
    var child = child0
    val replacements = calls.zipWithIndex.map { case (call, i) =>
      val (joined, rep) = joinResults(child, call, i)
      child = joined
      (call: Expression) -> rep
    }.toMap
    (child, e => e.transformUp { case c: FaissSearchCall => replacements(c) })
  }

  /** Left-join `child` with the search results for `call`, keyed by the
    * query vector; returns the joined plan and the replacement
    * expression (an attribute coalesced to an empty list). */
  private def joinResults(
      child: LogicalPlan, call: FaissSearchCall, i: Int): (LogicalPlan, Expression) = {
    val vcol = s"__graft_qvec_$i"
    val rcol = s"__graft_res_$i"
    val df = GraftBridge.ofRows(spark, child)
    val qvecCol = GraftBridge.column(call.qvec)
    // the distinct query vectors are this call's one query batch:
    // collected (capped by spark.graft.index.maxQueryBatch, dim-checked)
    // once, numbered on the driver, searched, and joined back through the
    // batch's local view. Vectors already in driver memory (a query
    // table that optimizes to a LocalRelation) are deduplicated there,
    // with no distinct job
    val qvecs = df.select(lit(0L).as("qid"), graft.functions.vec.vector(qvecCol).as("qvec"))
    val batch = IndexCatalog.queryBatch(
      qvecs.queryExecution.optimizedPlan match {
        case r: LocalRelation =>
          GraftBridge.ofRows(spark, r.copy(data = FaissSearchRewrite.distinctVectors(r.data)))
        case _ => qvecs.distinct()
      },
      "faiss_search query batch", Some(IndexCatalog.meta(call.indexName)))
      .zipWithIndex.map { case ((_, v), qi) => (qi.toLong, v) }
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
        val ids = spark.table(tableName).where(expr(filterSql))
          .select(expr(idSelector).cast("long").as("label"))
        IndexCatalog.searchFilterSetBatch(call.indexName, call.k, batch, ids, params)
    }
    val keyed = flat.queryExecution.logical match {
      // results already in driver memory (a k-NN search served on the
      // driver): each vector's list is built here, with no aggregate
      // and no join against the batch
      case r: LocalRelation if call.radius.isEmpty =>
        FaissSearchRewrite.localLists(spark, batch, r.data, vcol, rcol, call.dataType)
      case _ =>
        val empty = array().cast(call.dataType)
        val resultStruct =
          if (call.radius.isDefined)
            // sorted best-first by (distance, label) — distance leads the
            // struct so sort_array's lexicographic order is the metric order
            struct(col("distance").cast("double").as("distance"), col("label"))
          else struct(col("rank"), col("label"), col("distance").cast("double").as("distance"))
        val nested = flat.groupBy("qid")
          .agg(sort_array(collect_list(resultStruct)).as("r"))
        // both joins broadcast their bounded side — the query batch and its
        // k-row result lists; only the index scan inside `flat` touches data
        graft.search.Knn.queryFrame(spark, batch).join(broadcast(nested), Seq("qid"), "left")
          .select(col("qvec").as(vcol),
            coalesce(col("r").cast(call.dataType), empty).as(rcol))
    }
    val joined = df.join(keyed,
      graft.functions.vec.vector(qvecCol) <=> keyed(vcol), "left")
    // broadcast the result side via an explicit JoinHint on the node (a
    // ResolvedHint from broadcast() would reach the planner unresolved
    // when this runs as a late optimizer rule — only the subtree below
    // gets re-optimized, where the inner broadcast() hint is handled)
    import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint, BROADCAST}
    val jplan0 = joined.queryExecution.analyzed match {
      case j: Join => j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
      case other => other
    }
    // post-analysis registration: nothing optimizes this subtree after
    // us (Deduplicate->Aggregate, hint elimination, pushdown all live in
    // the main optimizer), so run it through the session optimizer now.
    // Scoped to the subtree — the surrounding plan is already optimized.
    // The optimizer preserves root output attributes, and re-entry into
    // this rule terminates (no placeholder survives the rewrite).
    val jplan =
      if (!postAnalysis) jplan0
      else spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.optimizer.execute(jplan0)
    val rattr: Attribute = jplan.output.filter(_.name == rcol).last
    // concrete Catalyst nodes (Column sugar like coalesce() defers to an
    // UnresolvedFunction in Spark 4, which would leave the plan unresolved
    // here — no analyzer runs after this rewrite on the post-hoc path)
    val rep = org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
      rattr,
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq.empty[Any], call.dataType)))
    (jplan, rep)
  }
}

object FaissSearchRewrite {

  /** the distinct rows of a (0, vector) LocalRelation, grouped the way
    * Spark's `distinct` groups them: -0.0 counts as 0.0 and every NaN
    * as one value (each kept vector normalized, as the distinct
    * aggregate emits it); null vectors, which the query batch drops
    * anyway, are dropped here */
  private[sql] def distinctVectors(rows: Seq[InternalRow]): Seq[InternalRow] = {
    val seen = scala.collection.mutable.HashSet.empty[Seq[Long]]
    rows.filterNot(_.isNullAt(1)).flatMap { r =>
      val a = r.getArray(1)
      val v = Array.tabulate[Any](a.numElements()) { i =>
        if (a.isNullAt(i)) null
        else { val x = a.getFloat(i); if (x.isNaN) Float.NaN else if (x == 0f) 0f else x }
      }
      // a null element is a value of its own, apart from every float's bits
      val key = v.toSeq.map {
        case x: Float => java.lang.Float.floatToIntBits(x).toLong
        case _ => Long.MinValue
      }
      if (seen.add(key)) Some(InternalRow(0L, new GenericArrayData(v))) else None
    }
  }

  /** the (vector, result list) rows of a batch whose k-NN results are
    * the local (qid, rank, label, distance) `rows`: each list in rank
    * order, empty for a query with no result row */
  private[sql] def localLists(
      spark: SparkSession, batch: Array[(Long, Array[Float])], rows: Seq[InternalRow],
      vcol: String, rcol: String, dataType: DataType): DataFrame = {
    val lists = rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getInt(1)).map(r => InternalRow(r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    val out = batch.toSeq.map { case (qid, v) =>
      InternalRow(new GenericArrayData(v.map(x => x: Any)),
        new GenericArrayData(lists.getOrElse(qid, Nil).toArray[Any]))
    }
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    GraftBridge.ofRows(spark, LocalRelation(Seq(
      AttributeReference(vcol, ArrayType(FloatType, containsNull = false))(),
      AttributeReference(rcol, dataType, nullable = false)()), out))
  }
}
