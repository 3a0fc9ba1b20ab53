package graft.sql

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedArgumentExpression}
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType}

import graft.functions._
import graft.index.IndexCatalog

/**
 * SQL surface: every graft expression as a `vec_*` / hash function, so
 * `spark.sql("SELECT vec_l2sq(a, b) ...")` works — the analog of the
 * reference's SQL-level functions (faiss_search et al. are table
 * functions there; here scalar/agg expressions compose with all of
 * Spark SQL).
 *
 * Two registration paths:
 *  - config: `spark.sql.extensions=graft.sql.GraftExtensions`
 *  - runtime: `GraftFunctions.registerAll(spark)`
 */
object GraftFunctions {

  // note: SQL parses `3.0` as a Decimal literal — accept all numeric shapes
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case Literal(v: org.apache.spark.sql.types.Decimal, _) if v.toDouble == v.toLong.toDouble => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }
  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _) if v.toDouble == v.toLong.toDouble => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }
  private def litDouble(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a double literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val metricFns = Seq(
      "vec_l2sq" -> "l2sq", "vec_l2" -> "euclidean", "vec_ip" -> "ip",
      "vec_cosine_dist" -> "cosine", "vec_l1" -> "l1", "vec_linf" -> "linf",
      "vec_canberra" -> "canberra", "vec_braycurtis" -> "braycurtis",
      "vec_jensenshannon" -> "jensenshannon", "vec_jaccard" -> "jaccard"
    ).map { case (fn, metric) =>
      fn -> { (args: Seq[Expression]) =>
        VectorDistance(args(0), args(1), VectorMath.metricId(metric), 2.0): Expression
      }
    }
    metricFns ++ Seq[(String, Seq[Expression] => Expression)](
      "vec_lp" -> (args => VectorDistance(args(0), args(1), VectorMath.LP, litDouble(args(2), "p"))),
      "vec_topk" -> (args =>
        TopKByDistance(args(1), args(2), litInt(args(0), "k"),
          ascending = args.lift(3).forall { case Literal(b: Boolean, _) => b; case _ => true })),
      "minhash_signature" -> (args =>
        MinHashSignature(args(0), litInt(args(1), "numHashes"), litLong(args(2), "seed"))),
      "simhash64" -> (args => SimHash64(args(0), litLong(args.lift(1).getOrElse(Literal(42L)), "seed"))),
      "fingerprint64" -> (args => Fingerprint64(args(0))),
      "deflate_size" -> (args => DeflateSize(args(0))),
      // curation kernels under SQL spellings — the EXACT Column chains
      // the gate queries use, resolved once through a dummy projection
      // (a raw composed Column doesn't survive the SQL function
      // registry: its v2 ColumnNodes never reach the analyzer) and
      // re-rooted at the caller's argument
      "graft_quality" -> (args => kernel(qualityTemplate, args(0))),
      "graft_langid" -> (args => kernel(langidTemplate, args(0))),
      "graft_scrub" -> (args => kernel(scrubTemplate, args(0))),
      "vec_normalize" -> (args => VectorNormalize(args(0))),
      "vec_sign_bits" -> (args => SignBits(args(0))),
      "sorted_intersect_count" -> (args => SortedIntersectCount(args(0), args(1))),
      "top_shingle_ratio" -> (args =>
        graft.text.TopShingleRatio(args(0), litInt(args(1), "n"))),
      "dup_shingle_fraction" -> (args =>
        graft.text.DupShingleFraction(args(0), litInt(args(1), "n"))),
      "hyperplane_buckets" -> (args =>
        HyperplaneBuckets(args(0), litInt(args(1), "bands"), litInt(args(2), "bitsPerBand"),
          litLong(args.lift(3).getOrElse(Literal(42L)), "seed"))),
      // sketch tier: aggregates return the AggregateFunction, the
      // analyzer wraps it when the call sits in aggregate position
      "theta_sketch_agg" -> (args =>
        ThetaSketchAgg(args(0), args.lift(1).map(litInt(_, "lgNomEntries")).getOrElse(12))),
      "theta_union_agg" -> (args =>
        ThetaUnionAgg(args(0), args.lift(1).map(litInt(_, "lgNomEntries")).getOrElse(12))),
      "theta_estimate" -> (args => ThetaEstimate(args(0))),
      "theta_a_not_b" -> (args => ThetaANotB(args(0), args(1))),
      "theta_intersect" -> (args => ThetaIntersect(args(0), args(1))),
      "freq_items_agg" -> (args =>
        FreqItemsAgg(args(0), args.lift(1).map(litInt(_, "maxMapSize")).getOrElse(65536))),
      "freq_items_topk" -> (args => FreqItemsTopK(args(0), litInt(args(1), "k"))),
      "kll_sketch_agg" -> (args =>
        KllSketchAgg(args(0), args.lift(1).map(litInt(_, "k")).getOrElse(200))),
      "kll_merge_agg" -> (args =>
        KllMergeAgg(args(0), args.lift(1).map(litInt(_, "k")).getOrElse(200))),
      "kll_quantiles" -> (args => KllQuantiles(args(0), litDoubleSeq(args(1), "ranks"))),
      // winnowing fingerprint family — same kernels the Column API wraps
      "shingle_hashes15" -> (args => ShingleHashes15(args(0), litInt(args(1), "k"))),
      "winnow_select" -> (args => WinnowSelect(args(0), litInt(args(1), "w"))))
  }

  private def litDoubleSeq(e: Expression, what: String): Seq[Double] = e match {
    case a if a.foldable && a.dataType.isInstanceOf[ArrayType] =>
      val at = a.dataType.asInstanceOf[ArrayType]
      val ad = a.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until ad.numElements()).map { i =>
        at.elementType match {
          case DoubleType => ad.getDouble(i)
          case FloatType => ad.getFloat(i).toDouble
          case dt: DecimalType => ad.getDecimal(i, dt.precision, dt.scale).toDouble
          case IntegerType => ad.getInt(i).toDouble
          case LongType => ad.getLong(i).toDouble
          case other => throw new IllegalArgumentException(
            s"$what must be a numeric array literal, got element type $other")
        }
      }
    case other => throw new IllegalArgumentException(s"$what must be an array literal, got $other")
  }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def litMap(e: Expression, what: String): Map[String, String] = e match {
    case m if m.foldable && m.dataType.isInstanceOf[MapType] =>
      val md = m.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val mt = m.dataType.asInstanceOf[MapType]
      (0 until md.numElements()).map { i =>
        val k = md.keyArray().get(i, mt.keyType)
        val v = md.valueArray().get(i, mt.valueType)
        if (k == null || v == null)
          throw new IllegalArgumentException(s"$what must not contain null keys or values")
        k.toString -> v.toString
      }.toMap
    case other => throw new IllegalArgumentException(s"$what must be a map literal, got $other")
  }

  /** split `metric_type => '...'` named args (reference README:120) from positionals */
  private def splitMetricArg(args: Seq[Expression]): (Seq[Expression], Option[String]) = {
    val (named, pos) = args.partition(_.isInstanceOf[NamedArgumentExpression])
    val metric = named.collectFirst {
      case NamedArgumentExpression("metric_type", v) => metricName(litString(v, "metric_type"))
    }
    named.collect { case NamedArgumentExpression(k, _) if k != "metric_type" =>
      throw new IllegalArgumentException(s"unknown named argument '$k'")
    }
    (pos, metric)
  }

  /** TABLE arguments accept a view/table name OR an inline query — the
    * reference's scripts pass subqueries to FAISS_ADD
    * (test/sql/faiss_add_ids_with_train: `FAISS_ADD((SELECT ...), name)`) */
  private def tableArg(ref: String): org.apache.spark.sql.DataFrame = {
    val spark = SparkSession.active
    val t0 = ref.trim
    // the reference style wraps the subquery in parens: FAISS_ADD((SELECT ...), n)
    // — strip ONLY a fully-enclosing balanced pair, so a compound like
    // "(SELECT ...) UNION ALL (SELECT ...)" is left intact
    def enclosing(s: String): Boolean = {
      if (!(s.startsWith("(") && s.endsWith(")"))) return false
      var depth = 0
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '(') depth += 1
        else if (s.charAt(i) == ')') { depth -= 1; if (depth == 0 && i < s.length - 1) return false }
        i += 1
      }
      depth == 0
    }
    val t = (if (enclosing(t0)) t0.substring(1, t0.length - 1) else t0).trim
    // word boundary required: a TABLE legitimately named "select_log"
    // must not be parsed as a query
    if (t.matches("(?is)^(\\(*\\s*)*(SELECT|WITH|VALUES)\\b.*")) spark.sql(t)
    else spark.table(ref)
  }

  /** FAISS metric spellings (METRIC_L2, INNER_PRODUCT, ...) -> graft names */
  private def metricName(m: String): String = m.trim.toUpperCase match {
    case "L2" | "METRIC_L2" => "l2sq"
    case "INNER_PRODUCT" | "IP" | "METRIC_INNER_PRODUCT" => "ip"
    case "L1" | "METRIC_L1" => "l1"
    case "LINF" | "METRIC_LINF" => "linf"
    case "LP" | "METRIC_LP" => "lp"
    case "CANBERRA" | "METRIC_CANBERRA" => "canberra"
    case "BRAYCURTIS" | "METRIC_BRAYCURTIS" => "braycurtis"
    case "JENSENSHANNON" | "METRIC_JENSENSHANNON" => "jensenshannon"
    case "JACCARD" | "METRIC_JACCARD" => "jaccard"
    case other => other.toLowerCase // graft's own spellings pass through; create() validates
  }

  /**
   * SQL lifecycle surface — the reference's `CALL faiss_create(...)` /
   * `faiss_add(TABLE, name)` scripts port as `SELECT faiss_create(...)`
   * / `SELECT faiss_add('view_or_table', 'name')` (Spark has no CALL
   * for session-extension procedures; TABLE arguments become
   * table/view-name strings, the convention the reference itself uses
   * for faiss_search_filter's `tablename` argument, README:225).
   *
   * The catalog mutation happens while the function is RESOLVED on the
   * driver — analysis of a `spark.sql(...)` call is eager, so each
   * statement applies exactly once, in statement order, like a DuckDB
   * CALL. The expression then folds to a boolean TRUE row.
   */
  def lifecycleBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "faiss_create" -> { raw =>
      val (args, metric) = splitMetricArg(raw)
      IndexCatalog.create(litString(args(0), "name"), litInt(args(1), "dimension"),
        litString(args(2), "index_type"),
        metric.orElse(args.lift(3).map(litString(_, "metric"))).getOrElse("l2sq"))
      Literal(true)
    },
    "faiss_create_params" -> { raw =>
      val (args, metric) = splitMetricArg(raw)
      IndexCatalog.create(litString(args(0), "name"), litInt(args(1), "dimension"),
        litString(args(2), "index_type"),
        metric.orElse(args.lift(4).map(litString(_, "metric"))).getOrElse("l2sq"),
        litMap(args(3), "parameters"))
      Literal(true)
    },
    "faiss_add" -> { args =>
      IndexCatalog.add(tableArg(litString(args(0), "data table")), litString(args(1), "name"))
      Literal(true)
    },
    "faiss_manual_train" -> { args =>
      IndexCatalog.manualTrain(
        tableArg(litString(args(0), "data table")), litString(args(1), "name"))
      Literal(true)
    },
    // beyond the reference's registrations: the delete path (see
    // IndexCatalog.remove). Returns the number of vectors removed.
    "faiss_remove" -> { args =>
      Literal(IndexCatalog.remove(
        litString(args(1), "name"), tableArg(litString(args(0), "ids table"))))
    },
    // beyond the reference's registrations: drift maintenance (see
    // IndexCatalog.retrain) — retrain coarse/codec state from the
    // index's current contents and rebuild lazily
    "faiss_retrain" -> { args =>
      IndexCatalog.retrain(litString(args(0), "name"))
      Literal(true)
    },
    // FAISS merge_from analog (IndexCatalog.merge): fold src into dst,
    // optional add_id offset for label disambiguation
    "faiss_merge" -> { args =>
      IndexCatalog.merge(litString(args(1), "dst name"), litString(args(0), "src name"),
        args.lift(2).map(litInt(_, "add_id").toLong).getOrElse(0L))
      Literal(true)
    },
    // ingest maintenance (IndexCatalog.compact): collapse an
    // incrementally-extended IVF back to one co-partitioned cache
    "faiss_compact" -> { args =>
      IndexCatalog.compact(litString(args(0), "name"))
      Literal(true)
    },
    "faiss_save" -> { args =>
      IndexCatalog.save(litString(args(0), "name"), litString(args(1), "path"))
      Literal(true)
    },
    "faiss_load" -> { args =>
      IndexCatalog.load(litString(args(0), "name"), litString(args(1), "path"),
        SparkSession.active)
      Literal(true)
    },
    "faiss_destroy" -> { args =>
      IndexCatalog.destroy(litString(args(0), "name"))
      Literal(true)
    },
    // the reference registers this as faiss_to_gpu (faiss_extension.cpp:1044);
    // faiss_move_gpu stays as a compatible alias from earlier rounds
    "faiss_to_gpu" -> { args =>
      IndexCatalog.moveGpu(litString(args(0), "name"),
        args.lift(1).map(litInt(_, "gpu")).getOrElse(0))
      Literal(true)
    },
    "faiss_move_gpu" -> { args =>
      IndexCatalog.moveGpu(litString(args(0), "name"),
        args.lift(1).map(litInt(_, "gpu")).getOrElse(0))
      Literal(true)
    })

  /** per-row search calls -> [[FaissSearchCall]] placeholders for [[FaissSearchRewrite]] */
  def searchBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // faiss_search(name, k, q [, params map]) — README:71
    "faiss_search" -> { args =>
      FaissSearchCall(litString(args(0), "name"), litInt(args(1), "k"), args(2),
        args.lift(3).map(litMap(_, "parameters")).getOrElse(Map.empty), None)
    },
    // faiss_search_filter[_set](name, k, q, filter, idselector, tablename [, params])
    // — README:225/251; both restrict to rows of `tablename` passing
    // `filter`, labels from `idselector` (the _set variant differs only
    // in the reference's internal selector representation)
    "faiss_search_filter" -> { args =>
      FaissSearchCall(litString(args(0), "name"), litInt(args(1), "k"), args(2),
        args.lift(6).map(litMap(_, "parameters")).getOrElse(Map.empty),
        Some((litString(args(3), "filter"), litString(args(4), "idselector"),
          litString(args(5), "tablename"))))
    },
    "faiss_search_filter_set" -> { args =>
      FaissSearchCall(litString(args(0), "name"), litInt(args(1), "k"), args(2),
        args.lift(6).map(litMap(_, "parameters")).getOrElse(Map.empty),
        Some((litString(args(3), "filter"), litString(args(4), "idselector"),
          litString(args(5), "tablename"))))
    },
    // faiss_range_search(name, radius, q [, params]) — FAISS
    // range_search per row (a graft extension of the reference's SQL
    // surface): LIST<STRUCT(distance, label)>, variable length, sorted
    // best-first, never padded
    "faiss_range_search" -> { args =>
      FaissSearchCall(litString(args(0), "name"), 0, args(2),
        args.lift(3).map(litMap(_, "parameters")).getOrElse(Map.empty), None,
        Some(litDouble(args(1), "radius")))
    })

  /** FROM-clause introspection: `SELECT * FROM faiss_list()` — catalog
    * metadata snapshot at analysis time (name, dim, index_type,
    * metric_type), the porting target for scripts that inspect the
    * reference's registry. */
  def tableBuilders: Seq[(String, Seq[Expression] =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    "faiss_list" -> { _ =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val s = SparkSession.active
      val rows = IndexCatalog.list().map(m => Row(m.name, m.dim, m.factory, m.metric))
      val schema = StructType(Seq(
        StructField("name", StringType), StructField("dim", IntegerType),
        StructField("index_type", StringType), StructField("metric_type", StringType)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .queryExecution.analyzed
    },
    // `SELECT * FROM faiss_stats('name')` — ntotal / nlist / imbalance
    // factor of the built index (FAISS InvertedLists::imbalance_factor)
    "faiss_stats" -> { args =>
      IndexCatalog.stats(litString(args(0), "name")).queryExecution.analyzed
    })

  /** resolve a Column composition into a concrete Expression template
    * by analyzing a one-column dummy projection; the template's single
    * AttributeReference is the substitution point. Lazily built against
    * whatever session is active at first SQL use — the resulting tree
    * holds only catalyst nodes, no session state. */
  private def template(make: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Expression = {
    val spark = SparkSession.active
    import spark.implicits._
    val plan = Seq("x").toDF("__in")
      .select(make(org.apache.spark.sql.functions.col("__in")).as("__out"))
      .queryExecution.analyzed
    plan.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
  }

  private lazy val qualityTemplate =
    template(graft.text.TextFunctions.qualityScore)
  private lazy val langidTemplate =
    template(c => graft.text.TextFunctions.langId(graft.text.TextFunctions.tokens(c)))
  private lazy val scrubTemplate =
    template(graft.text.TextFunctions.scrub)

  private def kernel(tmpl: Expression, arg: Expression): Expression =
    tmpl.transformUp {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.name == "__in" => arg
    }

  def registerAll(spark: SparkSession): Unit = {
    (builders ++ lifecycleBuilders ++ searchBuilders).foreach {
      case (name, b) => GraftBridge.registerFunction(spark, name, b)
    }
    tableBuilders.foreach {
      case (name, b) => GraftBridge.registerTableFunction(spark, name, b)
    }
    // a live session's analyzer can't be extended post-hoc; the rewrite
    // runs as an experimental optimizer rule instead, and the planner
    // takes the strategy that plans its nodes (both added idempotently)
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[FaissSearchRewrite]))
      spark.experimental.extraOptimizations = existing :+ FaissSearchRewrite()
    if (!spark.experimental.extraStrategies.contains(FaissSearchStrategy))
      spark.experimental.extraStrategies = FaissSearchStrategy +: spark.experimental.extraStrategies
  }
}

/** `spark.sql.extensions` entry point */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GraftFunctions.builders ++ GraftFunctions.lifecycleBuilders ++
      GraftFunctions.searchBuilders).foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        b))
    }
    GraftFunctions.tableBuilders.foreach { case (name, b) =>
      ext.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        b))
    }
    // on the extensions path the rewrite can run at resolution, so the
    // search nodes it produces flow through the full optimizer
    ext.injectResolutionRule(_ => FaissSearchRewrite(postAnalysis = false))
    ext.injectPlannerStrategy(_ => FaissSearchStrategy)
    // any placeholder that survives analysis sits in an unsupported
    // position (aggregate list, join condition, window spec) — fail at
    // CheckAnalysis with a clear message, not deep in codegen
    ext.injectCheckRule(_ => plan => {
      if (FaissSearchRewrite.hasUnplannedCall(plan))
        throw new UnsupportedOperationException(FaissSearchRewrite.UnsupportedPosition)
    })
  }
}
