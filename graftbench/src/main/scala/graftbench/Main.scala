package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.GraftbenchBridge
import org.apache.spark.sql.SparkSession

import graft.functions.VectorMath
import graft.index.IndexCatalog

/**
 * Runs one workload and prints one JSON result line on stdout:
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                   --work <dir> --out <file>
 *
 * `--trace 0` measures the end-to-end metrics. `--trace 1` alternates
 * untraced and traced blocks of ops for twice the time, and reports the
 * per-layer metrics and the tracing overhead. Everything
 * else a result records (seed, sizes, session, SIMD, per-kind
 * latencies, failures, spans) goes to the `--out` file.
 */
object Main {
  /** set-ups per run; setup_s is their median */
  val SetupReps = 3

  /** bound on the warm-up's fixed work, in case the host is very slow */
  val WarmupLimitSeconds = 45


  /** the session settings graft's Bench uses, checked after start */
  def declared(nproc: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2097152",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  def startSession(nproc: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
    declared(nproc).foreach { case (k, v) => b.config(k, v) }
    val s = b
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val wrong = declared(nproc).filter { case (k, v) =>
      s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k)) != Some(v)
    }
    if (wrong.nonEmpty || s.sparkContext.defaultParallelism != nproc)
      throw new IllegalStateException(
        s"session settings differ from the declared ones: ${wrong.map(_._1).mkString(", ")} " +
          s"(defaultParallelism ${s.sparkContext.defaultParallelism}, nproc $nproc)")
    s
  }

  /** every per-layer metric, with its unit; a layer the workload does
    * not exercise reads 0 */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sql.plan_ms" -> "ms",
    "search.plan_ms" -> "ms", "search.exec_ms" -> "ms", "search.filter_plan_ms" -> "ms",
    "search.jobs_per_call" -> "count", "search.stages_per_call" -> "count",
    "search.tasks_per_call" -> "count", "search.plan_nodes" -> "count",
    "index.build_s" -> "s", "index.train_s" -> "s", "index.first_search_s" -> "s",
    "index.save_s" -> "s", "index.saved_bytes_per_vector" -> "bytes",
    "index.load_s" -> "s", "index.first_search_after_load_s" -> "s",
    "index.add_ms" -> "ms", "index.remove_ms" -> "ms", "index.incremental_ratio" -> "ratio",
    "index.imbalance_factor" -> "ratio", "index.cached_bytes_per_vector" -> "bytes",
    "functions.l2sq_ns_per_pair" -> "ns", "functions.topk_ns_per_insert" -> "ns",
    "dedup.exact_s" -> "s", "dedup.signatures_s" -> "s", "dedup.candidates_s" -> "s",
    "dedup.components_s" -> "s", "text.quality_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.candidates_per_true_pair" -> "ratio",
    "driver.residual_ms" -> "ms", "driver.gc_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.gc_ms" -> "ms",
    "executor.scheduler_delay_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "trace.overhead_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File, out: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, new File(need("work")), new File(need("out")))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    // SIMD and the session are checked before anything is timed
    if (!VectorMath.Simd.active)
      throw new IllegalStateException(
        s"SIMD kernels are inactive (enabled=${VectorMath.Simd.enabled}, " +
          s"available=${VectorMath.Simd.available}); run with --add-modules=jdk.incubator.vector")
    val w = Workloads(a.workload, a.seed, a.work)
    val h = new Harness()
    try {
      h.trace.enabled = a.trace
      val setupS = (0 until SetupReps).map { _ =>
        if (h.spark != null) {
          IndexCatalog.destroyAll()
          h.spark.stop()
        }
        val t0 = System.nanoTime()
        h.spark = h.must("session.start")(startSession(nproc, a.work))
        h.must("functions.register")(graft.sql.GraftFunctions.registerAll(h.spark))
        w.setup(h)
        (System.nanoTime() - t0) / 1e9
      }
      h.window = "warmup"
      w.prepare(h)
      val warmSteps = h.loop(WarmupLimitSeconds, w.warmupSteps)(_ => w.step(h))
      val ticks0 = h.cpuTicks()
      val line =
        if (!a.trace) {
          h.window = "timed"
          h.loop(a.seconds)(_ => w.step(h))
          endToEnd(w, h, setupS)
        } else {
          // blocks of untraced and traced steps alternate for twice the
          // time, so both see the same JVM and cache state and their
          // difference is the tracing overhead
          h.trace.enabled = false
          // the alternating blocks must coincide with the workload's own
          h.window = "warmup"
          for (_ <- 0 until (w.traceBlock - warmSteps % w.traceBlock) % w.traceBlock) w.step(h)
          h.loop(2 * a.seconds) { i =>
            val traced = (i / w.traceBlock) % 2 == 1
            if (traced != h.trace.enabled) {
              if (traced) h.spark.sparkContext.addSparkListener(h.listener)
              else {
                GraftbenchBridge.drainListeners(h.spark.sparkContext, 30000)
                h.spark.sparkContext.removeSparkListener(h.listener)
              }
              h.trace.enabled = traced
            }
            h.window = if (traced) "traced" else "plain"
            w.step(h)
          }
          h.trace.enabled = true
          GraftbenchBridge.drainListeners(h.spark.sparkContext, 30000)
          val probes = w.layerProbes(h)
          h.trace.enabled = false
          perLayer(w, h, probes)
        }
      val stealPct = for ((s0, t0) <- ticks0; (s1, t1) <- h.cpuTicks() if t1 > t0)
        yield 100.0 * (s1 - s0) / (t1 - t0)
      val correct = h.failures.isEmpty && w.quality(if (a.trace) "traced" else "timed") >= w.qualityFloor
      writeDetails(a, w, h, nproc, setupS, stealPct, correct, line._2)
      System.err.println(s"[graftbench] ${a.workload} seed=${a.seed} attempted=${h.attempted} " +
        s"failed=${h.failures.size} host_steal_pct=${stealPct.map(p => f"$p%.1f").getOrElse("n/a")} " +
        h.failures.take(3).map { case (k, r) => s"$k: $r" }.mkString("; "))
      println(Json.obj("correct" -> correct, "attempted" -> h.attempted,
        "failed" -> h.failures.size, "metrics" -> Json.Raw(line._1)))
    } finally {
      h.shutdown()
      if (h.spark != null) {
        IndexCatalog.destroyAll()
        h.spark.stop()
      }
    }
  }

  private def metricJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u) }
      .mkString("{", ",", "}")

  /** (metrics json, values for the details file) */
  def endToEnd(w: Workload, h: Harness, setupS: Seq[Double]): (String, Map[String, Double]) = {
    val lat = w.latencies(h, "timed")
    val m = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
      ("throughput", w.throughput(h, "timed"), "1/s"),
      ("quality", w.quality("timed"), "ratio"),
      ("success_rate", (h.attempted - h.failures.size).toDouble / math.max(1, h.attempted), "ratio"))
    (metricJson(m), m.map(x => x._1 -> x._2).toMap)
  }

  def perLayer(w: Workload, h: Harness, probes: Map[String, Double]): (String, Map[String, Double]) = {
    val spans = h.trace.all
    val self = h.trace.selfNs
    val windowOf = h.records.map(r => r.group -> r.window).toMap
    /** median self time of spans named `name` in the traced window
      * (set-up spans for the set-up steps, probe spans after the loop) */
    def spanMs(name: String, win: String = "traced"): Option[Double] = {
      val xs = spans.filter(s => s.name == name && windowOf.get(s.request).contains(win))
        .map(s => self(s.id) / 1e6)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val unitOps = h.records.filter(r => r.kind == w.unitKind && r.window == "traced").toSeq
    val searchKinds = w match {
      case s: AnnServe => (g: String) => s.kinds.get(g).exists(k => k == "search" || k == "filter")
      case _ => (_: String) => false
    }
    def perOp(ops: Seq[OpRecord])(f: (OpRecord, OpListener#Agg) => Double): Option[Double] = {
      val xs = ops.flatMap(r => h.listener.get(r.group).map(g => f(r, g)))
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val searchOps = unitOps.filter(r => searchKinds(r.group))
    val residual = perOp(unitOps) { (r, g) =>
      (r.ns / 1e6) - Trace.unionLength(g.jobs.values.toSeq, r.startMs, r.endMs)
    }
    val plain = w.latencies(h, "plain")
    val traced = w.latencies(h, "traced")
    val measured: Map[String, Option[Double]] = Map(
      "sql.plan_ms" -> spanMs("sql.plan"),
      "search.plan_ms" -> spanMs("search.plan"),
      "search.exec_ms" -> spanMs("search.exec"),
      "search.filter_plan_ms" -> spanMs("search.filter_plan"),
      "search.jobs_per_call" -> perOp(searchOps)((_, g) => g.jobs.size.toDouble),
      "search.stages_per_call" -> perOp(searchOps)((_, g) => g.stages.toDouble),
      "search.tasks_per_call" -> perOp(searchOps)((_, g) => g.tasks.toDouble),
      "index.build_s" -> spanMs("index.build", "setup").map(_ / 1000),
      "index.train_s" -> spanMs("index.train", "after").map(_ / 1000),
      "index.first_search_s" -> spanMs("index.first_search", "after").map(_ / 1000),
      "index.save_s" -> spanMs("index.save", "after").map(_ / 1000),
      "index.load_s" -> spanMs("index.load", "after").map(_ / 1000),
      "index.first_search_after_load_s" -> spanMs("index.first_search_after_load", "after").map(_ / 1000),
      "index.add_ms" -> spanMs("index.add", "after"),
      "index.remove_ms" -> spanMs("index.remove", "after"),
      "dedup.exact_s" -> spanMs("dedup.exact").map(_ / 1000),
      "dedup.signatures_s" -> spanMs("dedup.signatures").map(_ / 1000),
      "dedup.candidates_s" -> spanMs("dedup.candidates").map(_ / 1000),
      "dedup.components_s" -> spanMs("dedup.components").map(_ / 1000),
      "text.quality_s" -> spanMs("text.quality").map(_ / 1000),
      "driver.residual_ms" -> residual,
      "driver.gc_ms" -> perOp(unitOps)((r, _) => r.gcMs.toDouble),
      "executor.run_ms" -> perOp(unitOps)((_, g) => g.runMs.toDouble),
      "executor.cpu_ms" -> perOp(unitOps)((_, g) => g.cpuNs / 1e6),
      "executor.gc_ms" -> perOp(unitOps)((_, g) => g.gcMs.toDouble),
      "executor.scheduler_delay_ms" -> perOp(unitOps)((_, g) => g.schedDelayMs.toDouble),
      "shuffle.write_bytes" -> perOp(unitOps)((_, g) => g.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> perOp(unitOps)((_, g) => g.shuffleRead.toDouble),
      "shuffle.spill_bytes" -> perOp(unitOps)((_, g) => g.spill.toDouble),
      "trace.overhead_pct" ->
        (if (plain.isEmpty || traced.isEmpty) None
        else Some((Stats.median(traced) / Stats.median(plain) - 1) * 100)))
    val values = LayerMetrics.map { case (k, _) =>
      k -> probes.get(k).orElse(measured.get(k).flatten).getOrElse(0.0)
    }
    (metricJson(LayerMetrics.map { case (k, u) => (k, values.toMap.apply(k), u) }), values.toMap)
  }

  def writeDetails(
      a: Args, w: Workload, h: Harness, nproc: Int, setupS: Seq[Double],
      stealPct: Option[Double], correct: Boolean, metrics: Map[String, Double]): Unit = {
    val windows = h.records.map(_.window).distinct
    val latency = for (win <- windows; kind <- h.records.filter(_.window == win).map(_.kind).distinct) yield {
      val s = Stats.summarize(h.samplesMs(kind, win))
      s"$win/$kind" -> Map("n" -> s.n, "p50_ms" -> s.p50,
        "hi_percentile" -> s.hiPct, "hi_ms" -> s.hi, "samples_ms" -> h.samplesMs(kind, win))
    }
    val extra: Seq[(String, Any)] = w match {
      case s: AnnServe =>
        val byKind = h.records.filter(r => r.window != "warmup" && s.kinds.contains(r.group))
          .groupBy(r => s"${r.window}/${s.kinds(r.group)}")
        Seq("request_kinds" -> byKind.map { case (k, rs) =>
          val st = Stats.summarize(rs.map(_.ns / 1e6))
          k -> Map("n" -> st.n, "p50_ms" -> st.p50, "hi_percentile" -> st.hiPct, "hi_ms" -> st.hi)
        })
      case _ => Nil
    }
    a.out.getParentFile.mkdirs()
    val spansFile = new File(a.out.getPath.stripSuffix(".json") + "_spans.json")
    if (a.trace) Files.write(spansFile.toPath, h.trace.toJson.getBytes(UTF_8))
    val json = Json.obj(Seq[(String, Any)](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "correct" -> correct, "attempted" -> h.attempted,
      "failures" -> h.failures.map { case (k, r) => Map("op" -> k, "reason" -> r) },
      "nproc" -> nproc, "master" -> h.spark.sparkContext.master,
      "session" -> declared(nproc).map { case (k, _) => k -> h.spark.conf.getOption(k)
        .orElse(h.spark.sparkContext.getConf.getOption(k)).getOrElse("") }.toMap,
      "simd_active" -> VectorMath.Simd.active, "host_steal_pct" -> stealPct,
      "sizes" -> w.sizes.toMap, "setup_s" -> setupS,
      "metrics" -> metrics, "latency" -> latency.toMap,
      "spans_file" -> (if (a.trace) spansFile.getName else null)) ++ extra: _*)
    Files.write(a.out.toPath, json.getBytes(UTF_8))
  }
}
