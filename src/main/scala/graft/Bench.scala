package graft

import scala.util.control.NonFatal

/**
 * Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
 * emitting one JSON line. A warmup pass (tiny query + tiny KMeans)
 * loads codegen/MLlib classes so per-query numbers reflect steady
 * state, not JVM first-touch.
 */
/** calibration constants shared by Bench and the floor tooling */
object BenchEnv {
  /** quiet-box reference for the pure-JVM pair loop (ns/pair): the
    * box state under which BENCH_FLOOR.json floors were recorded
    * (SURVEY §21.10 measured 64 ns/pair on the quiet box; §21.11's
    * degraded sessions ran the identical loop at 99+). */
  final val RefPairNs = 64.0
}

object Bench {
  /** timed passes per query; each query reports its fastest */
  private val Passes = 3

  /** What the timed passes measured: each query's fastest time, the
    * `PhaseTimer` phases recorded by that fastest pass, the queries that
    * threw (name -> "Class: message", no time), and each pass's total. */
  final case class Timings(
      times: Map[String, Double],
      phases: Map[String, Double],
      failed: Map[String, String],
      passTotals: Seq[Double])

  /** Run the queries in order, `passes` times over. A query that throws
    * in any pass is failed: it leaves `times` and `phases` and is not run
    * again, so its time-to-failure never reads as a fast query. */
  def timePasses(queries: Seq[(String, () => Unit)], passes: Int): Timings = {
    val best = scala.collection.mutable.Map.empty[String, (Double, Map[String, Double])]
    val failed = scala.collection.mutable.Map.empty[String, String]
    val passTotals = (1 to passes).map { _ =>
      queries.filterNot { case (name, _) => failed.contains(name) }.map { case (name, run) =>
        graft.queries.PhaseTimer.clear()
        val t0 = System.nanoTime()
        try {
          run()
          val t = (System.nanoTime() - t0) / 1e9
          if (best.get(name).forall(t < _._1)) best(name) = (t, graft.queries.PhaseTimer.snapshot)
          t
        } catch { case e: Throwable =>
          failed(name) = Verify.failure(e)
          best -= name
          0.0
        }
      }.sum
    }
    Timings(best.map { case (name, (t, _)) => name -> t }.toMap,
      best.values.flatMap(_._2).toMap, failed.toMap, passTotals)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated query filter for local iteration
    // (SPARK_GRAFT_BENCH_ONLY=text_repetition,q1_agg); driver sets none
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // r15 (guide §1.4): the timed action is the NOOP SINK — it computes
    // every column of every row and discards it, where `.count()` let
    // the optimizer prune columns (and sometimes whole subtrees),
    // undercounting the real query. Both output lines keep the
    // "timed_action" field, so they still compare with r15 artifacts.
    def timedAction(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: run every query once at the smallest scale factor so the
    // timed pass measures steady-state execution, not first-touch
    // codegen/classloading (what a long-lived cluster session sees) —
    // through the SAME action the timed passes use, so the noop-write
    // machinery is warm too
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    selected.foreach { case (name, fn) =>
      try timedAction(fn(spark, warmDir))
      catch {
        // a warm-up failure is reported, not fatal: the timed pass runs
        // the query again and records it under "failed"
        case NonFatal(e) =>
          System.err.println(s"[bench] warmup $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

    // environment calibration (VERDICT r10 "what's wrong" #1): floors
    // were recorded on a quiet box whose pure-JVM pair loop ran ~64
    // ns/pair; this shared VM drifts 1.6-3x between rounds, which
    // blinded the r10 floor gate. Measure the SAME loop now and
    // normalize the floor comparison by the ratio — the loop is pure
    // JVM (TopKHeap + distArr, zero Spark), so it moves with CPU
    // steal/frequency exactly like the per-query compute does.
    val envFactor = {
      // calibration is a BOX-STATE instrument: RefPairNs was recorded
      // scalar, so the loop runs scalar regardless of the engine's
      // SIMD default (flipped on in r14) — otherwise a SIMD run would
      // read env_factor ~0.46 and mis-normalize the floor cohort
      // try/finally (ADVICE r14): an exception in the loop must not
      // leave the engine scalar while the artifact says SIMD
      val simdWas = graft.functions.VectorMath.Simd.enabled
      graft.functions.VectorMath.Simd.enabled = false
      try {
      def pairLoopNs(outer: Int): Double = {
        val rnd = new java.util.Random(42)
        val corpus = Array.fill(10000)(Array.fill(64)(rnd.nextFloat()))
        val queries = Array.fill(100)(Array.fill(64)(rnd.nextFloat()))
        val heaps = Array.fill(100)(new graft.functions.TopKHeap(5, true))
        val t0 = System.nanoTime()
        var i = 0
        while (i < outer) { // outer x 10000 x 100 pairs
          var c = 0
          while (c < 10000) {
            var q = 0
            while (q < 100) {
              heaps(q).insert(graft.functions.VectorMath.distArr(
                graft.functions.VectorMath.L2SQ, corpus(c), queries(q), 3.0), c.toLong)
              q += 1
            }
            c += 1
          }
          i += 1
        }
        (System.nanoTime() - t0).toDouble / (outer.toDouble * 1e6)
      }
      pairLoopNs(5) // JIT warmup
      val best = math.min(pairLoopNs(30), pairLoopNs(30)) // ~2x ~2s; min defeats steal spikes
      val f = best / BenchEnv.RefPairNs
      System.err.println(f"[bench] env_factor=$f%.3f (scalar pair loop $best%.1f ns/pair vs " +
        f"${BenchEnv.RefPairNs}%.1f quiet-box reference)")
      f
      } finally graft.functions.VectorMath.Simd.enabled = simdWas
    }

    // timed passes, keep the per-query min: run-to-run noise on a
    // shared box is +-30%, and the faster pass is the truer cost of the
    // plan (the first pass also still pays JIT warmup at full sf)
    val timings = timePasses(
      selected.map { case (name, fn) => name -> (() => timedAction(fn(spark, sfDir))) }, Passes)
    val results = timings.times.toSeq.sorted
    timings.failed.toSeq.sorted.foreach { case (name, err) =>
      System.err.println(s"[bench] FAILED $name: $err")
    }

    // perf-regression guard: flag any query >2x its committed floor
    // (BENCH_FLOOR.json, the best per-query time of prior rounds) so a
    // regression like round 2's text_repetition 8.3x can't land silently.
    // Times are normalized by env_factor first (but never DOWN past the
    // raw measurement when the box is slower than reference — a genuine
    // regression shouldn't hide behind a degraded box... it can't: a
    // slow box inflates both numerator and calibration equally).
    // stderr only — the driver parses stdout's single JSON line.
    // Two drift axes, two instruments (round 11 finding): the pair
    // loop tracks raw-CPU drift, but a session can also drift in Spark
    // FIXED OVERHEAD (scheduler/IO/JVM) while the pair loop reads
    // reference speed — measured this round as env_factor 0.92 with 30+
    // untouched sub-second queries uniformly 2.0-2.7x their floors. The
    // cohort MEDIAN of t/floor is the robust estimator for that axis: a
    // genuine single-query regression is an OUTLIER against the cohort,
    // while uniform drift moves the median itself. Gate on
    // median-normalized ratios; a regression that touched every query
    // at once would be caught by the pair-loop factor or the total.
    var medianRatio = 1.0
    // whether medianRatio came from a genuinely measured floored cohort
    // (ADVICE r13): absent floors / an exception / zero floored queries
    // must stamp env_median_ratio as null so update_floors.py treats the
    // artifact as unvetted instead of as a clean 1.00 cohort
    var medianMeasured = false
    try {
      val floorFile = new java.io.File("BENCH_FLOOR.json")
      if (floorFile.isFile) {
        val txt = new String(java.nio.file.Files.readAllBytes(floorFile.toPath), "UTF-8")
        val entry = """"([a-z0-9_]+)"\s*:\s*([0-9.eE+-]+)""".r
        val floors = entry.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, _) => k != "round" && k != "sf" }.toMap
        val ratios = results.flatMap { case (name, t) =>
          floors.get(name).filter(_ > 0).map(t / _)
        }.sorted
        medianRatio =
          if (ratios.isEmpty) math.max(envFactor, 0.25)
          else math.min(4.0, math.max(0.5, ratios(ratios.size / 2)))
        medianMeasured = ratios.nonEmpty
        System.err.println(
          f"[bench] floor-cohort median ratio = $medianRatio%.2f over ${ratios.size} floored queries " +
            f"(pair-loop env_factor $envFactor%.2f)")
        val regressed = results.filter { case (name, t) =>
          floors.get(name).exists(f => t / medianRatio > 2.0 * f && t / medianRatio - f > 0.25)
        }
        regressed.foreach { case (name, t) =>
          System.err.println(
            f"[bench] REGRESSION $name: $t%.2fs (norm ${t / medianRatio}%.2fs) vs floor " +
              f"${floors(name)}%.2fs (${t / medianRatio / floors(name)}%.1fx normalized)")
        }
        if (regressed.isEmpty)
          System.err.println(
            f"[bench] no regressions vs BENCH_FLOOR.json (median-normalized /$medianRatio%.2f)")
        // cohort guard (VERDICT r12 #5): a ratio past 1.25 means the box
        // is hot/contended relative to the committed floors — stamp the
        // artifact so tools/update_floors.py refuses to fold from it
        if (medianRatio > 1.25)
          System.err.println(
            f"[bench] HOT-BOX: cohort ratio $medianRatio%.2f > 1.25 — artifact is " +
              "non-comparable for floor folding (update_floors.py will refuse it)")
      } else System.err.println("[bench] no BENCH_FLOOR.json in cwd, floor check SKIPPED")
    } catch { case e: Throwable => System.err.println(s"[bench] floor check skipped: $e") }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    System.err.println(
      timings.passTotals.zipWithIndex.map { case (t, i) => f"pass${i + 1}=$t%.1f" }
        .mkString("[bench] ", " ", f" min-total=$total%.1f"))
    // per-phase splits recorded by the scale-family queries (build vs
    // search), each from its query's min pass — informative, not part of
    // the min-total
    val phases = timings.phases
    phases.toSeq.sorted.foreach { case (k, v) =>
      System.err.println(f"[bench] phase $k = $v%.2f s")
    }
    val phasesJson =
      if (phases.isEmpty) ""
      else phases.toSeq.sorted.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","phases":{""", ",", "}")
    val medianJson = if (medianMeasured) f"$medianRatio%.4f" else "null"
    // summary fields shared by the file line and the stdout line; a
    // failed query is in neither `queries` nor the total
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""env_factor":${f"$envFactor%.4f"},"env_median_ratio":$medianJson,""" +
        s""""timed_action":"noop","failed_count":${timings.failed.size}"""
    val failedJson = timings.failed.toSeq.sorted
      .map { case (k, v) => s"${Verify.jsonString(k)}:${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    val jsonLine =
      s"""$summary,"failed":$failedJson$phasesJson,"queries":$qs,"sf":"$sfDir"}"""
    // Persist the FULL per-query map (all queries, full precision) to a
    // file: the driver captures only a ~2000-char stdout tail as
    // BENCH_rN.json ("tail" + "parsed"), which truncated the ~7.5 KB
    // full line mid-object every round since r9 — "parsed" came back
    // null and only the alphabetic tail of the map was visible. The
    // file is committed by the driver with each round's artifacts, so
    // it IS per-round. A filtered local run (SPARK_GRAFT_BENCH_ONLY) is
    // NOT the artifact of record — it goes to a scratch name so it
    // can't clobber the full map (which it did once, leaving a
    // 16-query artifact in git).
    val dumpName =
      if (only.nonEmpty) "BENCH_QUERIES_partial.json"
      // SIMD is the engine default since r14, so the default-mode full
      // map goes to BENCH_QUERIES.json; an explicit scalar A/B run
      // (-Dgraft.simd.enabled=false) gets its own scratch artifact
      // (BENCH_SIMD.json remains the historical r12 SIMD-on A/B)
      else if (graft.functions.VectorMath.Simd.active) "BENCH_QUERIES.json"
      else "BENCH_SCALAR.json"
    // ADVICE r14: a silently-scalar run (jdk.incubator.vector failed to
    // classload) would stale the artifact of record with no warning —
    // say which mode ran and where the map went, every run
    System.err.println(
      s"[bench] simd enabled=${graft.functions.VectorMath.Simd.enabled} " +
        s"active=${graft.functions.VectorMath.Simd.active} " +
        s"dump=$dumpName")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(dumpName),
      (jsonLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] file dump skipped: $e") }
    // The STDOUT line is built to FIT the driver's tail so BENCH_rN's
    // "parsed" is never null again: same summary fields, then as many
    // per-query entries as the byte budget allows, SLOWEST FIRST (the
    // informative end of the distribution — sub-second queries are
    // floor-gated in this JVM already, see stderr), plus explicit
    // shown/total counts and a pointer to the full committed map.
    val tailBudget = 1900 // chars; driver keeps ~2000
    // phases ride along only while small; past that they'd eat the
    // per-query budget (they are always in the full file line)
    val phasesShort = if (phasesJson.length <= 400) phasesJson else ""
    val fixed =
      s"""$summary$phasesShort,"queries_count":${results.size},""" +
        s""""queries_file":"$dumpName","sf":"$sfDir","queries":"""
    val closing = "}"
    var used = fixed.length + 2 + closing.length // "{" + "}" of the queries map
    val shown = scala.collection.mutable.ArrayBuffer.empty[String]
    results.sortBy(-_._2).foreach { case (k, v) =>
      val e = "\"" + k + "\":" + f"$v%.3f"
      if (used + e.length + 1 <= tailBudget) { shown += e; used += e.length + 1 }
    }
    println(fixed + shown.mkString("{", ",", "}") + closing)
    spark.stop()
  }
}
