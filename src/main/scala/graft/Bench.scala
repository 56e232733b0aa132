package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}

/** Bench main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Each query executes into the `noop` sink — unlike `count()`, this
  * computes every projected column (column pruning can't hollow out the
  * measurement) while writing nothing. One JVM-warmup query runs first;
  * timings are per-query wall clock on a warm session.
  *
  * Robustness: the suite runs in THREE full passes and each query
  * records the per-pass MEDIAN — a transient contention spike on a
  * shared box distorts one pass, and the median discards it in either
  * direction (a min would also hide a genuine slow-every-pass
  * regression behind one lucky pass). Full per-pass precision goes to
  * `bench_full.json` in the working directory; stdout carries a
  * compact line sized to survive a 2000-char log-tail window (the
  * slowest queries individually, the fast tail summed under
  * `"others"`, `"nq"` = total query count).
  *
  * Failures are never silent: a query that throws is recorded in the
  * artifact (`"failures"`) and on stderr, and ANY run — full or
  * `SPARK_GRAFT_ONLY` subset — exits nonzero (2 for failures, 1 for a
  * budget-gate breach) — a crashing query must not masquerade as a
  * fast one, warm or cold.
  */
object Bench {

  /** Query currently inside the timers — the attribution key for
    * runtime-captured WindowExec warnings (local mode: execution is
    * synchronous inside `run`, so the volatile read is exact).
    */
  @volatile private var currentQuery: String = "setup"

  /** query name → count of "No Partition Defined" WindowExec warnings
    * that fired while it ran.
    */
  private val windowWarns =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** Capture WindowExec's single-partition warning per query (VERDICT
    * r13 item 2): the expected warns map to
    * [[graft.plans.BoundedWindows]]' justified bounded inputs; a warn
    * from any OTHER query means a new unbounded window reached runtime
    * — fail the run instead of letting it hide in the log tail. This
    * also covers plans the PlanSpec static walk can't see (foreachBatch
    * bodies, streaming micro-batches).
    */
  private def installWindowWarnCapture(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftWindowWarnGate", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLoggerName.endsWith("WindowExec") &&
            e.getMessage.getFormattedMessage.contains("No Partition Defined"))
          windowWarns.merge(currentQuery, 1, (a, b) => a + b)
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    installWindowWarnCapture()
    // Spark jobs per query per pass: each timed run tags its jobs with
    // "pass/query" as a local property (stream threads inherit it), and
    // one listener counts jobs per tag. Listener events arrive on the
    // bus thread, so the counts are read after spark.stop() drains it
    val jobTag = "graft.bench.query"
    val jobsByTag = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(jobTag)))
          .foreach(jobsByTag.merge(_, 1L, (a, b) => a + b))
    })

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // JVM/codegen warmup on the smallest table
    run(SparkEntry.queries("q_scan_count")(spark, sfDir))
    // materialize synthesized wire-payload inputs outside the timers so
    // ingest timings measure decode+normalize, not the test-data
    // generator — a failure here MUST abort: swallowing it would let
    // the timers silently measure the generator instead of the engine
    graft.ingest.IngestQueries.prepare(spark, sfDir)
    graft.state.StateQueries.prepare(spark, sfDir)
    graft.queries.VariantQueries.prepare(spark, sfDir)
    // warm-scratch gate (names self-registered at scratch call sites)
    val cold = Tables.coldScratch(sfDir)
    require(cold.isEmpty, s"scratch inputs not materialized: ${cold.mkString(",")}")
    Tables.releaseCaches(spark)

    // dev loop only (driver sets no filter): time a subset by substring
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // SAMPLED-TIER DEMOTION (VERDICT r14 #7, sf1 probe only — never set
    // on gated sf0.1 runs): exact names to exclude. The 8 diagnosed
    // result-quadratic / labeled-brute queries exist as sampled audits
    // of their scale-path twins; their sampled scale IS sf0.1, where
    // they stay fully oracle- and budget-gated every round. Running
    // them at 10x data re-measures a diagnosed n^2 on purpose (~140 s
    // of Spark + most of the DuckDB sweep's recursive-CTE/pair-dump
    // grind); the probe exists to validate the scale-path twins.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    if (skip.nonEmpty)
      System.err.println(s"[bench] demoted to sampled tier (skipped): " +
        skip.toSeq.sorted.mkString(","))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
      .filterNot(skip.contains)
    // 1-PASS TIER: the labeled brute/exact baselines. Their blocked
    // twins (LSH/IVF/banded) are the scale path and keep the 3-pass
    // fastest-gate; a brute baseline exists to audit its twin in-row,
    // so one timing observation suffices — the suite is 191 queries ×
    // 3 passes of real wall-clock and grows ~10/round. Tiered queries
    // run in the FINAL pass only (warmest JVM: their single run is
    // still their own codegen-cold run, but Spark-internal JIT is
    // done), and their single observation feeds median/fastest alike.
    val onePass = Set(
      "q_dedup_cosine", "q_sim_quant", "q_sim_binary", "q_sim_mips", "q_sim_topk")
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "" }
    val om = new ObjectMapper()
    val passLog = om.createArrayNode()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per metered query (the q_stream_* / pipe_stream_merge drive
    // loops), its StreamMeter snapshot per pass
    val meters = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[StreamMeter.Snapshot]]
    // Janino compiles per query per pass (two CodegenMetrics reads): a
    // nonzero count on a WARM pass means the codegen cache missed this
    // query's classes (evicted, or re-keyed by a per-execution literal);
    // graft.CodegenDiff attributes such recompiles
    val codegenCompiles = om.createObjectNode()
    val byPass: Seq[Seq[(String, Double)]] = (1 to passes).map { pass =>
      val started = System.currentTimeMillis()
      val la0 = loadavg()
      HeapWatermark.resetJvmPeaks()
      val timed = names.filter(n => pass == passes || !onePass(n)).map { name =>
        currentQuery = name
        StreamMeter.reset()
        import org.apache.spark.metrics.source.CodegenMetrics
        val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        spark.sparkContext.setLocalProperty(jobTag, s"$pass/$name")
        val t0 = System.nanoTime()
        try run(SparkEntry.queries(name)(spark, sfDir)) catch {
          case e: Throwable =>
            failures.getOrElseUpdate(name,
              s"pass$pass ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(jobTag, null)
        codegenCompiles.withArrayProperty(name)
          .add(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0)
        val m = StreamMeter.snapshot
        if (m.seconds.nonEmpty || m.batches > 0)
          meters.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += m
        currentQuery = "between"
        // reclaim per-query persisted blocks: timings stay independent —
        // no eviction churn from blocks a finished query left behind
        Tables.releaseCaches(spark)
        name -> dt
      }
      // contention forensics: a drifted total should be attributable to
      // the box at a glance (loadavg spans, wall timestamps per pass),
      // not inferred from per-query minima archaeology across rounds
      passLog.addObject().put("pass", pass).put("start_ms", started)
        .put("end_ms", System.currentTimeMillis())
        .put("loadavg_start", la0).put("loadavg_end", loadavg())
        .put("jvm_heap_peak_mb", HeapWatermark.jvmHeapPeakBytes >> 20)
      timed
    }
    spark.stop()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val best: Seq[(String, Double)] =
      names.map(n => n -> median(byPass.flatMap(_.toMap.get(n))))
    // per-query FASTEST pass: the budget gate's statistic. Rounds 9-10
    // both exited rc=1 on JIT bimodality (q_ingest_dead 2.24/2.28/0.32 s
    // — the fast pass equal to its committed baseline, the slow mode a
    // deopt/recompile firing 2-of-3 passes); a median cannot absorb a
    // slow mode that fires in the majority of passes, but a genuine
    // plan regression (lost broadcast, cartesian, eviction) slows EVERY
    // pass and still trips the min. Medians remain the reported/folded
    // statistic — bimodal observations reach budgets through the
    // queries_max contention history (merge_baseline.py), not the gate.
    val fastest: Map[String, Double] =
      names.map(n => n -> byPass.flatMap(_.toMap.get(n)).min).toMap
    val total = best.map(_._2).sum

    // cross-round trend (VERDICT r13 item 9 / r17 item 1): totals per
    // committed BENCH_r*.json artifact plus this run. Lives in the
    // ARTIFACT, not the output stream — a second JSON line on
    // stdout/stderr is what blinded the r16/r17 driver comparisons
    // (the driver's tail parser captured bench_trend instead of the
    // per-query metric line). scripts/bench_trend.py is the detailed
    // ratio report.
    val trend: Option[ObjectNode] = try {
      val t = om.createObjectNode()
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(_.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
        .foreach { f =>
          val n = om.readTree(f)
          val p = n.path("parsed")
          if (!p.path("value").isMissingNode)
            t.putObject(s"r${n.path("n").asText()}")
              .put("sec", p.path("value").asDouble()).put("nq", p.path("nq").asInt())
        }
      if (t.isEmpty) None
      else { t.putObject("this_run").put("sec", total).put("nq", names.size); Some(t) }
    } catch { case e: Exception =>
      System.err.println(s"[bench] trend skipped: $e")
      None
    }

    // full precision, all passes, for inspection
    val full = om.createObjectNode()
    def obj(kvs: Seq[(String, Double)]): ObjectNode = {
      val o = om.createObjectNode()
      kvs.foreach { case (k, v) => o.put(k, v) }
      o
    }
    full.put("metric", "total").put("value", total).put("unit", "sec")
    full.set[ObjectNode]("queries", obj(best))
    byPass.zipWithIndex.foreach { case (p, i) => full.set[ObjectNode](s"pass${i + 1}", obj(p)) }
    // stream decomposition (VERDICT r13 item 5): per metered query the
    // raw per-pass micro-batch DATA seconds — wall − data = machinery
    // floor (MemoryStream transport, checkpoint dirs, sink setup) that
    // amortizes away on a real long-running stream
    val dataSecs = meters.map { case (k, ms) => k -> ms.flatMap(_.seconds.get("data")).toSeq }
      .filter(_._2.nonEmpty)
    val sd = full.putObject("stream_data")
    dataSecs.foreach { case (k, vs) => val a = sd.putArray(k); vs.foreach(a.add(_)) }
    // one row per pass: n_batches, the phase seconds (data, and
    // processBatch's resolve/components/plan/commit) and the progress
    // durationMs / state-operator time sums in ms
    val sp = full.putObject("stream_phases")
    meters.foreach { case (k, ms) =>
      val a = sp.putArray(k)
      ms.foreach { m =>
        val row = a.addObject().put("n_batches", m.batches)
        m.seconds.toSeq.sorted.foreach { case (p, v) => row.put(s"${p}_s", v) }
        m.ms.toSeq.sorted.foreach { case (p, v) => row.put(s"${p}_ms", v) }
      }
    }
    // streaming state-store size high-waters per metered query, maxed
    // across passes: the number that says whether watermark/TTL
    // eviction bounds state
    val ss = full.putObject("stream_state")
    meters.foreach { case (k, ms) =>
      val hi = ms.flatMap(_.high).groupMapReduce(_._1)(_._2)(_ max _)
      if (hi.nonEmpty) {
        val o = ss.putObject(k)
        hi.toSeq.sorted.foreach { case (mk, mv) => o.put(mk, mv) }
      }
    }
    full.set[ObjectNode]("codegen_compiles", codegenCompiles)
    // same shape as codegen_compiles: one count per pass the query ran in
    val sparkJobs = full.putObject("spark_jobs")
    names.foreach { n =>
      val a = sparkJobs.putArray(n)
      byPass.zipWithIndex.collect { case (p, i) if p.exists(_._1 == n) =>
        a.add(Option(jobsByTag.get(s"${i + 1}/$n")).fold(0L)(_.longValue))
      }
    }
    // measured driver-collect high-water per site (HeapWatermark):
    // the bounded-driver contract as a number the sf1 probe asserts
    val hw = full.putObject("heap_watermarks")
    HeapWatermark.snapshot.toSeq.sortBy(_._1).foreach { case (k, v) => hw.put(k, v) }
    trend.foreach(full.set[ObjectNode]("trend", _))
    val fs = full.putObject("failures")
    failures.foreach { case (k, v) => fs.put(k, v) }
    val env = full.putObject("env")
    env.put("cpus", cpus.toString)
      .put("available_processors", Runtime.getRuntime.availableProcessors())
      .set[ObjectNode]("passes", passLog)
    full.put("sf", sfDir)
    // the committed baseline artifact records FULL runs only — a
    // SPARK_GRAFT_ONLY dev subset writes to bench_dev.json so it can
    // never silently replace the cross-round comparison point
    // a skip-demoted run is a subset too: it must never replace the
    // committed full baseline
    val outFile = if (only.isEmpty && skip.isEmpty) "bench_full.json" else "bench_dev.json"
    Files.writeString(Paths.get(outFile), om.writeValueAsString(full) + "\n")

    // compact stdout line: slowest-first until the budget, rest summed
    def fmt(v: Double): String =
      if (v >= 10) f"$v%.1f" else if (v >= 1) f"$v%.2f" else f"$v%.3f"
    // the metric line carries fmt's rounding as exact JSON decimals
    def dec(v: Double) = new java.math.BigDecimal(fmt(v))
    val budget = 1600
    val bySlow = best.sortBy(-_._2)
    val qs = om.createObjectNode()
    var used = 120 // envelope + others/nq keys headroom
    var others = 0.0
    bySlow.foreach { case (k, v) =>
      val len = k.length + fmt(v).length + 4 // "k":v,
      if (used + len <= budget) { qs.put(k, dec(v)); used += len }
      else others += v
    }
    // the ONE stdout JSON line the driver parses — printed LAST, after
    // every artifact write and every stderr diagnostic below (VERDICT
    // r17 item 1: the driver's tail parser takes the final JSON line of
    // the run log; printing this mid-stream let the bench_trend line —
    // and, on a gated run, the bench_guard lines — shadow it, leaving
    // PERF_r16/r17 with empty per_query blocks despite rc=0 runs)
    val metricLine = {
      val m = om.createObjectNode()
      m.put("metric", "total").put("value", dec(total)).put("unit", "sec")
      m.set[ObjectNode]("queries", qs)
      m.put("others", dec(others)).put("nq", names.size).put("sf", sfDir)
      om.writeValueAsString(m)
    }

    // a throwing query is a hard failure on full runs: it was timed as
    // a near-instant "success" pre-round-8 and could sail under every
    // budget while computing nothing
    failures.foreach { case (n, e) => System.err.println(s"[bench-guard] FAILED $n: $e") }

    // regression gate (full MULTI-PASS runs only: SPARK_GRAFT_ONLY
    // subsets run COLD and a SPARK_GRAFT_PASSES=1 run has no spread to
    // take a min over — both would false-positive): each query's
    // FASTEST pass against its committed budget (bimodality-robust; a
    // real plan regression slows every pass), plus a total-level budget
    // on the median sum (scripts/make_budgets.py: per-query
    // max(2.5×, +0.75 s, 1.3× observed max), total
    // max(1.5×, 1.15× max-sum)).
    // Breaches print AFTER every artifact is written, then exit
    // nonzero — the "compare r_N to r_N−1 by hand" step as a hard
    // gate. Budgets are per-sf: the gate only arms when the budget
    // file was generated from the same sf dir this run measured.
    // Unguarded queries (registered but absent from the budgets file)
    // are themselves a breach: without this, a new query can never
    // trip the gate until someone remembers to re-baseline.
    // the budget gate below reports breaches only; crashes are handled
    // separately at exit (code 2, any run — see the exit logic)
    val budgetFile = new java.io.File("bench_budgets.json")
    var gateFailed = false
    if (only.isEmpty && skip.isEmpty && passes >= 2 && budgetFile.exists()) {
      val root = om.readTree(budgetFile)
      val sfMatch = root.path("source_sf").asText("") == sfDir
      if (sfMatch) {
        val budgets = root.path("budgets")
        val dataBudgets = root.path("data_budgets")
        // metered stream queries gate on their fastest DATA time: the
        // machinery floor (checkpoint/MemoryStream setup) is noisy and
        // amortizes at production scale, so a wall budget there either
        // flakes or hides a plan regression under the floor
        val dataBreaches = dataSecs.toSeq.flatMap { case (n, vs) =>
          val b = dataBudgets.path(n)
          if (!b.isMissingNode && vs.min > b.asDouble())
            Some(s""""$n":{"data_sec":${fmt(vs.min)},"budget":${b.asDouble()}}""")
          else None
        }
        // gate on the fastest pass (see `fastest` above): bimodality-
        // robust, still trips on every-pass regressions. Queries with a
        // data budget are gated above on the data statistic instead.
        val breaches = best.flatMap { case (n, _) =>
          val t = fastest(n)
          val b = budgets.path(n)
          if (!b.isMissingNode && !dataBudgets.path(n).isMissingNode) None
          else if (!b.isMissingNode && t > b.asDouble()) Some(s""""$n":{"sec":${fmt(t)},"budget":${b.asDouble()}}""")
          else None
        } ++ dataBreaches
        // a regression that leaves ONE pass fast (cold-pass-only, or
        // masked by caching) can never trip the min-based hard gate —
        // surface it as a non-fatal MEDIAN warning so slow-mode and
        // partial regressions stay visible in the run log without
        // reintroducing the bimodality flakes the min gate fixed
        best.foreach { case (n, med) =>
          val b = budgets.path(n)
          if (!b.isMissingNode && dataBudgets.path(n).isMissingNode &&
              med > b.asDouble() && fastest(n) <= b.asDouble())
            System.err.println(s"""[bench-warn] median over budget (fastest pass ok): {"$n":{"median":${fmt(med)},"fastest":${fmt(fastest(n))},"budget":${b.asDouble()}}}""")
        }
        val unguarded = best.collect {
          case (n, _) if budgets.path(n).isMissingNode &&
            dataBudgets.path(n).isMissingNode => n
        }
        if (unguarded.nonEmpty)
          System.err.println(s"[bench-guard] unguarded (no budget entry — rerun the full " +
            s"bench and scripts/make_budgets.py, commit both): ${unguarded.mkString(",")}")
        val totalBudget = root.path("total_budget")
        val totalBreach = !totalBudget.isMissingNode && total > totalBudget.asDouble()
        if (totalBreach)
          System.err.println(s"""{"metric":"bench_guard_total","sec":${fmt(total)},"budget":${totalBudget.asDouble()}}""")
        if (breaches.nonEmpty)
          System.err.println(s"""{"metric":"bench_guard","breaches":${breaches.mkString("{", ",", "}")}}""")
        gateFailed ||= breaches.nonEmpty || totalBreach || unguarded.nonEmpty
      } else System.err.println(
        s"[bench-guard] budgets are for ${root.path("source_sf").asText("")}, run is $sfDir — gate skipped")
    }
    // runtime window-warn gate (VERDICT r13 item 2): every captured
    // "No Partition Defined" WindowExec warning must be attributable to
    // a BoundedWindows-whitelisted query — a new unbounded window can't
    // hide among the expected warn noise. Applies to dev subsets too
    // (the warn is plan-shaped, not timing-shaped).
    {
      import scala.jdk.CollectionConverters._
      val warned = windowWarns.asScala.toSeq.sortBy(_._1)
      val illegal = warned.filterNot { case (n, _) =>
        graft.plans.BoundedWindows.justification.contains(n) ||
          n == "setup" || n == "between"
      }
      warned.collect { case (n, c) if !illegal.exists(_._1 == n) =>
        System.err.println(s"[bench-window] expected bounded single-partition window: $n x$c")
      }
      if (illegal.nonEmpty) {
        System.err.println(
          "[bench-guard] UNWHITELISTED partition-less WindowExec at runtime " +
            "(add a justified bound to graft.plans.BoundedWindows or fix the plan): " +
            illegal.map { case (n, c) => s"$n x$c" }.mkString(", "))
        gateFailed = true
      }
    }
    // FINAL stdout output: flush stderr first so no diagnostic can land
    // after the metric line in a combined (2>&1) log tail
    System.err.flush()
    println(metricLine)
    System.out.flush()
    // a crash is unambiguous regardless of warm/cold timing, so it fails
    // SUBSET (dev) runs too — with a distinct exit code (2) so a dev
    // loop can tell "my query threw" from "the budget gate tripped" (1)
    if (failures.nonEmpty) sys.exit(2)
    if (gateFailed) sys.exit(1)
  }
}
