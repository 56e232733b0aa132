package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

object Json {
  val mapper = new ObjectMapper()
}

final case class Args(workload: String, input: String, out: String, seconds: Double,
    trace: Boolean, cpus: Int, injectFailure: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("input"), need("out"), need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt,
      m.getOrElse("inject-failure", "0") == "1")
  }
}

/** What a run hands back to `run.py`: op counts, metrics, and the outputs
  * to check against their oracles. Written as `result.json`.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** (check name, oracle SQL over the input tables, parquet dir of
    * Spark's output, extra views the SQL reads: name → parquet dir)
    */
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String, String, Map[String, String])]
  /** (check name, passed, detail) for checks made inside the JVM */
  val jvmChecks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def check(name: String, ok: Boolean, detail: => String): Unit =
    jvmChecks += ((name, ok, if (ok) "" else detail))

  def write(f: File): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("attempted", attempted)
    m.put("failed", failed)
    m.put("errors", errors.asJava)
    m.put("e2e", e2e.map { case (k, v) => k -> Double.box(v) }.asJava)
    m.put("layers", layers.map { case (k, v) => k -> Double.box(v) }.asJava)
    m.put("oracle_checks", oracleChecks.map { case (n, sql, dir, views) =>
      Map[String, Any]("name" -> n, "sql" -> sql, "got" -> dir, "views" -> views.asJava).asJava
    }.asJava)
    m.put("jvm_checks", jvmChecks.map { case (n, ok, d) =>
      Map[String, Any]("name" -> n, "ok" -> ok, "detail" -> d).asJava }.asJava)
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(f, m)
  }
}

/** Latency and throughput of one measured window. */
final class Window {
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Open loop: how late each op started against its due time. */
  val lags = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var wallS = 0.0
  /** Open loop: time spent waiting for the next op to fall due. */
  var idleS = 0.0
  def busyS: Double = wallS - idleS
  def ops: Int = latencies.size
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Context a workload runs in: the session, its input and scratch dirs. */
final class Ctx(val args: Args, val spark: SparkSession, val work: File, val tr: Tracer,
    val result: Result) {
  def input(name: String): String = new File(args.input, name).getAbsolutePath
  def meta: com.fasterxml.jackson.databind.JsonNode =
    Json.mapper.readTree(new File(args.input, "meta.json"))
  def scratch(name: String): String = {
    val f = new File(work, name); f.mkdirs(); f.getAbsolutePath
  }
}

/** One benchmark workload. The run calls [[setup]] and [[prime]] once,
  * then [[op]] in a loop for the measured window, then [[finish]] for the
  * checks and counts that stay outside the timers.
  */
trait Workload {
  /** Input registration and a small warm-up. */
  def setup(c: Ctx): Unit
  /** One untimed iteration before the window, so the window is warm. */
  def prime(c: Ctx): Unit
  /** Ops per cycle: a window ends only on a cycle boundary, so every
    * run measures the same mix.
    */
  def cycleLen: Int = 1
  /** Open-loop workloads return op `i`'s due time in seconds from the
    * window's start; its latency then runs from that due time.
    */
  def dueS(i: Int): Option[Double] = None
  /** Run op `i`; returns the items it moved. */
  def op(c: Ctx, i: Int): Long
  /** Latency of op `i` from its start to its end, for closed-loop
    * workloads that time only part of an op.
    */
  def latency(startS: Double, endS: Double): Double = endS - startS
  /** End-to-end metrics from the window. */
  def endToEnd(c: Ctx, w: Window): Map[String, Double]
  /** Correctness checks and traced per-layer metrics, outside the timers. */
  def finish(c: Ctx, w: Window, traced: Option[Probes]): Unit
  def teardown(c: Ctx): Unit = ()
}

object Main {
  def session(a: Args, work: File): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // the same engine settings graft.Bench and graft.Verify run under
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val out = new File(a.out); out.mkdirs()
    val work = new File(out, "work"); work.mkdirs()
    val result = new Result
    val wl = Workloads(a.workload)
    val tr = new Tracer(enabled = false, runId = a.workload)

    // set-up: from JVM start through session build, input registration
    // and the warm-up, up to the first timed op
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a, work)
    spark.sparkContext.setLogLevel("WARN")
    tr.spark = spark
    val ctx = new Ctx(a, spark, work, tr, result)
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionS = sinceStart
    wl.setup(ctx)
    val registeredS = sinceStart
    wl.prime(ctx)
    val setupS = sinceStart
    System.err.println(f"[perfbench] setup $setupS%.3f s: session at $sessionS%.3f s, " +
      f"inputs registered at $registeredS%.3f s, then the warm-up")

    val w = window(wl, ctx, a.seconds, None)
    result.e2e("setup_s") = setupS
    if (w.ops > 0) result.e2e ++= wl.endToEnd(ctx, w)

    if (!a.trace) wl.finish(ctx, w, None)
    else {
      // the traced pass repeats the same ops with spans, forced layer
      // boundaries and listeners
      val traced = new Tracer(enabled = true, runId = s"${a.workload}-${System.currentTimeMillis()}")
      traced.spark = spark
      val tctx = new Ctx(a, spark, work, traced, result)
      val probes = new Probes(spark)
      probes.start()
      val tw = window(wl, tctx, Double.PositiveInfinity, Some(w.ops))
      probes.stop()
      traced.release()
      // untraced again after it: the mean of the windows either side
      // cancels the warm-up the process makes between them; open-loop
      // waits are left out, as the schedule fixes them
      val after = window(wl, ctx, Double.PositiveInfinity, Some(w.ops))
      result.layers("trace_overhead_ratio") = tw.busyS / ((w.busyS + after.busyS) / 2)
      // the share of the traced window's busy time that falls inside a
      // layer span; "op" is the wrapper around each whole op, so its self
      // time is the uncovered part
      val self = traced.selfSeconds
      val covered = (self - "op").values.sum / tw.busyS
      result.layers("trace.span_coverage") = covered
      result.layers("trace.uncovered_share") = 1.0 - covered
      Layers.spark(result, probes, tw.busyS, a.cpus, self)
      wl.finish(tctx, tw, Some(probes))
      traced.write(new File(out, "spans.json"))
    }
    result.layers("failed_op_ratio") =
      if (result.attempted == 0) 0.0 else result.failed.toDouble / result.attempted
    result.write(new File(out, "result.json"))
    System.err.println(f"[perfbench] window ${w.wallS}%.3f s, done at $sinceStart%.3f s")
    wl.teardown(ctx)
    spark.stop()
  }

  /** Run ops until `seconds` have passed (or `limit` ops ran). */
  def window(wl: Workload, c: Ctx, seconds: Double, limit: Option[Int]): Window = {
    val w = new Window
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (limit.forall(i < _) && (limit.isDefined || now < seconds || i % wl.cycleLen != 0)) {
      val due = wl.dueS(i)
      due.foreach { d =>
        val wait = d - now
        if (wait > 0) { Thread.sleep((wait * 1000).toLong); w.idleS += wait }
      }
      val start = now
      c.result.attempted += 1
      try {
        val n = c.tr.span("op")(wl.op(c, i))
        if (c.args.injectFailure && i == 0)
          throw new IllegalStateException("injected failure after the first op")
        w.items += n
        w.latencies += due.fold(wl.latency(start, now))(now - _)
        due.foreach(w.lags += start - _)
        System.err.println(f"[perfbench] op $i ${w.latencies.last}%.3f s")
      } catch {
        case e: Exception =>
          c.result.failed += 1
          c.result.errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      i += 1
    }
    w.wallS = now
    w
  }
}

/** The `spark.*` per-layer metrics, common to every workload. */
object Layers {
  def spark(r: Result, p: Probes, busyS: Double, cpus: Int, self: Map[String, Double]): Unit = {
    val analysis = p.phaseSeconds("analysis")
    val optimization = p.phaseSeconds("optimization")
    val planning = p.phaseSeconds("planning")
    val codegen = p.compileMicros.sum / 1e6
    val taskRun = p.taskRunMs.sum / 1e3
    val driverOnly = self.getOrElse("flags.decide", 0.0)
    r.layers ++= Seq(
      "spark.analysis_s" -> analysis,
      "spark.optimization_s" -> optimization,
      "spark.planning_s" -> planning,
      "spark.codegen_compiles" -> p.compiles.sum.toDouble,
      "spark.codegen_s" -> codegen,
      "spark.jobs" -> p.jobs.sum.toDouble,
      "spark.tasks" -> p.tasks.sum.toDouble,
      "spark.sched_s" -> math.max(0.0,
        busyS - analysis - optimization - planning - codegen - taskRun / cpus - driverOnly),
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> p.taskCpuNs.sum / 1e9,
      "spark.gc_s" -> p.gcMs.sum / 1e3,
      "spark.shuffle_write_bytes" -> p.shuffleWriteBytes.sum.toDouble,
      "spark.spill_bytes" -> p.spillBytes.sum.toDouble,
      "spark.task_skew" -> p.taskSkew,
      "spark.heap_peak_mb" -> p.heapPeakMb)
  }
}
