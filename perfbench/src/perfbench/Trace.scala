package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One timed region around a layer call. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = -1L)

/** Span recorder for the traced run. When disabled every method is a
  * pass-through, so the timed runs pay nothing for it.
  *
  * Spans nest; a span's self time is its wall time minus its children's.
  * The active span name rides on the SparkContext local property
  * [[Tracer.SpanProp]], so the listeners can attribute each job's tasks
  * to the layer that started it.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val forced = mutable.ArrayBuffer.empty[Dataset[_]]
  @volatile var spark: SparkSession = _

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, runId, System.nanoTime())
      spans += s
      stack = s :: stack
      setProp(name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        setProp(stack.headOption.map(_.name).orNull)
      }
    }

  private def setProp(v: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(Tracer.SpanProp, v)

  /** Materialize a layer's output inside the current span, so the layer's
    * self time holds its own work rather than being deferred into the
    * next layer's action. Untraced runs keep Spark's lazy plan unchanged.
    */
  def force[T](ds: Dataset[T]): Dataset[T] =
    if (!enabled) ds
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      forced += p
      p
    }

  /** Drop the blocks [[force]] pinned. */
  def release(): Unit = { forced.foreach(_.unpersist(blocking = false)); forced.clear() }

  /** Self seconds per span name, over all closed spans. */
  def selfSeconds: Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.filter(s => s.endNs >= 0 && s.parent >= 0)
      .foreach(s => child(s.parent) += s.endNs - s.startNs)
    spans.filter(_.endNs >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - child(s.id)).sum / 1e9
    }
  }

  def calls(name: String): Int = spans.count(_.name == name)

  def write(path: java.io.File): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9).asJava
    }.asJava
    Json.mapper.writeValue(path, rows)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Counters from Spark's own hooks, registered by the traced run only:
  * a [[SparkListener]] for jobs, tasks, shuffle and spill, a
  * [[QueryExecutionListener]] for the planning phases of each query
  * (`QueryPlanningTracker`), a [[StreamingQueryListener]] for micro-batch
  * durations and state size, a log appender for Janino compile times, and
  * the heap pools' peak usage.
  */
final class Probes(spark: SparkSession) {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  private val phaseMs = new ConcurrentHashMap[String, LongAdder]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val spanShuffle = new ConcurrentHashMap[String, LongAdder]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()
  private val streamMs = new ConcurrentHashMap[String, LongAdder]()
  val streamBatches = new LongAdder
  val streamStateRows = new AtomicLong
  val stateCommitMs = new LongAdder
  val compiles = new LongAdder
  val compileMicros = new LongAdder

  private def add(m: ConcurrentHashMap[String, LongAdder], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).add(v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      span.foreach(jobSpan.put(e.jobId, _))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        val sw = m.shuffleWriteMetrics.bytesWritten
        shuffleWriteBytes.add(sw)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobSpan.get(j)))
          .foreach(s => add(spanShuffle, s, sw))
      }
      if (e.taskInfo != null)
        stageTaskMs.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Long]()))
          .add(e.taskInfo.duration)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) => add(phaseMs, phase, s.durationMs) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        streamBatches.increment()
        p.durationMs.asScala.foreach { case (k, v) => add(streamMs, k, v.longValue) }
        val ops = p.stateOperators
        streamStateRows.set(ops.map(_.numRowsTotal).sum)
        stateCommitMs.add(ops.map(_.commitTimeMs).sum)
      }
    }
  }

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compileRe = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = {
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    new AbstractAppender("perfbenchCodegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLoggerName == codegenLogger) e.getMessage.getFormattedMessage match {
          case compileRe(ms) =>
            compiles.increment(); compileMicros.add((ms.toDouble * 1000).toLong)
          case _ =>
        }
    }
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.INFO, null)
    Configurator.setLevel(codegenLogger, Level.INFO)
    ctx.updateLoggers()
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Let queued listener events land before the counters are read. */
  def stop(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext, 30000L)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    Configurator.setLevel(codegenLogger, Level.WARN)
    ctx.updateLoggers()
  }

  def phaseSeconds(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.sum / 1e3).getOrElse(0.0)

  def streamSeconds(key: String): Double =
    Option(streamMs.get(key)).map(_.sum / 1e3).getOrElse(0.0)

  def shuffleBytesOf(spanPrefix: String): Long =
    spanShuffle.asScala.collect { case (k, v) if k.startsWith(spanPrefix) => v.sum }.sum

  /** Max over stages of (max task time / median task time). */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.asScala.toSeq.flatMap { l =>
      val xs = l.synchronized(l.asScala.map(_.longValue).toVector).sorted
      if (xs.size < 2) None
      else {
        val med = xs(xs.size / 2).toDouble
        if (med <= 0) None else Some(xs.last / med)
      }
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
