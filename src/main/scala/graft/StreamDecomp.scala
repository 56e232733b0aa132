package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic probe (not part of the driver contract): decompose the
  * metered streaming queries' wall clocks into
  *   wall = harness floor + data,  data = Σ micro-batch phases
  * using the engine's own `StreamingQueryProgress.durationMs` — the
  * numbers a production cluster reports per trigger. The drive loops
  * already meter `processAllAvailable` as "data" (PhaseMeter); this
  * probe attributes that data time to addBatch (the actual plan
  * execution) vs offset/commit-log WAL writes vs source admin — the
  * split that says whether a slow stream query needs a PLAN fix (shows
  * up in addBatch) or is paying per-trigger machinery that amortizes on
  * a long-running stream (walCommit/commitOffsets/getBatch: one
  * fsync'd checkpoint write per trigger regardless of batch size).
  *
  * Usage: runMain graft.StreamDecomp [sfDir] [queryName...]
  * Writes STREAM_DECOMP.json in the working directory.
  */
object StreamDecomp {

  /** durationMs keys summed per query (everything the progress carries;
    * "triggerExecution" is the whole trigger = data ceiling).
    */
  private val phases = Seq("triggerExecution", "addBatch", "getBatch",
    "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_stream_anomaly", "q_stream_dedup", "q_stream_funnel",
        "q_stream_late", "q_stream_lsh_gate", "q_stream_paths",
        "q_stream_sample", "q_pipe_stream_merge")
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    // phase sums and per-operator state timings for the CURRENT query
    // (queries run sequentially; the buffer is reset per query)
    val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        phases.foreach { k =>
          val v = e.progress.durationMs.getOrDefault(k, 0L)
          sums.merge(k, v, (a, b) => a + b)
        }
        e.progress.stateOperators.foreach { op =>
          Seq("commitTimeMs" -> op.commitTimeMs,
            "allUpdatesTimeMs" -> op.allUpdatesTimeMs,
            "allRemovalsTimeMs" -> op.allRemovalsTimeMs).foreach { case (k, v) =>
            sums.merge(s"state_$k", v, (a, b) => a + b)
          }
        }
      }
    })

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    graft.state.StateQueries.prepare(spark, sfDir)
    // warm pass first: JVM/codegen cold costs land once, outside the
    // reported numbers (matching the bench's warm-median discipline)
    val out = new StringBuilder("{\n")
    names.zipWithIndex.foreach { case (n, i) =>
      run(SparkEntry.queries(n)(spark, sfDir)) // warm-up run (cold codegen)
      Tables.releaseCaches(spark)
      Thread.sleep(500)
      sums.clear(); batches.set(0); PhaseMeter.reset()
      val t0 = System.nanoTime()
      run(SparkEntry.queries(n)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // let the listener bus drain
      Tables.releaseCaches(spark)
      val data = PhaseMeter.snapshot.getOrElse("data", 0.0)
      val ph = (phases.map(k => k -> sums.getOrDefault(k, 0L).toDouble / 1e3) ++
        { import scala.jdk.CollectionConverters._
          sums.asScala.keys.filter(_.startsWith("state_")).toSeq.sorted
            .map(k => k -> sums.get(k).toDouble / 1e3) })
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
      val line = f""""$n":{"wall":$wall%.3f,"data":$data%.3f,"floor":${wall - data}%.3f,"n_batches":${batches.get()},$ph}"""
      System.err.println(s"[decomp] $line")
      out.append("  ").append(line).append(if (i < names.size - 1) ",\n" else "\n")
    }
    out.append("}\n")
    val w = new java.io.PrintWriter("STREAM_DECOMP.json")
    try w.print(out.toString) finally w.close()
    spark.stop()
  }
}
