package graft

/** Dev diagnostic: why does a registered query recompile codegen on a
  * warm pass? Runs the same query twice in one session, captures every
  * source Janino ACTUALLY compiled (via the CodeGenerator debug log —
  * the same path the cache misses through), and reports how many
  * build-2 sources were not byte-identical to any build-1 source. A
  * nonzero count names a per-execution value embedded in the generated
  * code (the `current_timestamp()` class of cache busters, see
  * `Normalizer.DetClock`); the suspect lines — long literals that
  * differ between builds — are printed.
  *
  * Run: `sbt "runMain graft.CodegenDiff <query> [sfDir]"`.
  */
object CodegenDiff {

  private val captured =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  private def installCapture(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graftCgCapture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("public Object generate(Object[] references)") ||
            m.contains("public java.lang.Object generate"))
          captured.add(m)
      }
    }
    app.start()
    val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = org.apache.logging.log4j.core.config.LoggerConfig
      .createLogger(false, Level.DEBUG, loggerName, null,
        Array.empty[org.apache.logging.log4j.core.config.AppenderRef],
        null, cfg, null)
    lc.addAppender(app, Level.DEBUG, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CodegenDiff <query> [sfDir]")
    val q = args(0)
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession(GraftSession.envCores)
    // GRAFT_CGDIFF_NOAQE=1 isolates AQE as the recompile source:
    // adaptive re-planning can pick different physical variants per
    // run from runtime statistics, which is legitimate new codegen.
    // Finding for the record (q_prod_funnel_incremental): ~38 fresh
    // units per run under AQE — adaptive re-planning picks different
    // physical variants from runtime stats of the persisted base; 0
    // fresh with AQE off. Legitimate adaptivity, not a cache bug — the
    // bench's residual warm-pass compiles are this plus streaming
    // watermark literals. (The session's 10k-entry codegen cache keeps
    // EVICTION of identical sources from masquerading as per-run
    // source churn: build-2 compiles ≈ the genuinely fresh sources.)
    spark.conf.set("spark.sql.adaptive.enabled",
      (!sys.env.contains("GRAFT_CGDIFF_NOAQE")).toString)
    // UNTRUNCATED source logging: the default 1000-line cap makes two
    // DIFFERENT large sources (streaming agg easily exceeds it) appear
    // byte-identical to the capture, which would misattribute a
    // legitimate literal-differing recompile as a cache bug
    spark.conf.set("spark.sql.codegen.logging.maxLines", "-1")
    // r15 finding: Spark 4's codegen cache key is (context classloader
    // weakref, source). Streaming queries run under a per-query
    // artifact-isolation classloader, so EVERY new streaming query
    // recompiles its whole source set against a fresh key — identical
    // sources, zero "fresh" diffs. GRAFT_CGDIFF_ISOLATION=1 restores
    // the default to reproduce that behavior.
    spark.conf.set("spark.sql.artifact.isolation.enabled",
      sys.env.contains("GRAFT_CGDIFF_ISOLATION").toString)
    spark.sparkContext.setLogLevel("WARN")
    installCapture()
    import org.apache.spark.metrics.source.CodegenMetrics

    def build(): Seq[String] = {
      captured.clear()
      SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      Tables.releaseCaches(spark)
      import scala.jdk.CollectionConverters._
      captured.asScala.toSeq
    }
    // warm anything shared once so build-1 captures this query's units
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = build()
    val c1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val b = build()
    val c2 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(s"[cgdiff] $q: build1 compiles=${c1 - c0}, build2 compiles=${c2 - c1}")
    val aSet = a.toSet
    val fresh = b.filterNot(aSet.contains)
    println(s"[cgdiff] build2 sources not seen in build1: ${fresh.size} / ${b.size}")
    // every whole-stage source carries its codegen stage id (the class
    // name and a `codegenStageId=` comment), and AQE numbers stages in
    // the order it plans them, which can vary run to run: a fresh source
    // that is a build-1 source under another id is a renumbered stage
    def unnumbered(src: String) = src.replaceAll("(CodegenStage|codegenStageId=)\\d+", "$1")
    val aUnnumbered = a.map(unnumbered).toSet
    println(s"[cgdiff] of those, equal to a build1 source but for the codegen stage id: " +
      s"${fresh.count(s => aUnnumbered.contains(unnumbered(s)))}")
    // IDENTICAL sources recompiled on build 2 = cache misses on an
    // unchanged key — name the generated classes so the cause can be
    // attributed (r15 finding: the streaming path's per-micro-batch
    // recompiles are this class, NOT literal-differing sources)
    val stale = b.filter(aSet.contains)
    if (stale.nonEmpty) {
      val byClass = stale.flatMap(_.linesIterator
          .find(l => l.contains("class ") && l.contains("extends"))
          .map(_.trim.take(100)))
        .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
      println(s"[cgdiff] build2 IDENTICAL-source recompiles by class:")
      byClass.foreach { case (cls, n) => println(s"[cgdiff]   $n x $cls") }
      // same class appearing with ≥2 DISTINCT sources inside one build =
      // a per-execution literal stamped into the code (the watermark
      // class); print the differing lines to name the literal
      stale.groupBy(_.linesIterator
          .find(l => l.contains("class ") && l.contains("extends"))
          .getOrElse("?"))
        .values.filter(g => g.distinct.size > 1).take(3)
        .foreach { g =>
          val Seq(x, y) = g.distinct.take(2)
          x.linesIterator.zip(y.linesIterator).zipWithIndex
            .filter { case ((p, r), _) => p != r }.take(3)
            .foreach { case ((p, r), i) =>
              println(s"[cgdiff] same-class source drift line $i:\n" +
                s"  A: ${p.trim.take(160)}\n  B: ${r.trim.take(160)}")
            }
        }
      // duplicate compiles of one source WITHIN build 1 say the miss
      // already happens inside a single run (not a cross-run effect)
      val dup1 = a.groupBy(identity).view.mapValues(_.size).filter(_._2 > 1)
      println(s"[cgdiff] build1 within-run duplicate compiles: " +
        s"${dup1.values.sum - dup1.size} extra over ${dup1.size} sources")
    }
    fresh.take(2).foreach { src =>
      // nearest build-1 source by line-prefix overlap, then diff lines
      val best = a.maxByOption(x =>
        x.linesIterator.zip(src.linesIterator).takeWhile { case (p, r) => p == r }.size)
      best.foreach { x =>
        val diffs = x.linesIterator.zip(src.linesIterator).zipWithIndex
          .filter { case ((p, r), _) => p != r }.take(5).toSeq
        if (diffs.isEmpty)
          println("[cgdiff] fresh source has no same-position line diff vs nearest (reordered unit)")
        diffs.foreach { case ((p, r), i) =>
          println(s"[cgdiff] line $i:\n  A: ${p.trim.take(200)}\n  B: ${r.trim.take(200)}")
        }
      }
    }
    spark.stop()
  }
}
