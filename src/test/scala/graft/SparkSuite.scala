package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Mix-in for specs that need Spark: one [[GraftSession]] per suite,
  * built on first use under the shipped settings and stopped after the
  * suite. A spec that needs a different runtime setting sets it on
  * `spark`, never on a session of its own.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  /** Local threads (and shuffle partitions) of the suite's session. */
  protected def cores: Int

  lazy val spark: SparkSession = GraftSession(cores)

  /** Local property that tags the jobs `body` starts in [[listenDuring]]. */
  protected val ProbeKey = "graft.sparksuite.probe"

  /** Run `body` with `listener` attached; return once the listener bus
    * has delivered every event of `body`. The jobs `body` starts on this
    * thread carry [[ProbeKey]] = "probe"; a sentinel job started
    * afterwards under another tag is awaited, and the bus delivers
    * events in order, so every event of `body` has been seen by then.
    */
  protected def listenDuring(listener: SparkListener)(body: => Unit): Unit = {
    val sentinel = s"sentinel-${System.nanoTime()}"
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val watch = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (probeTag(e).contains(sentinel)) delivered.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(watch)
    try {
      sc.setLocalProperty(ProbeKey, "probe")
      try body finally sc.setLocalProperty(ProbeKey, sentinel)
      spark.range(1).count()
      assert(delivered.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
    } finally {
      sc.setLocalProperty(ProbeKey, null)
      sc.removeSparkListener(watch)
      sc.removeSparkListener(listener)
    }
  }

  /** The [[ProbeKey]] tag of a job, if any. */
  protected def probeTag(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(ProbeKey)))

  /** Spark jobs started while `body` runs on this thread. */
  protected def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    listenDuring(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (probeTag(e).contains("probe")) jobs.incrementAndGet()
    })(body)
    jobs.get
  }

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
