package graft

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

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
