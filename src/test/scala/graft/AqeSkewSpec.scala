package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join gate: the runtime re-plan that keeps shuffle joins
  * alive under key skew at 100 TB. A hot join key concentrates one
  * shuffle partition; AQE's skew handling splits it into subpartitions
  * at execution time (the complement of the STATIC salting pattern
  * `q_agg_salted` demonstrates). This spec forces tiny thresholds so
  * the behavior is observable on test data and asserts the final
  * adaptive plan actually split — a config regression (someone turning
  * `skewJoin` off) fails here, not at 3am on a production shuffle.
  */
class AqeSkewSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink thresholds so the synthetic hot key qualifies as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a hot join key is split by AQE skew handling (skew=true in the final plan)") {
    import spark.implicits._
    // key 0 carries 200k rows with a fat payload; keys 1..99 carry 100 each
    val left = spark.range(0, 210000).select(
      when(col("id") < 200000, 0L).otherwise((col("id") % 100) + 1).as("k"),
      concat(lit("x"), col("id")).as("pad"),
      lpad(lit("p"), 64, "p").as("fat"))
    // no explicit repartition: AQE's OptimizeSkewedJoin only splits
    // ENSURE_REQUIREMENTS shuffles, not user-forced REPARTITION ones
    val right = (0L to 100L).map(k => (k, s"dim$k")).toDF("k", "name")
    // keep the incompressible pad column: the skew decision reads
    // POST-COMPRESSION shuffle bytes, and a column-pruned all-zeros key
    // partition compresses below any realistic threshold
    val joined = left.join(right, "k").select(col("k"), col("pad"), col("name"))
    // collect() runs the dataset's OWN QueryExecution (count()/foreach
    // spawn separate ones) so the adaptive plan below is the executed,
    // final one
    assert(joined.collect().length == 210000)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    assert(finalPlan.contains("skew=true"),
      s"AQE did not split the hot partition:\n${finalPlan.take(2000)}")
  }
}
