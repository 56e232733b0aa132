package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The schema memo behind [[Tables.parquet]]: a repeat load starts no
  * Spark job, a rewritten table is re-inferred, the timestamp
  * normalizations still apply, and every load is a fresh relation.
  */
class TablesSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  test("a repeat load of a table starts no Spark job") {
    val dir = tmpDir()
    spark.range(10).withColumn("v", col("id") * 2).write.parquet(s"$dir/orders.parquet")
    assert(jobsDuring(Tables.orders(spark, dir).schema) >= 1, "cold load infers with a job")
    assert(jobsDuring(Tables.orders(spark, dir).schema) == 0)
    assert(Tables.orders(spark, dir).count() == 10)
  }

  test("a table rewritten in place with an added column reads the new schema") {
    val dir = tmpDir()
    val path = s"$dir/documents.parquet"
    spark.range(5).toDF("doc_id").write.parquet(path)
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id"))
    spark.range(5).toDF("doc_id").withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(path)
    val df = Tables.documents(spark, dir)
    assert(df.columns.toSeq == Seq("doc_id", "text"))
    assert(df.filter(col("text") === "x").count() == 5)
  }

  test("events with a TIMESTAMP_NTZ or NANOS ts load as TimestampType on every load") {
    val dir = tmpDir()
    spark.sql("SELECT 1L AS event_id, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts")
      .write.parquet(s"$dir/events.parquet")
    for (_ <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).head().getString(0) ==
        "2024-01-02 03:04:05")
    }
    // the fixture stores TIMESTAMP(NANOS)
    for (_ <- 1 to 2)
      assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("two loads of one table are distinct relations and self-join") {
    val a = Tables.events(spark, sf)
    val b = Tables.events(spark, sf)
    val ids = (d: org.apache.spark.sql.DataFrame) =>
      d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val joined = a.as("a").join(b.as("b"), col("a.event_id") === col("b.event_id"))
      .select(col("a.event_id"), col("b.ts"))
    assert(joined.count() == a.count())
  }
}
