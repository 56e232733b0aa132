package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class VerifySpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  test("a throwing query leaves no stale output dir and is returned as failed") {
    val out = Files.createTempDirectory("verify").toString
    // a result left by an earlier run of the same query
    val stale = Paths.get(out, "q_boom")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    val failed = Verify.dump(spark, "unused", out, Map(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
      "q_boom" -> ((_: SparkSession, _: String) => throw new IllegalStateException("boom"))))
    assert(failed == Seq("q_boom"))
    assert(!Files.exists(stale), "the failed query's stale output survived")
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
  }
}
