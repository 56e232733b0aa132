package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 2 when
  * any query failed (as `Bench` does), after the dump is complete. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name substrings (dev loop only;
    // the driver always runs the full set)
    val filter: String => Boolean = args.lift(2) match {
      case Some(pats) => name => pats.split(",").exists(name.contains)
      case None => _ => true
    }
    // sampled-tier demotion for the sf1 probe (exact names; see Bench —
    // the driver's gated runs never set this)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter(q => filter(q._1) && !skip.contains(q._1)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(2)
    }
  }

  /** Write each query's result to `<outDir>/<name>` and the oracle SQL
    * of the same names to `<outDir>/oracle_sql.json`. A query's output
    * dir is deleted before it runs, so a query that throws leaves no
    * result of an earlier run behind for the oracle compare to read.
    * Returns the names of the queries that threw.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(out)
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      fs.delete(new Path(out, name), true)
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      Tables.releaseCaches(spark)
      failure
    }
    val oracle = new ObjectMapper().createObjectNode()
    SparkEntry.oracleSql.filter(o => queries.contains(o._1))
      .foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle.toString)
    failed
  }
}
