package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All query builders take the
  * sfDir explicitly so the same code runs at sf0.001 (smoke), sf0.01
  * (correctness), sf0.1 (bench) and — unchanged — against a partitioned
  * lake at full scale (the path just becomes a table/glob; Spark's
  * DataSourceV2 handles split planning, predicate pushdown and column
  * pruning identically).
  *
  * Every table and scratch load goes through [[parquet]], which infers
  * each path's schema once per JVM and hands it to every later read: a
  * bare `spark.read.parquet` runs a footer-reading Spark job on every
  * load, a fixed cost each sub-second query would pay per table. The
  * memo entry is stamped with (file, length, last-modified) of every
  * file under the path plus the session's values of the parquet
  * settings inference reads, so a rewritten table or a changed setting
  * re-infers instead of serving a stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Every query loads its tables through here, so this is the one
    // choke point where the session that will ANALYZE the plan is known
    // — register the native functions (vec_dot/vec_dist2/flag_bucket)
    // into it, rather than relying on SparkSession.active at Column
    // construction time (which can be a different session on another
    // thread, or absent entirely).
    graft.functions.GraftExtensions.register(spark)
    // The driver regenerates the test tables between rounds and the
    // writer's timestamp physical type has varied: TIMESTAMP(NANOS)
    // (which Spark's parquet reader rejects — read nanos as int64 and
    // truncate to micros, exactly what DuckDB's reader does) and
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4 infers as
    // TIMESTAMP_NTZ by default — disable the inference so it loads as
    // the session-tz TIMESTAMP every query and oracle expects; all
    // graft sessions pin spark.sql.session.timeZone=UTC, so the stored
    // micros are the same instants either way). Both normalizations
    // live at this one choke point so every query builder sees one
    // stable schema regardless of the generator's writer settings.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else if (name == "events" &&
      df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    else df
  }

  /** Load the parquet at `path` (a file, directory or glob) with its
    * schema inferred once per stamp (see the object header). The memo
    * holds the `StructType`, never the DataFrame: every call returns a
    * fresh relation with its own attribute ids, so a query may load one
    * table twice and join the two loads.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = schemaStamp(spark, path)
    val schema = Option(schemas.get(path)).collect { case (`stamp`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(path, stamp -> s)
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** path → (stamp, inferred schema); one entry per distinct path. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaStamp, StructType)]()

  private final case class SchemaStamp(
      files: Seq[(String, Long, Long)], settings: Seq[Option[String]])

  /** The settings that change what parquet schema inference returns. */
  private val inferenceSettings = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private def schemaStamp(spark: SparkSession, path: String): SchemaStamp = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { root =>
      val it = fs.listFiles(root.getPath, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    }
    SchemaStamp(files.sorted, inferenceSettings.map(spark.conf.getOption))
  }

  /** Register every test table as a session temp view under its plain
    * name, so `spark.sql("SELECT … FROM events JOIN …")` works directly
    * — the ANSI-SQL entry point for users coming from the reference's
    * DuckDB-over-the-lake read side (every `oracleSql` in the registry
    * is runnable this way, modulo DuckDB-specific casts). Views go
    * through [[t]], so the timestamp normalizations and native-function
    * registration apply to the SQL surface too.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Spread a table across the session's shuffle parallelism before a
    * compute-heavy per-row stage. The generated test tables are single
    * parquet files (= one input split), which would serialize per-row
    * work like hashing/signatures on one core; one cheap shuffle of the
    * compact rows unlocks all of them. On a real multi-file lake the
    * scan already has enough splits and this is a near-no-op (AQE
    * coalesces it away when the input is already well-partitioned).
    */
  def par(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Materialize-once scratch table for synthesized benchmark inputs:
    * build `df` once per (sfDir, name) into a deterministic /tmp
    * parquet and scan it thereafter — so queries that operate on
    * synthesized wire payloads measure the ENGINE (decode/normalize/
    * fold), not the test-data generator. Synthesis is deterministic,
    * making cross-JVM reuse safe. Purely a harness concern: production
    * inputs are real tables.
    */
  def scratch(s: SparkSession, d: String, name: String)(df: => DataFrame): DataFrame = {
    registeredScratch.synchronized { registeredScratch += name }
    val dir = scratchDir(d, name)
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      dir.getParentFile.mkdirs()
      df.write.mode("overwrite").parquet(dir.toString)
    }
    parquet(s, dir.toString)
  }

  /** Names seen at `scratch` call sites this session — the gate below
    * derives from these, so a new scratch input added anywhere is
    * covered the moment its `prepare()` builder runs (no hand-kept
    * list to drift out of sync with the call sites).
    */
  private val registeredScratch = scala.collection.mutable.Set.empty[String]

  private def scratchDir(d: String, name: String) =
    new java.io.File(s"/tmp/graft_synth/${d.replaceAll("[^A-Za-z0-9.]", "_")}/$name")

  /** Scratch inputs not yet materialized for `d` (empty = warm).
    * Checked against every name registered by a `scratch` call.
    */
  def coldScratch(d: String): Seq[String] =
    registeredScratch.synchronized(registeredScratch.toSeq.sorted)
      .filterNot(n => new java.io.File(scratchDir(d, n), "_SUCCESS").exists())

  /** Release every cached Dataset and persisted RDD in the session.
    * Registered queries persist intermediates that only the RETURNED
    * plan consumes lazily, so they cannot unpersist before returning —
    * the harness reclaims the blocks between queries instead, keeping
    * a long multi-query session free of leaked-cache eviction churn.
    *
    * THE single-app cache contract (central note; KMeans/Select/Dedup/
    * Corpus each rely on it rather than re-documenting): query builders
    * may persist intermediates and return without unpersisting, BECAUSE
    * every entry point that runs many queries in one SparkSession
    * (Verify, Bench, the driver harness) calls this between queries. A
    * library embedder running graft queries inside a long-lived shared
    * session should do the same — or accept that persisted blocks
    * accumulate until executor-storage eviction starts churning.
    */
  def releaseCaches(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
