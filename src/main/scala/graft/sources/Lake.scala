package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Lake sink/source: the Spark form of the reference's
  * Pipelines→R2→Iceberg hop (`/root/reference/src/pipeline.rs:57-143`,
  * `README.md:14-44`) — the HTTP sink + managed landing collapse into a
  * direct partitioned append.
  *
  * Layout: parquet partitioned by `event_date = days(created_at)` —
  * the same partition transform the Iceberg table would use, so
  * time-range queries prune partitions at the source (`.explain` shows
  * PartitionFilters). In production swap `format("parquet")` for
  * `format("iceberg")` + `toTable`; the offline container has no
  * catalog, and nothing else changes.
  *
  * Idempotency: SDK retries can duplicate events (at-least-once with
  * client retry, `pipeline.rs:71-74`); our deterministic uuids make
  * `dropDuplicates("uuid")` a true idempotent-replay guard — within a
  * batch here, per micro-batch epoch in streaming (with a watermark
  * bound on the dedup state).
  */
object Lake {

  val PartitionCol = "event_date"

  private def withPartition(events: DataFrame): DataFrame =
    events.withColumn(PartitionCol,
      to_date(coalesce(col("timestamp"), col("created_at"))))

  /** JSON payload columns eligible for the Variant at-rest layout. */
  private val JsonCols = Seq("properties", "person_properties", "group_properties")

  /** The DEFAULT at-rest conversion (SURVEY §4, adopted r16): parse the
    * JSON payload columns once at commit so they land as parquet
    * `VariantType` — every downstream probe is a `variant_get` against
    * pre-parsed bytes instead of a `get_json_object` re-parse.
    * `try_parse_json` keeps ingest total: a malformed payload lands as
    * a NULL variant (the row survives; the string layout would have
    * carried the broken text into every downstream parse instead).
    */
  private def toAtRest(df: DataFrame): DataFrame =
    JsonCols.filter(df.columns.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, try_parse_json(col(c))))

  /** Batch append of canonical events. Variant-at-rest by default (the
    * §4 decision, twin-gated in r15: `q_*_variant` prove probe
    * equivalence row-for-row); `variantAtRest = false` keeps the string
    * layout for oracle fixtures and layout comparisons. Readers probe
    * through [[probeJson]], which serves either layout.
    */
  def writeEvents(events: DataFrame, path: String, dedup: Boolean = true,
      variantAtRest: Boolean = true): Unit = {
    val base = if (dedup) events.dropDuplicates("uuid") else events
    withPartition(if (variantAtRest) toAtRest(base) else base)
      .write
      .partitionBy(PartitionCol)
      .mode("append")
      .parquet(path)
  }

  /** Read the lake back (partition pruning on `event_date`). */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Batch append with the VARIANT at-rest layout (SURVEY §4, measured
    * round 14): the JSON payload columns are parsed ONCE here —
    * `parse_json` at commit time — and land as parquet `VariantType`
    * columns, so every downstream probe is a `variant_get` against
    * pre-parsed bytes instead of a `get_json_object` re-parse.
    * Measured 1.2–1.8× on props-heavy scans, growing with data
    * (SURVEY §4: 1.95 s → 1.09 s single-probe at 1M rows).
    * `try_parse_json` keeps ingest total: a malformed payload lands as
    * a NULL variant (the row survives; the string layout would have
    * carried the broken text into every downstream parse instead).
    *
    * Reader contract: probe with `variant_get(col, "$.k", type)`;
    * [[probeJson]] writes queries that run against EITHER layout, so
    * adopting the layout is a write-path switch, not a query rewrite.
    */
  def writeEventsVariant(events: DataFrame, path: String,
      dedup: Boolean = true): Unit =
    writeEvents(events, path, dedup, variantAtRest = true)

  /** Layout-agnostic JSON probe: `variant_get` when the column landed
    * as Variant ([[writeEventsVariant]]), `get_json_object` + cast when
    * it is the string layout — one probe spelling for query authors,
    * whichever layout the table was written with.
    */
  def probeJson(df: DataFrame, column: String, jsonPath: String,
      targetType: String): Column =
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.VariantType =>
        variant_get(col(column), jsonPath, targetType)
      case _ =>
        get_json_object(col(column), jsonPath).cast(targetType)
    }

  /** Compaction (the parquet analogue of Iceberg's
    * `rewrite_data_files`): rewrite each date-partition's accumulated
    * small files into one file — streaming appends produce a file per
    * epoch per partition, and scan planning degrades with file count.
    * Hash-clustering on the partition column sends each date to exactly
    * one task (`parallelism` bounds concurrent tasks, not files/date).
    * Rewrites into a fresh directory (an atomic catalog swap in a real
    * lake; callers point readers at the new path).
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      parallelism: Int = 32): Unit = {
    val in = spark.read.parquet(path)
    // streaming roots carry an epoch_id partition level — compaction
    // folds the epochs away
    val cleaned = if (in.columns.contains("epoch_id")) in.drop("epoch_id") else in
    cleaned
      .repartition(parallelism, col(PartitionCol))
      .write
      .partitionBy(PartitionCol)
      .mode("overwrite")
      .parquet(outPath)
  }

  /** GDPR deletion sweep — the right-to-be-forgotten rewrite every
    * lake must support (Iceberg expresses it as `DELETE FROM` +
    * `rewrite_data_files`; this is the partitioned-parquet form). Given
    * a deletion-subject table (one `key` column — at 100 TB the
    * deletion queue is a table, not a literal list), the sweep:
    *
    *   1. finds the AFFECTED date partitions with one pruned, pushed
    *      semi-join scan (the subject table broadcasts),
    *   2. rewrites ONLY those partitions through a broadcast anti-join
    *      into the output tree,
    *   3. carries untouched partitions across as parallel FILESYSTEM
    *      copies — no decode, no shuffle. In a CATALOG lake (Iceberg)
    *      this step is zero work: untouched data files are simply
    *      retained by the new snapshot, which is the deployment shape
    *      at 100 TB; the copy here is the no-catalog analogue, and is
    *      byte-sized by the untouched data, not by the subjects,
    *
    * and returns the per-partition audit (rows before/after/deleted) a
    * compliance job must file. DECODE cost scales with the subjects'
    * data footprint; with a catalog, total cost does too.
    */
  def deleteSweep(spark: SparkSession, path: String, outPath: String,
      subjects: DataFrame, key: String = "distinct_id"): DataFrame = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val lake = spark.read.parquet(path)
    val subj = subjects.select(col(key)).distinct()
    val affectedRaw = graft.HeapWatermark.recordRows(
      "delete_sweep_partitions",
      lake.join(broadcast(subj), Seq(key), "left_semi")
        .select(col(PartitionCol)).distinct().collect()).map(r => Option(r.get(0)))
    // a null partition (Hive default dir) cannot be expressed by the
    // string filters below — if any subject row lives there, that
    // partition joins the rewrite set too (copying it through would be
    // a right-to-be-forgotten violation)
    val hasNull = affectedRaw.exists(_.isEmpty)
    val affected = affectedRaw.flatten.map(_.toString).sorted
    val rewriteDirNames = affected.map(p => s"$PartitionCol=$p").toSet ++
      (if (hasNull) Set(s"$PartitionCol=__HIVE_DEFAULT_PARTITION__") else Set.empty)
    def affectedPred = {
      val inSet = col(PartitionCol).isin(affected.toSeq: _*)
      if (hasNull) inSet || col(PartitionCol).isNull else inSet
    }
    // the lake path's OWN filesystem — not the default FS
    val srcFs = new HPath(path).getFileSystem(conf)
    val dstFs = new HPath(outPath).getFileSystem(conf)
    dstFs.mkdirs(new HPath(outPath))
    val untouched = srcFs.listStatus(new HPath(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
      .filterNot(st => rewriteDirNames.contains(st.getPath.getName))
    java.util.Arrays.stream(untouched).parallel().forEach { st =>
      FileUtil.copy(srcFs, st.getPath, dstFs,
        new HPath(outPath, st.getPath.getName), false, false, conf)
    }
    if (affected.nonEmpty || hasNull) {
      // rewrite ONLY the affected partitions (partition-pruned scan)
      lake.filter(affectedPred)
        .join(broadcast(subj), Seq(key), "left_anti")
        .write.partitionBy(PartitionCol).mode("append").parquet(outPath)
    }
    val before = lake.filter(affectedPred)
      .groupBy(col(PartitionCol)).agg(count(lit(1)).as("rows_before"))
    // all-rows-deleted sweeps leave no parquet under outPath — the
    // audit's "after" side is then the empty frame, not a read error
    val after = scala.util.Try(spark.read.parquet(outPath))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], lake.schema))
      .filter(affectedPred)
      .groupBy(col(PartitionCol)).agg(count(lit(1)).as("rows_after"))
    before.join(after, Seq(PartitionCol), "left")
      .select(col(PartitionCol), col("rows_before"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        (col("rows_before") - coalesce(col("rows_after"), lit(0L))).as("rows_deleted"))
  }

  /** Bucketed lake layout — the co-located-join strategy for the
    * tables that are perpetually joined on the same key (events ⋈
    * persons on the person key, events ⋈ events self-joins): hash
    * -bucket both sides into the same bucket count at WRITE time, and
    * every subsequent equi-join on that key plans with ZERO exchanges
    * — at 100 TB the join shuffle, normally the dominant cost, is
    * paid once at ingest instead of once per query. `sortBy` makes
    * each bucket file sorted so the sort-merge join needs no sort
    * either. (Iceberg expresses the same layout as a `bucket(n, key)`
    * partition transform; the catalog-table form here is what the
    * offline container supports.)
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32, path: Option[String] = None): Unit = {
    val w = df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Batch append with data-quality metrics observed IN the write pass
    * (`Dataset.observe` / CollectMetrics): row count, rows missing a
    * distinct_id or timestamp, and an HLL user estimate ride the sink
    * scan for free — no second pass over the data, which at 100 TB is
    * the difference between monitoring and doubling the job. Returns
    * the observed metrics row (name → value via its schema).
    *
    * Batch `observe` surfaces through a QueryExecutionListener, which
    * Spark posts asynchronously — the bounded wait below is the
    * documented pattern for synchronous callers (a production pipeline
    * would stream these to its metrics sink from the listener itself).
    */
  def writeEventsObserved(events: DataFrame, path: String,
      timeoutMs: Long = 30000): Row =
    observedWrite(events, path, mode = "append", timeoutMs).getOrElse(
      throw new IllegalStateException("observed metrics not delivered"))

  private def observedWrite(events: DataFrame, path: String, mode: String,
      timeoutMs: Long): Option[Row] = {
    val spark = events.sparkSession
    // the observation name is per-call unique: the listener is
    // session-global, so two concurrent ingests on one SparkSession
    // sharing a name would deliver one caller the other's metrics
    val obsName = s"ingest_metrics_${java.util.UUID.randomUUID().toString.take(8)}"
    @volatile var metrics: Option[Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(obsName).foreach(r => metrics = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      withPartition(toAtRest(events.dropDuplicates("uuid")))
        .observe(obsName,
          count(lit(1)).as("n_rows"),
          sum(when(col("distinct_id").isNull || col("distinct_id") === "", 1L)
            .otherwise(0L)).as("n_missing_did"),
          sum(when(col("timestamp").isNull, 1L).otherwise(0L)).as("n_missing_ts"),
          approx_count_distinct(col("distinct_id")).as("n_approx_users"))
        .write
        .partitionBy(PartitionCol)
        .mode(mode)
        .parquet(path)
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (metrics.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      metrics
    } finally spark.listenerManager.unregister(listener)
  }

  /** Morton (z-order) interleave of the low `bits` of two non-negative
    * int columns — the multi-dimensional clustering key behind
    * Delta/Iceberg `OPTIMIZE ZORDER`: sorting by z keeps BOTH
    * dimensions locally dense, so per-file min/max ranges stay tight
    * on both and scans filtered on EITHER column prune files. A plain
    * bitwise expression chain — fully codegen'd, engine-portable.
    */
  def zvalue(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(1), 2 * b + 1)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(1), 2 * b))
    }.reduceLeft(_ bitwiseOR _)

  /** Z-order-clustered rewrite: range-partition by the interleaved key
    * and sort within each output file. The lake-layout complement of
    * [[compact]] — run it on cold partitions so point/range queries on
    * either clustering column touch few files at 100 TB.
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      files: Int = 32, bits: Int = 8): Unit =
    df.withColumn("__z", zvalue(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Streaming append, idempotent under epoch replay: each micro-batch
    * lands in its own `epoch_id=<batchId>` partition directory with
    * OVERWRITE semantics, so a failure-replayed epoch rewrites its own
    * output instead of appending duplicates (a bare parquet append
    * would be at-least-once — the checkpoint replays the last epoch
    * after a crash). Within an epoch, uuid dedup drops SDK retries.
    * The overwrite itself converges on a successful retry (standard
    * foreachBatch idempotent-sink pattern; an Iceberg sink would make
    * the swap atomic via the catalog commit).
    *
    * `epoch_id` surfaces as an extra partition column on read;
    * [[compact]] rewrites it away.
    */
  def streamWriter(events: DataFrame, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        withPartition(toAtRest(batch.dropDuplicates("uuid")))
          .write
          .partitionBy(PartitionCol)
          .mode("overwrite")
          .parquet(s"$path/epoch_id=$batchId")
      }

  /** [[streamWriter]] with per-epoch data-quality metrics — the
    * streaming face of [[writeEventsObserved]]: every micro-batch's
    * idempotent epoch write carries the same CollectMetrics
    * observation (row count, missing distinct_id/timestamp, HLL user
    * estimate) IN its sink pass, and the metrics row is handed to
    * `onMetrics(batchId, row)` as each epoch commits. No second pass
    * over the batch; at 100 TB monitoring stays free.
    *
    * The callback fires from the micro-batch thread AFTER the epoch's
    * files are written but before the epoch commits to the checkpoint
    * — so a crash between write and commit replays the epoch and the
    * callback may observe the same batchId twice (at-least-once
    * delivery, same as the sink's own overwrite-idempotency contract;
    * keyed metric sinks dedupe on batchId).
    *
    * Metrics delivery rides the async QueryExecutionListener bus; on a
    * loaded bus it can miss the bounded wait even though the epoch's
    * files are already fully written. In the streaming path that is a
    * MISSED OBSERVATION, not a write failure — the epoch is logged as
    * unobserved and the stream continues, rather than aborting a query
    * whose data landed (metrics are monitoring, the write is the job).
    */
  def streamWriterObserved(events: DataFrame, path: String, checkpoint: String,
      onMetrics: (Long, Row) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        observedWrite(batch, s"$path/epoch_id=$batchId",
            mode = "overwrite", timeoutMs = 30000) match {
          case Some(m) => onMetrics(batchId, m)
          case None => org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"epoch $batchId written but observed metrics not delivered " +
              "within the wait — epoch unobserved, stream continues")
        }
      }
}
