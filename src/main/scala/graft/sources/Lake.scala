package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lake layout helpers: the landed event layout, the landing metrics,
  * the layout-agnostic JSON probe and the bucketed / z-order rewrites.
  * None of them owns a table — every lake table is a [[Snapshots]]
  * table (atomic manifests, exactly-once epochs, copy-on-write delete
  * and compaction), the Spark form of the reference's
  * Pipelines→R2→Iceberg hop (`/root/reference/src/pipeline.rs:57-143`,
  * `README.md:14-44`). A landing is
  * `Snapshots.commit(spark, dir, Lake.atRest(events.dropDuplicates("uuid")))`
  * in batch and [[Snapshots.streamCommitWriter]] in streaming; the
  * deterministic uuids make `dropDuplicates("uuid")` the
  * idempotent-replay guard for SDK retries (at-least-once with client
  * retry, `pipeline.rs:71-74`).
  */
object Lake {

  /** JSON payload columns eligible for the Variant at-rest layout. */
  private val JsonCols = Seq("properties", "person_properties", "group_properties")

  /** The landed event layout (SURVEY §4, adopted r16): parse the JSON
    * payload columns once at commit so they land as parquet
    * `VariantType` — every downstream probe is a `variant_get` against
    * pre-parsed bytes instead of a `get_json_object` re-parse.
    * `try_parse_json` keeps ingest total: a malformed payload lands as
    * a NULL variant (the row survives; the string layout would have
    * carried the broken text into every downstream parse instead).
    * Readers probe through [[probeJson]], which serves either layout.
    */
  def atRest(events: DataFrame): DataFrame =
    JsonCols.filter(events.columns.contains)
      .foldLeft(events)((d, c) => d.withColumn(c, try_parse_json(col(c))))

  /** Data-quality metrics observed IN a landing's write pass
    * (`Dataset.observe` / CollectMetrics): row count, rows missing a
    * distinct_id or timestamp, and an HLL user estimate ride the sink
    * scan — no second pass over the data. Batch landings read them from
    * an `Observation`, streams from `StreamingQueryProgress.observedMetrics`.
    */
  val LandingMetrics: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    sum(when(col("distinct_id").isNull || col("distinct_id") === "", 1L)
      .otherwise(0L)).as("n_missing_did"),
    sum(when(col("timestamp").isNull, 1L).otherwise(0L)).as("n_missing_ts"),
    approx_count_distinct(col("distinct_id")).as("n_approx_users"))

  /** Layout-agnostic JSON probe: `variant_get` when the column landed
    * as Variant ([[atRest]]), `get_json_object` + cast when it is the
    * string layout — one probe spelling for query authors, whichever
    * layout the table was written with.
    */
  def probeJson(df: DataFrame, column: String, jsonPath: String,
      targetType: String): Column =
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.VariantType =>
        variant_get(col(column), jsonPath, targetType)
      case _ =>
        get_json_object(col(column), jsonPath).cast(targetType)
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
    * and sort within each output file. The layout complement of
    * [[Snapshots.compactSnapshot]] — run it on cold data so point/range
    * queries on either clustering column touch few files at 100 TB.
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      files: Int = 32, bits: Int = 8): Unit =
    df.withColumn("__z", zvalue(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
