package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Snapshot/manifest table format over Parquet — the offline analogue
  * of the Iceberg landing the reference targets
  * (`/root/reference/README.md:5,237-258`): every mutation is an
  * ATOMIC, versioned metadata commit over immutable data files, which
  * is what buys a 100 TB lake its core guarantees:
  *
  *   - **readers never see a partial write** — a query plans against
  *     one manifest's closed file list, concurrent appends land in
  *     files no current manifest references;
  *   - **time travel / reproducibility** — `readAt(v)` /
  *     `readAsOf(ts)` replan any historical snapshot, so a training
  *     run can pin the exact corpus version it saw;
  *   - **O(metadata) mutation** — compaction, rollback and
  *     copy-on-write delete commit a new FILE LIST; untouched data is
  *     never copied — with a manifest, retention is free;
  *   - **optimistic concurrency** — two writers racing to version N:
  *     one wins the atomic claim, the loser gets
  *     [[Snapshots.ConcurrentCommitException]] and retries on the new
  *     current (the Iceberg catalog-swap contract, expressed with
  *     filesystem primitives the offline container has).
  *
  * Layout under the table root:
  * {{{
  *   data/<commit-uuid>/part-*.parquet   immutable; one dir per commit
  *   metadata/v<N>.manifest.json         snapshot N: file list + summary
  *   metadata/v<N>.lock                  transient commit claim
  * }}}
  *
  * Manifests hold table-root-relative paths, so the table moves/clones
  * as a unit. Row counts come from parquet FOOTERS (no data pass).
  * The real Iceberg format adds column stats per file and a catalog
  * for the pointer swap; the jars aren't available offline (SURVEY
  * §2.A K2) — this reproduces the semantics the engine depends on,
  * and `format("iceberg")` replaces it in production unchanged.
  */
object Snapshots {

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** A lock older than this is reclaimable: a healthy commit holds its
    * lock for the duration of one manifest write (milliseconds), so a
    * lock this stale belongs to a writer that crashed between claim and
    * publish. Without reclamation every future commit computes the same
    * next version, fails the claim, and the table is permanently
    * unwritable. 15 min is far above any plausible manifest-write pause
    * (GC, FS hiccup) and far below operational patience.
    */
  val LockStaleMs: Long = 15L * 60 * 1000

  /** One committed snapshot (metadata only — `files` are table-root
    * -relative parquet paths).
    */
  final case class Snapshot(
      version: Long,
      parentVersion: Long,
      timestampMs: Long,
      operation: String,
      rowCount: Long,
      files: Seq[String],
      /** Per-file INT64 column ranges, cached at commit time from the
        * parquet footers (the Iceberg manifest-stats contract): rel
        * path → column → (min, max). [[scanFiles]] prunes from THIS —
        * no file is opened at plan time; files committed before stats
        * existed simply have no entry (footer fallback).
        */
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      /** Table properties, inherited parent→child through EVERY commit
        * (compaction, delete, rollback included) and only overridden
        * explicitly. Carries durable table-level state that must
        * survive [[expire]] — e.g. the streaming epoch high-water mark
        * ([[Snapshots.EpochHighWater]]), which makes exactly-once
        * replay detection an O(1) read of the CURRENT manifest instead
        * of a scan of all history (which expiry can truncate).
        */
      properties: Map[String, String] = Map.empty)

  /** Property key: highest streaming batchId ever committed (append or
    * merge epochs share one sequence per checkpoint — per table here).
    * A replayed epoch has batchId <= this and SKIPS, even after the
    * epoch's own manifest was expired.
    */
  private[sources] val EpochHighWater = "epoch.high-water"

  private val M = new ObjectMapper()

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Long) =
    new HPath(dir, s"metadata/v$v.manifest.json")

  private def committedVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val meta = new HPath(dir, "metadata")
    val f = fs(spark, dir)
    if (!f.exists(meta)) Seq.empty
    else f.listStatus(meta).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith("v") && n.endsWith(".manifest.json"))
          n.stripPrefix("v").stripSuffix(".manifest.json").toLongOption
        else None
      }.sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    committedVersions(spark, dir).lastOption

  /** All committed snapshots, oldest first — the `table$snapshots`
    * metadata view.
    */
  def snapshots(spark: SparkSession, dir: String): Seq[Snapshot] =
    committedVersions(spark, dir).map(v => readManifest(spark, dir, v))

  /** Parse one metadata JSON file (manifest or staging manifest). */
  private def readJson(spark: SparkSession, dir: String, p: HPath) = {
    val in = fs(spark, dir).open(p)
    try M.readTree(in) finally in.close()
  }

  /** Write `df` into a fresh immutable `data/<id>` directory: one write
    * job and one listing. Returns the id and the directory's parquet
    * files as table-root-relative, sorted paths.
    */
  private def writeDataFiles(spark: SparkSession, dir: String, df: DataFrame)
      : (String, Seq[String]) = {
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/$id"
    df.write.mode("overwrite").parquet(new HPath(dir, dataRel).toString)
    val files = fs(spark, dir).listStatus(new HPath(dir, dataRel)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => s"$dataRel/${st.getPath.getName}")
      .sorted
    (id, files)
  }

  private def readManifest(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val n = readJson(spark, dir, manifestPath(dir, v))
    val stats: Map[String, Map[String, (Long, Long)]] =
      Option(n.get("stats")).map { sn =>
        sn.properties().asScala.map { e =>
          e.getKey -> e.getValue.properties().asScala.map { c =>
            c.getKey -> (c.getValue.get(0).asLong(), c.getValue.get(1).asLong())
          }.toMap
        }.toMap
      }.getOrElse(Map.empty)
    val props: Map[String, String] =
      Option(n.get("properties")).map { pn =>
        pn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)
    Snapshot(
      version = n.get("version").asLong(),
      parentVersion = n.get("parent_version").asLong(),
      timestampMs = n.get("timestamp_ms").asLong(),
      operation = n.get("operation").asText(),
      rowCount = n.get("row_count").asLong(),
      files = n.get("files").elements().asScala.map(_.asText()).toSeq,
      stats = stats,
      properties = props)
  }

  /** Parquet-footer row count — metadata-only, no data pass (the
    * Iceberg manifest carries these per file; we read them from the
    * footers the files already have).
    */
  private def footerRows(spark: SparkSession, dir: String, rel: String): Long =
    footerInfo(spark, dir, rel)._1

  /** One footer open: (row count, INT64 column → (min, max) over all
    * row groups). Read at COMMIT time and cached in the manifest, so
    * [[scanFiles]] never opens a file to plan.
    */
  private def footerInfo(spark: SparkSession, dir: String, rel: String)
      : (Long, Map[String, (Long, Long)]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(dir, rel), conf))
    try {
      val blocks = rd.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val ranges = blocks.flatMap { b =>
        b.getColumns.asScala.flatMap { c =>
          Option(c.getStatistics).collect {
            case s: org.apache.parquet.column.statistics.LongStatistics
                if !s.isEmpty =>
              c.getPath.toDotString -> (s.getMin, s.getMax)
          }
        }
      }
      val stats = ranges.groupBy(_._1).map { case (col, rs) =>
        col -> (rs.map(_._2._1).min, rs.map(_._2._2).max)
      }
      (rows, stats)
    } finally rd.close()
  }

  /** Write `df` as a new immutable commit directory and atomically
    * publish the next manifest. `replace = false` appends the new
    * files to the parent's list; `replace = true` makes the new files
    * the ENTIRE table (compaction / rewrite). The data write happens
    * BEFORE the claim — on a lost race the files are orphans (never
    * referenced; [[expire]]'s orphan sweep or a retry reuses nothing),
    * exactly Iceberg's failed-commit story.
    *
    * A new file whose footer counts 0 rows is deleted, not committed
    * (a stream's no-data epoch writes one), unless the snapshot would
    * otherwise list no file at all: one file then stays to carry the
    * schema. An empty append to a table with files therefore publishes
    * a metadata-only manifest — the parent's file list, and the
    * properties (the epoch high-water) advanced.
    */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
      operation: String = "append", replace: Boolean = false,
      setProps: Map[String, String] = Map.empty): Snapshot = {
    val (id, written) = writeDataFiles(spark, dir, df)
    val info = written.map(rel => rel -> footerInfo(spark, dir, rel)).toMap
    val (empty, withRows) = written.partition(info(_)._1 == 0L)
    val keepOne = withRows.isEmpty && (replace || !currentVersion(spark, dir).exists(v =>
      readManifest(spark, dir, v).files.nonEmpty))
    val dropped = if (keepOne) empty.drop(1) else empty
    val f = fs(spark, dir)
    if (dropped.nonEmpty && dropped.size == written.size) f.delete(new HPath(dir, s"data/$id"), true)
    else dropped.foreach(rel => f.delete(new HPath(dir, rel), false))
    commitFiles(spark, dir, written.filterNot(dropped.toSet), operation, replace,
      setProps, info)
  }

  /** Publish a manifest referencing `newFiles` (+ the parent's files
    * unless `replace`). The claim is `createNewFile` on the lock —
    * atomic on every Hadoop FS — and the manifest itself appears via
    * an atomic rename, so readers only ever see complete manifests.
    */
  private[sources] def commitFiles(spark: SparkSession, dir: String,
      newFiles: Seq[String], operation: String, replace: Boolean,
      setProps: Map[String, String] = Map.empty,
      footers: Map[String, (Long, Map[String, (Long, Long)])] = Map.empty): Snapshot = {
    val f = fs(spark, dir)
    f.mkdirs(new HPath(dir, "metadata"))
    val parent = currentVersion(spark, dir)
    val v = parent.getOrElse(0L) + 1
    val lock = new HPath(dir, s"metadata/v$v.lock")
    if (!f.createNewFile(lock)) {
      // Claim failed. A LIVE competitor should win — but a lock left by
      // a writer that crashed between claim and publish would otherwise
      // wedge the table forever (no manifest ever appears at v, so
      // every future commit recomputes v and loses). Reclaim iff the
      // lock is stale AND v was never published, then retry the claim
      // once; a fresh lock stays authoritative.
      val stale = !f.exists(manifestPath(dir, v)) &&
        (try f.getFileStatus(lock).getModificationTime <
          System.currentTimeMillis() - LockStaleMs
         catch { case _: java.io.FileNotFoundException => true })
      val reclaimed = stale && f.delete(lock, false) && f.createNewFile(lock)
      if (!reclaimed)
        throw new ConcurrentCommitException(
          s"version $v already claimed (concurrent writer) — reread current and retry")
    }
    try {
      // the racing winner may have published v and released its lock
      // between our currentVersion read and our claim — the manifest,
      // not the lock, is the commit
      if (f.exists(manifestPath(dir, v)))
        throw new ConcurrentCommitException(
          s"version $v was committed while claiming — reread current and retry")
      val parentSnap = parent.map(p => readManifest(spark, dir, p))
      val base: Seq[String] =
        if (replace) Seq.empty else parentSnap.map(_.files).getOrElse(Seq.empty)
      val files = base ++ newFiles
      // footers are read only for files with no inherited manifest
      // entry (O(commit), not O(table)) and not already read by the
      // caller: carried files keep the stats the commit that created
      // them cached
      val parentStats = parentSnap.map(_.stats).getOrElse(Map.empty)
      val freshInfo: Map[String, (Long, Map[String, (Long, Long)])] =
        newFiles.filterNot(parentStats.contains).map { rel =>
          rel -> footers.getOrElse(rel, footerInfo(spark, dir, rel))
        }.toMap
      def rowsOf(rel: String): Long =
        freshInfo.get(rel).map(_._1).getOrElse(footerRows(spark, dir, rel))
      val newRows = newFiles.map(rowsOf).sum
      val rows =
        if (replace) newRows else parentSnap.map(_.rowCount).getOrElse(0L) + newRows
      val stats: Map[String, Map[String, (Long, Long)]] =
        files.flatMap { rel =>
          freshInfo.get(rel).map(i => rel -> i._2)
            .orElse(parentStats.get(rel).map(rel -> _))
        }.toMap
      // properties inherit through every commit so durable table state
      // (epoch high-water) survives compaction/rollback AND expiry
      val props = parentSnap.map(_.properties).getOrElse(Map.empty) ++ setProps
      val snap = Snapshot(v, parent.getOrElse(0L), System.currentTimeMillis(),
        operation, rows, files, stats, props)
      val node: ObjectNode = M.createObjectNode()
      node.put("version", snap.version)
      node.put("parent_version", snap.parentVersion)
      node.put("timestamp_ms", snap.timestampMs)
      node.put("operation", snap.operation)
      node.put("row_count", snap.rowCount)
      val arr: ArrayNode = node.putArray("files")
      snap.files.foreach(arr.add)
      val statsNode: ObjectNode = node.putObject("stats")
      snap.files.foreach { rel =>
        snap.stats.get(rel).foreach { cols =>
          val f: ObjectNode = statsNode.putObject(rel)
          cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
            val a: ArrayNode = f.putArray(c); a.add(lo); a.add(hi)
          }
        }
      }
      if (snap.properties.nonEmpty) {
        val propsNode: ObjectNode = node.putObject("properties")
        snap.properties.toSeq.sortBy(_._1).foreach { case (k, vv) =>
          propsNode.put(k, vv)
        }
      }
      val tmp = new HPath(dir, s"metadata/.v$v.tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(M.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
      finally out.close()
      if (!f.rename(tmp, manifestPath(dir, v)))
        throw new IllegalStateException(s"manifest publish rename failed for v$v")
      snap
    } finally f.delete(lock, false)
  }

  /** Read the current snapshot (empty-schema error if none committed). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir")))

  /** Time travel to an exact version. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    require(committedVersions(spark, dir).contains(version),
      s"version $version is not committed (expired or never existed) under $dir")
    val snap = readManifest(spark, dir, version)
    if (snap.files.isEmpty)
      spark.emptyDataFrame
    else
      // mergeSchema = additive schema evolution: a snapshot whose new
      // files carry added columns still plans with older files (their
      // rows read as null for the new columns), and time travel to a
      // pre-evolution version sees the narrow schema — files, and
      // therefore schemas, are pinned per manifest (the Iceberg
      // add-column contract; drops/renames need column ids the bare
      // parquet footer lacks, so they stay out of scope here)
      spark.read.option("mergeSchema", "true")
        .parquet(snap.files.map(r => new HPath(dir, r).toString): _*)
  }

  /** Time travel to the newest snapshot committed at or before `tsMs`. */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame = {
    val snap = snapshots(spark, dir).filter(_.timestampMs <= tsMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMs under $dir"))
    readAt(spark, dir, snap.version)
  }

  /** Roll the table back to `toVersion` AS A NEW COMMIT (Iceberg
    * semantics: rollback moves the table pointer forward to a snapshot
    * with the old file list — history is never rewritten).
    */
  def rollback(spark: SparkSession, dir: String, toVersion: Long): Snapshot = {
    val target = readManifest(spark, dir, toVersion)
    commitFiles(spark, dir, target.files, s"rollback[$toVersion]", replace = true)
  }

  /** Compaction as a snapshot: rewrite the current file list into
    * `files` output files and commit the REPLACEMENT manifest. Old
    * files stay on disk referenced by old manifests — time travel
    * across compaction keeps working until [[expire]] reclaims them
    * (the `rewrite_data_files` contract).
    */
  def compactSnapshot(spark: SparkSession, dir: String, files: Int = 8): Snapshot =
    commit(spark, dir, read(spark, dir).repartition(files),
      operation = "compact", replace = true)

  /** Copy-on-write DELETE: rewrite ONLY the data files that contain
    * matching rows; every untouched file is carried into the new
    * manifest BY REFERENCE (zero copy — the catalog-lake form of a
    * GDPR right-to-be-forgotten sweep). Affected files are found with one
    * `input_file_name()` scan of the predicate columns; at 100 TB
    * the predicate's pushed filters prune most row groups before the
    * match ever evaluates.
    */
  def deleteWhere(spark: SparkSession, dir: String, pred: Column): Snapshot = {
    val cur = readManifest(spark, dir, currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir")))
    val df = read(spark, dir)
    val affectedUris = graft.HeapWatermark.recordRows(
      "snapshots.delete_affected_files",
      df.filter(pred)
        .select(input_file_name().as("f")).distinct()
        .collect()).map(_.getString(0)).toSet // bounded by file count
    // suffix-match on the commit-relative path: input_file_name's URI
    // rendering (file:/// vs file:/) varies by FS; the
    // data/<commit-uuid>/<name> tail is unique by construction
    val affectedRel = cur.files.filter(rel =>
      affectedUris.exists(_.endsWith("/" + rel)))
    if (affectedRel.isEmpty)
      return commitFiles(spark, dir, cur.files, "delete[noop]", replace = true)
    val keep = cur.files.diff(affectedRel)
    // rewrite the surviving rows OF THE AFFECTED FILES only.
    // SQL DELETE removes rows where pred IS TRUE; rows where it
    // evaluates NULL must SURVIVE. A bare !pred maps NULL→NULL and the
    // filter would silently drop them — keep rows where pred is not true.
    val (_, rewritten) = writeDataFiles(spark, dir,
      spark.read.parquet(affectedRel.map(r => new HPath(dir, r).toString): _*)
        .filter(!coalesce(pred, lit(false))))
    commitFiles(spark, dir, keep ++ rewritten, "delete", replace = true)
  }

  /** MERGE INTO (copy-on-write upsert): rows of `source` REPLACE
    * current rows with the same `keyCols` value; source rows with no
    * match are inserts. Only data files that actually CONTAIN a
    * matched key are rewritten — every untouched file carries into the
    * new manifest by reference, so the commit cost is
    * O(matched files + |source|), not O(table) (the Iceberg
    * copy-on-write `MERGE INTO` contract; at 100 TB the matched-file
    * probe is a key join whose source side is typically broadcast,
    * and partition/row-group pruning on the key columns bounds the
    * scan).
    *
    * `source` must carry the table's schema (checked by the union).
    * Matched-row replacement is whole-row (UPDATE SET * semantics).
    */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], operation: String = "merge",
      setProps: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    val cur = readManifest(spark, dir, currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir")))
    val keys = keyCols.map(col)
    // distinct source keys: the probe side of the matched-file scan.
    // A duplicate-keyed source would make "replace" ambiguous — reject.
    val srcKeys = source.select(keys: _*).distinct()
    require(srcKeys.count() == source.count(),
      s"mergeInto source has duplicate keys on (${keyCols.mkString(",")})")
    val df = read(spark, dir)
    val affectedUris = graft.HeapWatermark.recordRows(
      "snapshots.merge_affected_files",
      df.select(keys :+ input_file_name().as("f"): _*)
        .join(srcKeys, keyCols)
        .select(col("f")).distinct()
        .collect()).map(_.getString(0)).toSet // bounded by file count
    val affectedRel = cur.files.filter(rel =>
      affectedUris.exists(_.endsWith("/" + rel)))
    val keep = cur.files.diff(affectedRel)
    // rewrite = affected files' UNMATCHED rows + the whole source
    // (matched rows re-enter as their source version; the rest insert)
    val rewrite =
      if (affectedRel.isEmpty) source.select(df.columns.map(col): _*)
      else spark.read.parquet(affectedRel.map(r => new HPath(dir, r).toString): _*)
        .join(srcKeys, keyCols, "left_anti")
        .unionByName(source.select(df.columns.map(col): _*))
    val (_, rewritten) = writeDataFiles(spark, dir, rewrite)
    commitFiles(spark, dir, keep ++ rewritten, operation, replace = true, setProps)
  }

  /** Exactly-once streaming MERGE — the keyed-upsert twin of
    * [[commitEpoch]]: each micro-batch UPSERTS its rows by `keyCols`
    * under an epoch-tagged commit; a failure-replayed epoch finds its
    * tag already committed and SKIPS. This is how a streaming pipeline
    * maintains a keyed SERVING table (persons, groups, feature state)
    * in the snapshot lake: per epoch one COW merge, readers replan
    * atomically, history stays time-travelable per epoch. The first
    * epoch on an empty table is a plain create carrying the same tag.
    * Duplicate keys within one batch must be resolved upstream (the
    * micro-batch is the unit of last-write-wins).
    */
  def mergeEpoch(batch: DataFrame, dir: String, keyCols: Seq[String],
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val tag = s"merge[epoch=$batchId]"
    val hwProps = Map(EpochHighWater -> batchId.toString)
    if (epochAlreadyCommitted(spark, dir, batchId, tag)) () // replayed epoch
    else if (currentVersion(spark, dir).isEmpty) {
      commit(spark, dir, batch, operation = tag, setProps = hwProps); ()
    } else {
      mergeInto(spark, dir, batch, keyCols, operation = tag, setProps = hwProps); ()
    }
  }

  /** Streaming sink driving [[mergeEpoch]] — upsert-by-key per epoch. */
  def streamMergeWriter(updates: DataFrame, dir: String, checkpoint: String,
      keyCols: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeEpoch(batch, dir, keyCols, batchId)
      }

  /** Incremental APPEND scan — the rows added by the snapshots in
    * (`fromVersion`, `toVersion`]: each append commit's new files are
    * exactly `files(v) − files(parent)`, so the read plans only the
    * delta (O(new data), never a table rescan — the Iceberg
    * incremental-scan contract). Throws if the range contains a
    * non-append snapshot (delete/merge/compact/rollback rewrite file
    * lists; their row-level delta is [[changesBetween]]'s job — same
    * split Iceberg makes).
    */
  def readIncremental(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val versions = committedVersions(spark, dir)
      .filter(v => v > fromVersion && v <= toVersion)
    val added = versions.flatMap { v =>
      val snap = readManifest(spark, dir, v)
      require(snap.operation.startsWith("append"),
        s"v$v is '${snap.operation}', not an append — use changesBetween for row-level CDC")
      val parentFiles =
        if (snap.parentVersion == 0L) Set.empty[String]
        else readManifest(spark, dir, snap.parentVersion).files.toSet
      snap.files.filterNot(parentFiles)
    }
    if (added.isEmpty) read(spark, dir).filter(lit(false))
    else spark.read.parquet(added.map(r => new HPath(dir, r).toString): _*)
  }

  /** Row-level CDC between two committed versions, computed from the
    * MANIFEST diff: files carried by reference are unchanged by
    * construction, so only files present in exactly one of the two
    * snapshots are ever scanned — O(changed data), not O(table).
    * Emits each changed row with `_change_type` `insert`/`delete`
    * (an update appears as its delete+insert pair — the Iceberg
    * `create_changelog_view` shape). Multiset semantics via
    * `exceptAll`: a row moved untouched between files (compaction)
    * cancels out and emits nothing.
    */
  def changesBetween(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val from = readManifest(spark, dir, fromVersion)
    val to = readManifest(spark, dir, toVersion)
    val onlyFrom = from.files.diff(to.files)
    val onlyTo = to.files.diff(from.files)
    // mergeSchema: an additive schema-evolution commit means the two
    // sides' files can carry different widths — each side must read
    // with the merged schema (as readAt does) or exceptAll throws
    def rows(rels: Seq[String]): DataFrame =
      if (rels.isEmpty) read(spark, dir).filter(lit(false))
      else spark.read.option("mergeSchema", "true")
        .parquet(rels.map(r => new HPath(dir, r).toString): _*)
    val insRaw = rows(onlyTo)
    val delRaw = rows(onlyFrom)
    // align columns across the evolution boundary: null-fill whichever
    // side is narrower so exceptAll compares the union schema (an old
    // row's missing column IS null post-evolution — same as readAt)
    val allCols = (insRaw.columns ++ delRaw.columns).distinct
    val typeOf = (insRaw.schema.fields ++ delRaw.schema.fields)
      .map(fd => fd.name -> fd.dataType).toMap
    def widen(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(allCols.map(c =>
        if (have(c)) col(c) else lit(null).cast(typeOf(c)).as(c)): _*)
    }
    val insW = widen(insRaw)
    val delW = widen(delRaw)
    val ins = insW.exceptAll(delW).withColumn("_change_type", lit("insert"))
    val del = delW.exceptAll(insW).withColumn("_change_type", lit("delete"))
    ins.unionByName(del)
  }

  /** Expire history: keep the newest `keepLast` manifests, delete the
    * older ones, then delete every data file referenced ONLY by the
    * expired manifests (plus orphaned commit dirs from lost commit
    * races). Returns the deleted paths. After expiry, [[readAt]] on an
    * expired version fails loudly — retention is an explicit contract,
    * not silent data loss.
    */
  def expire(spark: SparkSession, dir: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val versions = committedVersions(spark, dir)
    val (old, kept) = versions.splitAt(math.max(0, versions.size - keepLast))
    if (old.isEmpty) return Seq.empty
    val f = fs(spark, dir)
    val keptFiles = kept.flatMap(v => readManifest(spark, dir, v).files).toSet
    val oldFiles = old.flatMap(v => readManifest(spark, dir, v).files).toSet
    val doomedData = (oldFiles -- keptFiles).toSeq.sorted
    val doomedManifests = old.map(v => s"metadata/v$v.manifest.json")
    (doomedData ++ doomedManifests).foreach(rel =>
      f.delete(new HPath(dir, rel), false))
    // commit dirs whose every file is gone collapse to empty dirs
    val dataRoot = new HPath(dir, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).foreach { st =>
        if (st.isDirectory && f.listStatus(st.getPath).isEmpty)
          f.delete(st.getPath, false)
      }
    doomedData ++ doomedManifests
  }

  /** EXACTLY-ONCE streaming sink: each micro-batch epoch commits one
    * snapshot whose operation tag embeds the batch id. A
    * failure-replayed epoch (the checkpoint re-delivers the last
    * uncommitted batch) finds its tag already committed and SKIPS —
    * the manifest is the transaction log, so a replay never
    * duplicates (the Iceberg streaming-commit contract). Readers
    * concurrently replanning `read(dir)` never see a half-written
    * epoch: its files are unreferenced until the atomic manifest
    * publish.
    */
  def streamCommitWriter(events: DataFrame, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitEpoch(batch, dir, batchId)
      }

  /** The idempotent epoch commit behind [[streamCommitWriter]] —
    * exposed for direct testing of the replay contract.
    */
  def commitEpoch(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val tag = s"append[epoch=$batchId]"
    if (epochAlreadyCommitted(spark, dir, batchId, tag)) () // replayed epoch
    else {
      commit(spark, dir, batch, operation = tag,
        setProps = Map(EpochHighWater -> batchId.toString)); ()
    }
  }

  /** Replay detection for epoch commits. Primary check: the epoch
    * high-water property on the CURRENT manifest — O(1), and immune to
    * [[expire]] truncating the manifest whose operation tag carried the
    * epoch (re-committing an expired-but-real epoch would duplicate
    * data). Checkpointed batchIds are strictly monotonic per sink, so
    * `batchId <= hw` ⇔ replayed. Legacy fallback (tables whose current
    * manifest predates the property): the old operation-tag scan.
    */
  private def epochAlreadyCommitted(spark: SparkSession, dir: String,
      batchId: Long, tag: String): Boolean =
    currentVersion(spark, dir).exists { cur =>
      readManifest(spark, dir, cur).properties.get(EpochHighWater) match {
        case Some(hw) => batchId <= hw.toLong
        case None => snapshots(spark, dir).exists(_.operation == tag)
      }
    }

  /** Stats-pruned scan — the manifest-side partition/file pruning a
    * catalog lake does before Spark ever lists a file: drop every data
    * file whose footer [lo, hi] range for `column` (an INT64 column —
    * ids, epoch micros, epoch days) cannot intersect the predicate
    * range, then plan only the survivors. At 100 TB this is the
    * difference between planning thousands of files and planning the
    * three that matter; the row-level filter still applies (pruning is
    * a superset guarantee, exactly parquet row-group skipping one
    * level up).
    *
    * Stats come from the MANIFEST (cached at commit time, one footer
    * read per file ever); a file with no cached entry (pre-stats
    * manifest) falls back to its footer at scan time. The spec proves
    * the cache is actually used: a pruned file whose bytes have been
    * corrupted on disk still plans fine — nothing opened it.
    */
  def scanFiles(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    val cur = currentVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir"))
    val snap = readManifest(spark, dir, cur)
    val survivors = snap.files.filter { rel =>
      snap.stats.get(rel).flatMap(_.get(column)) match {
        // manifest-cached range (commit-time footer read): plan-time
        // pruning opens NO file — the Iceberg manifest-stats contract
        case Some((mn, mx)) => mx >= lo && mn <= hi
        // pre-stats manifest or a column without stats: one footer
        // read; no stats at all → cannot prove disjoint → keep
        // (superset guarantee)
        case None =>
          val (_, st) = footerInfo(spark, dir, rel)
          st.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
    if (survivors.isEmpty) read(spark, dir).filter(lit(false))
    else spark.read.parquet(survivors.map(r => new HPath(dir, r).toString): _*)
      .filter(col(column) >= lo && col(column) <= hi)
  }

  // ------------------------------------------------ write-audit-publish

  private def stagedPath(dir: String, id: String) =
    new HPath(dir, s"metadata/staged/$id.json")

  /** WRITE-AUDIT-PUBLISH, step 1: write `df`'s data files and a
    * STAGING manifest that no reader plans (readers list only
    * `v<N>.manifest.json`) — the Iceberg WAP pattern a production
    * ingest runs so a 100 TB batch is auditable BEFORE it becomes
    * visible: stage, run the quality gates against [[readStaged]],
    * then [[publishStaged]] (atomic, normal commit) or
    * [[discardStaged]] (files become age-gated orphans for
    * [[removeOrphans]]). Returns the stage id.
    */
  def stageWrite(spark: SparkSession, dir: String, df: DataFrame): String = {
    val (id, files) = writeDataFiles(spark, dir, df)
    val f = fs(spark, dir)
    val node: ObjectNode = M.createObjectNode()
    node.put("stage_id", id)
    node.put("timestamp_ms", System.currentTimeMillis())
    val arr: ArrayNode = node.putArray("files")
    files.foreach(arr.add)
    f.mkdirs(new HPath(dir, "metadata/staged"))
    val out = f.create(stagedPath(dir, id), false)
    try out.write(M.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    id
  }

  private def stagedFiles(spark: SparkSession, dir: String, id: String): Seq[String] = {
    val p = stagedPath(dir, id)
    require(fs(spark, dir).exists(p), s"stage $id does not exist (published or discarded?)")
    readJson(spark, dir, p).get("files").elements().asScala.map(_.asText()).toSeq
  }

  /** The staged rows (audit view) — invisible to [[read]] until
    * published.
    */
  def readStaged(spark: SparkSession, dir: String, stageId: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(
      stagedFiles(spark, dir, stageId).map(r => new HPath(dir, r).toString): _*)

  /** WAP step 3a: publish — the staged file list becomes a normal
    * append commit (atomic manifest swap; zero data movement) and the
    * staging manifest is consumed (a second publish of the same id
    * fails loudly).
    */
  def publishStaged(spark: SparkSession, dir: String, stageId: String): Snapshot = {
    val files = stagedFiles(spark, dir, stageId)
    val snap = commitFiles(spark, dir, files, s"append[wap=$stageId]", replace = false)
    fs(spark, dir).delete(stagedPath(dir, stageId), false)
    snap
  }

  /** WAP step 3b: discard — drop the staging manifest; the data files
    * are unreferenced and fall to [[removeOrphans]]' age gate.
    */
  def discardStaged(spark: SparkSession, dir: String, stageId: String): Unit = {
    stagedFiles(spark, dir, stageId) // existence check, loud if missing
    fs(spark, dir).delete(stagedPath(dir, stageId), false); ()
  }

  /** Delete commit directories no manifest references and whose files
    * are older than `olderThanMs` — the lost-race data of failed
    * commits. The age threshold is the safety contract (Iceberg's
    * `remove_orphan_files` has the same one): a commit IN FLIGHT has
    * written its dir but not yet published its manifest, and must not
    * be swept. Returns the removed directories.
    */
  def removeOrphans(spark: SparkSession, dir: String,
      olderThanMs: Long): Seq[String] = {
    val f = fs(spark, dir)
    val dataRoot = new HPath(dir, "data")
    if (!f.exists(dataRoot)) return Seq.empty
    // live references = every committed manifest PLUS in-flight WAP
    // stages (a staged-but-unaudited batch must survive the sweep)
    val stagedRoot = new HPath(dir, "metadata/staged")
    val stagedRefs =
      if (!f.exists(stagedRoot)) Seq.empty[String]
      else f.listStatus(stagedRoot).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
        .flatMap(id => stagedFiles(spark, dir, id))
    val referencedDirs = (committedVersions(spark, dir)
      .flatMap(v => readManifest(spark, dir, v).files) ++ stagedRefs)
      .map(_.split("/").take(2).mkString("/")).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    // stale commit locks (writer crashed between claim and publish, and
    // no manifest ever appeared at that version) are orphans too — sweep
    // them so they can't accumulate; a reclaim in commitFiles handles
    // the live path, this handles housekeeping
    val meta = new HPath(dir, "metadata")
    val staleLocks =
      if (!f.exists(meta)) Seq.empty[String]
      else f.listStatus(meta).toSeq
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && n.startsWith("v") && n.endsWith(".lock") &&
            st.getModificationTime < System.currentTimeMillis() - LockStaleMs &&
            !f.exists(new HPath(dir,
              s"metadata/${n.stripSuffix(".lock")}.manifest.json"))
        }
        .map { st => f.delete(st.getPath, false); s"metadata/${st.getPath.getName}" }
    staleLocks ++ f.listStatus(dataRoot).toSeq
      .filter(st => st.isDirectory &&
        !referencedDirs.contains(s"data/${st.getPath.getName}") &&
        f.listStatus(st.getPath).forall(_.getModificationTime < cutoff))
      .map { st => f.delete(st.getPath, true); s"data/${st.getPath.getName}" }
  }
}
