package graft.state

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One person-state update operation (T1's extraction output): the
  * batch-replay analogue of `PersonUpdate` (`/root/reference/src/
  * persons.rs:360-430`). `ord` is the total order within the entity
  * (ingest order); `aliasTo` carries an alias edge (identify's
  * anon-id merge or an explicit `$create_alias`).
  */
final case class PersonOp(
    raw_id: String,
    ord: Long,
    set: Map[String, String],
    set_once: Map[String, String],
    unset: Seq[String],
    alias_to: Option[String])

/** Final person state — `PersonRecord` (`persons.rs:21-31`) minus the
  * store plumbing. `version` counts applied ops (batch replay rebuilds
  * from epoch, so merge bumps fold into op counts).
  */
final case class PersonRecord(
    canonical_id: String,
    person_seq_id: Long,
    version: Long,
    distinct_ids: Seq[String],
    properties: Map[String, String],
    properties_set_once: Map[String, String],
    first_ord: Long)

/** One SCD2 person-history row: the merged property view of the
  * surviving (primary-chain) record immediately after the op at
  * `valid_from`. `valid_to` is stamped downstream (lead over the
  * person's change ords); the last row per person is open-ended.
  */
final case class PersonHistoryRow(
    canonical_id: String,
    valid_from: Long,
    properties: Map[String, String])

final case class GroupOp(
    group_type: String,
    group_key: String,
    ord: Long,
    set: Map[String, String])

/** `GroupRecord` (`/root/reference/src/groups.rs:16-23`). */
final case class GroupRecord(
    group_type: String,
    group_key: String,
    version: Long,
    properties: Map[String, String],
    first_ord: Long)

/** A [[PersonOp]] after resolution against a redirect dimension,
  * keyed by its fold component. Original ids (`raw_id`, `alias_to`)
  * are kept alongside the resolved ones (`r_raw`, `r_alias`): the fold
  * sorts, guards, and registers distinct_ids by the ORIGINAL ids —
  * exactly like the reference DO — and resolves records by the
  * resolved ones. Batch replay passes originals for both (its
  * component spans all history, so its in-fold redirect map sees every
  * merge); the streaming merge pre-resolves against the persisted
  * state's redirect dimension first.
  */
private[graft] final case class ResolvedOp(
    comp: String,
    raw_id: String,
    ord: Long,
    set: Map[String, String],
    set_once: Map[String, String],
    unset: Seq[String],
    alias_to: Option[String],
    r_raw: String,
    r_alias: Option[String])

/** Batch replay of the person/group state machines.
  *
  * The reference serializes per-entity updates through Durable Objects
  * (`persons.rs:488-542`); the Spark form shuffles ops by canonical id
  * and folds each group in `ord` order — same per-entity total order,
  * executed data-parallel across entities. The fold itself is a direct
  * transcription of `apply_update` (`persons.rs:55-74`):
  *
  *   - `$set` overwrites `properties[k]`
  *   - `$set_once` writes `properties_set_once[k]` only if `k` is
  *     absent from BOTH maps
  *   - `$unset` removes `k` from both maps
  *   - the op's distinct_id registers into `distinct_ids`
  *   - `version += 1`
  *
  * Streaming runs the identical fold per micro-batch via
  * `flatMapGroupsWithState` (see graft.streaming).
  */
object Replay {

  /** Pure fold: apply one update to (properties, set_once). Shared by
    * batch replay, streaming state, and tests.
    */
  def applyUpdate(
      props: Map[String, String],
      setOnce: Map[String, String],
      op: PersonOp): (Map[String, String], Map[String, String]) = {
    var p = props ++ op.set
    var so = setOnce
    op.set_once.foreach { case (k, v) =>
      if (!p.contains(k) && !so.contains(k)) so = so.updated(k, v)
    }
    op.unset.foreach { k => p = p - k; so = so - k }
    (p, so)
  }

  /** Merged view: `properties` ∪ `properties_set_once`, set wins
    * (`persons.rs:112-120`).
    */
  def mergedProperties(r: PersonRecord): Map[String, String] =
    r.properties_set_once ++ r.properties

  /** Mutable per-record state inside the per-component DO simulation.
    * `snaps` (trace mode only) accumulates one post-op snapshot of the
    * merged property view per touched ord — the raw material of the
    * SCD2 history. A secondary's buffer dies with its record at merge
    * time: the surviving buffer is the history of the primary-chain
    * record, which is exactly what reading the person id over time
    * from the reference store would have returned.
    */
  private final class Rec(firstId: String, val createdOrd: Long) {
    var version: Long = 0L
    var dids: Vector[String] = Vector(firstId)
    var props: Map[String, String] = Map.empty
    var so: Map[String, String] = Map.empty
    var minOrd: Long = createdOrd
    var snaps: List[(Long, Map[String, String])] = Nil
    def register(id: String): Unit = if (!dids.contains(id)) dids :+= id
  }

  /** Resumable per-component DO fold, shared by batch replay (empty
    * seed) and the streaming identity merge (seeded with the persisted
    * records whose canonical ids this batch's alias edges connect).
    * The seed↔record mapping is lossless for the fold: `distinct_ids`
    * order never matters (membership checks + a final sort), so a
    * record emitted after ops [0..k] and re-seeded for ops [k+1..n]
    * folds to the same result as one pass over [0..n] — StateSpec and
    * IdentityMergeSpec pin this chunk-invariance property.
    *
    * Exactly one record survives: every alias edge either merges two
    * records (merge-prefers-primary, version = primary + 1,
    * `persons.rs:255-338`) or is a no-op on an already-merged pair, and
    * the caller keys ops so each group is edge-connected.
    */
  private[graft] def foldComponent(
      seeds: Iterator[PersonRecord], opsIt: Iterator[ResolvedOp]): PersonRecord =
    foldComponentImpl(seeds, opsIt, trace = false)._1

  /** [[foldComponent]] plus the surviving record's per-op snapshot
    * trail `(ord, merged properties)` — one entry per op that touched
    * the primary-chain record (updates AND merges; `ensure_person`
    * registration included so record creation is visible). Trace mode
    * holds one map copy per touched op in the fold's working memory —
    * components are user-sized, so this is bounded the same way the op
    * sort already is.
    */
  private[graft] def foldComponentImpl(
      seeds: Iterator[PersonRecord], opsIt: Iterator[ResolvedOp], trace: Boolean)
    : (PersonRecord, List[(Long, Map[String, String])]) = {
    val records = scala.collection.mutable.Map.empty[String, Rec]
    seeds.foreach { s =>
      val r = new Rec(s.canonical_id, s.first_ord)
      r.version = s.version
      r.dids = s.distinct_ids.toVector
      r.props = s.properties
      r.so = s.properties_set_once
      records(s.canonical_id) = r
    }
    val redirect = scala.collection.mutable.Map.empty[String, String]
    def resolve(id: String): String = {
      var c = id; var hops = 0
      while (redirect.contains(c) && hops <= 10) { c = redirect(c); hops += 1 }
      c
    }
    def ensureRec(canonical: String, ord: Long): Rec =
      records.getOrElseUpdate(canonical, new Rec(canonical, ord))

    opsIt.toArray.sortBy(o => (o.ord, o.raw_id)).foreach { op =>
      // apply_alias first (identify orders alias before update)
      op.alias_to.filter(_ != op.raw_id).foreach { alias =>
        val primaryId = resolve(op.r_raw)
        val secondaryId = resolve(op.r_alias.get)
        if (primaryId != secondaryId) {
          val p = ensureRec(primaryId, op.ord); p.register(op.raw_id)
          val sec = ensureRec(secondaryId, op.ord); sec.register(alias)
          // PersonRecord::merge — primary wins
          p.props = p.props ++ sec.props.view.filterKeys(k => !p.props.contains(k)).toMap
          p.so = p.so ++ sec.so.view
            .filterKeys(k => !p.props.contains(k) && !p.so.contains(k)).toMap
          p.dids = p.dids ++ sec.dids.filterNot(p.dids.contains)
          p.minOrd = math.min(p.minOrd, sec.minOrd) // created_at min
          p.version += 1
          records.remove(secondaryId)
          redirect(secondaryId) = primaryId
          redirect(alias) = primaryId
          p.dids.foreach(d => if (d != primaryId) redirect(d) = primaryId)
        }
      }
      val canonical = resolve(op.r_raw)
      val r = ensureRec(canonical, op.ord)
      r.register(op.raw_id)
      if (op.set.nonEmpty || op.set_once.nonEmpty || op.unset.nonEmpty) {
        val u = applyUpdate(r.props, r.so, PersonOp(op.raw_id, op.ord, op.set, op.set_once, op.unset, None))
        r.props = u._1; r.so = u._2
        r.version += 1
      } // else: ensure_person — registration only, no version bump
      if (trace) r.snaps ::= (op.ord, r.so ++ r.props)
    }
    require(records.size == 1,
      s"component fold invariant violated: ${records.size} surviving records " +
        s"for ids ${records.keys.mkString(",")}")
    val (canonical, rec) = records.head
    (PersonRecord(canonical, -1L, rec.version, rec.dids.sorted,
      rec.props, rec.so, rec.minOrd), rec.snaps.reverse)
  }

  /** Replay person ops to final person records with the reference
    * store's EXACT ordering semantics (`persons.rs:255-338`).
    *
    * The alias-edge connected components (CC fixpoint) give the shuffle
    * key only; within each component the fold simulates the Durable
    * Object verbatim, in `ord` order:
    *
    *   - update → resolve redirect chain, create-if-absent, apply
    *     (`apply_update`: version bump, register distinct_id);
    *     an EMPTY update (no set/set_once/unset) is `ensure_person`
    *     — registration without a version bump;
    *   - alias op → `apply_alias`: resolve both sides; already-same →
    *     no-op; else **merge prefers primary** (`PersonRecord::merge`,
    *     vectors `persons.rs:931-960`): primary's properties win at
    *     merge time — even over a later-`ord` pre-merge secondary
    *     write — secondary fills gaps, set_once skips keys the primary
    *     holds in either map, version = primary.version + 1 (the
    *     secondary's update count is absorbed, not summed), and the
    *     secondary id redirects to the primary from then on;
    *   - an op carrying both an alias and an update applies the alias
    *     FIRST (identify: `apply_alias` then `update_from_identify`,
    *     lib.rs:690-718).
    *
    * The surviving record's canonical id is therefore the primary-chain
    * root — the same id the reference's `resolve_id` returns — not a
    * label election. Exactly one record survives per component (every
    * alias edge merges or is a no-op on an already-merged pair).
    *
    * Divergence (deliberate, documented): person ids are dense
    * first-touch sequence numbers over surviving persons (distributed
    * sort + zipWithIndex); the reference's counter also burns ids on
    * merged-away secondary records, leaving gaps. Dense ids are the
    * useful dimension-key form; nothing downstream reads the gaps.
    * `distinct_ids` is emitted sorted (the reference keeps insertion
    * order) so output is deterministic under any partitioning.
    *
    * At 100 TB: ops shuffle once on the component key; each component
    * folds in one task (components are user-sized — a handful of ids);
    * the redirect map broadcasts.
    */
  def persons(spark: SparkSession, ops: Dataset[PersonOp],
      labelOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = IdentityResolver.IdentityLabel)
    : Dataset[PersonRecord] = {
    import spark.implicits._
    withSeqIds(spark, resolvedOps(spark, ops, labelOf)
      .groupByKey(_.comp)
      .mapGroups((_, it) => foldComponent(Iterator.empty, it))
      .rdd)
  }

  /** The ops keyed by their alias-graph component (CC fixpoint over the
    * alias edges; ids without alias edges form singleton components),
    * in the fold's input shape with originals as the resolved ids.
    */
  private def resolvedOps(spark: SparkSession, ops: Dataset[PersonOp],
      labelOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
    : Dataset[ResolvedOp] = {
    import spark.implicits._
    // the op table is read twice (alias-edge extraction + the resolved
    // fold input) — persist so an expensive upstream (a full
    // ingest→extraction chain) computes once. The op rows are compact
    // (ids + small maps), a tiny fraction of the event bytes.
    val cached = ops.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // an alias can repeat across ops; components takes an edge set
    val edges = cached.filter(_.alias_to.isDefined)
      .map(o => (o.raw_id, o.alias_to.get)).toDF("src", "dst").distinct()
    val redirects = IdentityResolver.components(spark, edges, labelOf)
    cached.toDF()
      .join(broadcast(redirects), col("raw_id") === col("id"), "left")
      .withColumn("comp", coalesce(col("canonical"), col("raw_id")))
      .drop("id", "canonical")
      .select(col("comp"), col("raw_id"), col("ord"), col("set"),
        col("set_once"), col("unset"), col("alias_to"),
        col("raw_id").as("r_raw"), col("alias_to").as("r_alias"))
      .as[ResolvedOp]
  }

  /** Dense first-touch sequence ids (`person_seq_id` from 1 in
    * `(first_ord, canonical_id)` order): distributed sort +
    * zipWithIndex. Shared by batch replay and the streaming merge's
    * final dimension, so both assign identical ids.
    */
  private[graft] def withSeqIds(spark: SparkSession,
      records: org.apache.spark.rdd.RDD[PersonRecord]): Dataset[PersonRecord] = {
    import spark.implicits._
    spark.createDataset(records
      .sortBy(r => (r.first_ord, r.canonical_id))
      .zipWithIndex()
      .map { case (r, i) => r.copy(person_seq_id = i + 1) })
  }

  /** SCD2 person history: one row per op that touched each surviving
    * (primary-chain) record — `(canonical_id, valid_from = op ord,
    * merged property view after the op)`. Same resolution + fold as
    * [[persons]], run in trace mode; a merged-away secondary's trail
    * dies with its record, exactly what reading the person id over
    * time from the reference store would have returned. `valid_to` is
    * the consumer's lead over `valid_from` (see
    * [[StateQueries.pipeHistory]]) — kept out of the fold so the trail
    * stays an append-only stream at scale (stamping an SCD2 close-out
    * is one window pass over compact rows, not fold state).
    *
    * At 100 TB the shape is [[persons]] plus output rows proportional
    * to the op count (not the person count) — still one shuffle on the
    * component key; the trace holds one map copy per touched op in the
    * fold's working memory, bounded like the op sort (components are
    * user-sized).
    */
  def personHistory(spark: SparkSession, ops: Dataset[PersonOp],
      labelOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = IdentityResolver.IdentityLabel)
    : Dataset[PersonHistoryRow] = {
    import spark.implicits._
    resolvedOps(spark, ops, labelOf)
      .groupByKey(_.comp)
      .flatMapGroups { (_, it) =>
        val (rec, snaps) = foldComponentImpl(Iterator.empty, it, trace = true)
        snaps.iterator.map { case (ord, props) =>
          PersonHistoryRow(rec.canonical_id, ord, props)
        }
      }
  }

  /** T9: person debug snapshot — the point query behind
    * `GET /__debug/person/:id` (`lib.rs:1196-1226`): resolve any known
    * distinct_id to its record. On the replayed dimension this is a
    * membership filter over `distinct_ids` (at serving scale: a
    * broadcast redirect map + key lookup).
    */
  def personSnapshot(persons: Dataset[PersonRecord], distinctId: String): Option[PersonRecord] = {
    import persons.sparkSession.implicits._
    graft.HeapWatermark.recordRows("person_snapshot_point_read",
      persons.filter(p =>
        p.distinct_ids.contains(distinctId) || p.canonical_id == distinctId)
        .collect()).headOption
  }

  /** Replay group ops: last-write-wins per-key upsert in `ord` order
    * (`groups.rs:25-42`), keyed by (group_type, group_key).
    */
  def groups(spark: SparkSession, ops: Dataset[GroupOp]): Dataset[GroupRecord] = {
    import spark.implicits._
    ops.groupByKey(o => (o.group_type, o.group_key))
      .mapGroups { (key: (String, String), it: Iterator[GroupOp]) =>
        val (gt, gk) = key
        val sorted = it.toArray.sortBy(_.ord)
        var props = Map.empty[String, String]
        sorted.foreach(o => props = props ++ o.set)
        GroupRecord(gt, gk, sorted.length.toLong, props, sorted.head.ord)
      }
  }
}
