package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.flags.{FeatureFlag, FlagContext, FlagEval, FlagQueries, FlagResponse, JNum, JStr}
import graft.ingest.{EventSchema, Normalizer}
import graft.llm.PQ
import graft.sources.Snapshots
import graft.state.{PersonOp, PersonOpExtract, PersonRecord, Replay, StateQueries}
import graft.streaming.IdentityMergeState
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

object Workloads {
  def apply(name: String): Workload = name match {
    case "insight_mix" => new InsightMix
    case "stream_identity" => new StreamIdentity
    case "curation" => new Curation
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Request context of the wire bodies: deterministic clock (as the
    * registry's ingest queries use) and a request IP for `enrich`.
    */
  val ingestCtx: Normalizer.IngestContext =
    Normalizer.IngestContext(now = Normalizer.DetClock, requestIp = lit("203.0.113.7"))

  /** The replay order: the generator stamps each item's event id as `eid`. */
  val eidOrd = element_at(col("extra"), "eid").cast(LongType)

  val eventCols: Seq[String] = EventSchema.schema.fieldNames.toSeq

  /** Wire bodies → canonical events, enriched: the ingest layer. */
  def canonical(bodies: DataFrame): DataFrame =
    Normalizer.enrich(Normalizer.ingest(bodies, col("body"), ingestCtx, col("is_form")), ingestCtx)

  /** Sum of bytes and count of parquet data files under `dir`. */
  def dataFiles(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(dir).filter(f => f.getName.endsWith(".parquet") && f.getPath.contains("/data/"))
    (fs.map(_.length).sum, fs.size.toLong)
  }

  /** Write collected rows as parquet for an oracle check; no recompute. */
  def dumpRows(spark: SparkSession, rows: Array[Row], schema: StructType, dir: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)
}

import Workloads._

/** Read path, closed loop with one client: a seeded order over a fixed
  * list of registry queries, each followed by `/decide` requests for
  * persons drawn from the customer table.
  */
final class InsightMix extends Workload {
  private val queries = InsightMix.Queries
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var contexts: Array[FlagContext] = Array.empty
  private val flags: Seq[FeatureFlag] = FlagQueries.config ++ FlagQueries.variantsConfig ++
    FlagQueries.groupConfig ++ FlagQueries.experimentConfig
  private var rng: scala.util.Random = _
  private val decideNs = mutable.ArrayBuffer.empty[Long]
  private val lastRows = mutable.Map.empty[String, (Array[Row], StructType)]
  private var queryS = 0.0

  override def cycleLen: Int = queries.size

  def setup(c: Ctx): Unit = {
    val seed = c.meta.get("seed").asLong
    rng = new scala.util.Random(seed)
    order = Iterator.continually(rng.shuffle(queries)).take(64).flatten.toIndexedSeq
    contexts = Tables.customer(c.spark, c.args.input).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"), col("c_name"), col("c_nationkey"))
      .collect().map { r =>
        FlagContext(s"cust-${r.getLong(0)}", Map(
          "segment" -> JStr(r.getString(1)), "balance" -> JNum(r.getDouble(2)),
          "name" -> JStr(r.getString(3)), "nation" -> JStr(r.getInt(4).toString)))
      }
    decide()
  }

  def prime(c: Ctx): Unit = queries.foreach(q => run(c, q))

  private def run(c: Ctx, q: String): Unit = {
    val layer = if (q.startsWith("q_flag_")) "flags.readout" else "queries"
    val t0 = System.nanoTime()
    val df = c.tr.span(layer)(SparkEntry.queries(q)(c.spark, c.args.input))
    val rows = c.tr.span(layer)(df.collect())
    queryS = (System.nanoTime() - t0) / 1e9
    lastRows(q) = (rows, df.schema)
    Tables.releaseCaches(c.spark)
  }

  private def decide(): String = {
    val ctx = contexts(rng.nextInt(contexts.length))
    val res = FlagEval.evaluate(flags, ctx)
    FlagResponse.render(FlagResponse.decideResponse(res, 3, Some("phc_bench"), None))
  }

  def op(c: Ctx, i: Int): Long = {
    run(c, order(i % order.size))
    for (_ <- 0 until InsightMix.DecidesPerQuery) {
      val t0 = System.nanoTime()
      c.tr.span("flags.decide")(decide())
      decideNs += System.nanoTime() - t0
    }
    1L
  }

  override def latency(startS: Double, endS: Double): Double = queryS

  def endToEnd(c: Ctx, w: Window): Map[String, Double] = Map(
    "work_per_s" -> w.ops / w.wallS,
    "op_p50_s" -> Stats.median(w.latencies.toSeq))

  def finish(c: Ctx, w: Window, traced: Option[Probes]): Unit = {
    val r = c.result
    lastRows.toSeq.sortBy(_._1).foreach { case (q, (rows, schema)) =>
      val dir = c.scratch(s"check/$q")
      dumpRows(c.spark, rows, schema, dir)
      r.oracleChecks += ((s"insight_mix.$q", SparkEntry.oracleSql(q), dir, Map.empty))
    }
    // /decide against the flags' closed forms
    val byKey = (ctx: FlagContext) => FlagEval.evaluate(FlagQueries.config, ctx).map(x => x.key -> x.value).toMap
    val bad = contexts.take(500).filterNot { ctx =>
      val v = byKey(ctx)
      val seg = ctx.personProperties("segment").asInstanceOf[JStr].v
      val bal = ctx.personProperties("balance").asInstanceOf[JNum].v
      v("f_eq") == graft.flags.JBool(seg == "BUILDING") &&
        v("f_gt") == graft.flags.JBool(bal > 5000) &&
        v("f_not_in") == graft.flags.JBool(seg != "HOUSEHOLD") &&
        v("f_inactive") == graft.flags.JBool(false)
    }
    r.check("insight_mix.decide", bad.isEmpty, s"${bad.length} contexts disagree, first ${bad.headOption}")
    val us = decideNs.map(_ / 1e3).toSeq
    r.layers("decide_p50_us") = Stats.median(us)
    r.layers("decide_p99_us") = Stats.quantile(us, 0.99)
    traced.foreach { _ =>
      val self = c.tr.selfSeconds
      val n = c.tr.calls("flags.decide")
      val readouts = w.latencies.size.toDouble
      r.layers ++= Seq(
        "queries.self_s" -> self.getOrElse("queries", 0.0) / readouts,
        "flags.readout_self_s" -> self.getOrElse("flags.readout", 0.0) / readouts,
        "flags.decide_self_us" -> self.getOrElse("flags.decide", 0.0) * 1e6 / math.max(n, 1),
        "flags.decide_calls" -> n.toDouble)
    }
  }
}

object InsightMix {
  val DecidesPerQuery = 20
  /** Sub-second registry queries across the product, relational and flag
    * readout families, none of which materialize scratch inputs.
    */
  val Queries: Seq[String] = Seq(
    "q_flag_variants", "q_flag_decide", "q_flag_srm", "q_flag_filters",
    "q_prod_funnel_unordered", "q_prod_stickiness", "q_prod_retention", "q_prod_trends",
    "q_agg_salted", "q_join_semi", "q_join_asof", "q_win_top3")
}

/** Row of the streaming dedup source. */
final case class StreamRow(uuid: String, ts: java.sql.Timestamp)

/** Open loop: micro-batches fall due on a fixed schedule whatever the
  * system's speed. Bodies arrive late by up to the generator's max lag;
  * a watermark holds ops back until every earlier event has arrived, so
  * the identity merge sees each person's ops in order, as it requires.
  * Each batch's bodies reach Spark as a local relation, as a transport
  * would hand them over.
  */
final class StreamIdentity extends Workload {
  import StreamIdentity._
  private var arrivals: Map[Long, Array[Row]] = Map.empty
  private var wireSchema: StructType = _
  private var maxLag = 0
  private var nextBatch = 0L
  private var st: IdentityMergeState = _
  private var mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamRow] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val pending = mutable.ArrayBuffer.empty[PersonOp]
  private val released = mutable.ArrayBuffer.empty[PersonOp]
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var lake: String = _
  /** Every op of an event below this id has passed the watermark. */
  private var releasedBelow = 0L

  override def dueS(i: Int): Option[Double] = Some(i * IntervalS)

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    maxLag = c.meta.get("max_lag").asInt
    val wire = spark.read.parquet(c.input("wire"))
      .select(col("body"), col("is_form"), col("malformed"),
        (floor(col("min_eid") / BatchEvents) + col("lag")).cast(LongType).as("arrival"))
    wireSchema = wire.schema
    arrivals = wire.collect().groupBy(_.getLong(3))
    st = new IdentityMergeState(spark)
    nextBatch = 0L; pending.clear(); released.clear()
    lake = c.scratch(s"stream-lake-${System.nanoTime()}")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamRow]
    query = graft.streaming.Streaming.dedupStream(mem.toDF(), key = "uuid", tsCol = "ts")
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", c.scratch(s"ckpt-${System.nanoTime()}"))
      .start()
  }

  override def teardown(c: Ctx): Unit = {
    if (query != null) query.stop()
    if (st != null) st.close()
  }

  def prime(c: Ctx): Unit = (0 until 2).foreach(op(c, _))

  override def cycleLen: Int = 3

  def op(c: Ctx, i: Int): Long = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.tr
    val b = nextBatch
    nextBatch += 1
    val batch = arrivals.getOrElse(b, Array.empty[Row])
    require(batch.nonEmpty, s"input exhausted at batch $b")
    val in = spark.createDataFrame(batch.toSeq.asJava, wireSchema)
    val canon = tr.span("ingest")(tr.force(canonical(in).persist(StorageLevel.MEMORY_AND_DISK)))
    tr.span("sources.commit") {
      Snapshots.commitEpoch(canon.select(eventCols.map(col): _*), s"$lake/events", b)
    }
    val ops = tr.span("state.extract") {
      PersonOpExtract.fromCanonical(canon, eidOrd).as[PersonOp].collect()
    }
    pending ++= ops
    // watermark: every event of nominal batch b - maxLag has arrived
    val hi = (b - maxLag + 1) * BatchEvents
    val (rel, keep) = pending.partition(_.ord < hi)
    pending.clear(); pending ++= keep
    if (rel.nonEmpty) tr.span("state.merge") {
      st.processBatch(spark.createDataset(rel.toSeq), b)
    }
    released ++= rel
    releasedBelow = math.max(releasedBelow, hi)
    val rows = tr.span("streaming.dedup") {
      val rs = canon.select(col("uuid"), col("timestamp").as("ts")).as[StreamRow].collect()
      mem.addData(rs.toSeq)
      query.processAllAvailable()
      rs
    }
    if (tr.enabled) {
      counts("rows_out") += rows.length
      counts("dead") += batch.count(_.getBoolean(2))
      counts("bodies") += batch.length
      counts("ops") += rel.size
    }
    counts("landed") += rows.length
    canon.unpersist()
    rows.length.toLong
  }

  /** Events per second of batch work: the schedule's waits are left out,
    * so the figure is the system's rate rather than the offered one.
    */
  def endToEnd(c: Ctx, w: Window): Map[String, Double] = Map(
    "work_per_s" -> w.items / w.busyS,
    "op_p50_s" -> Stats.median(w.latencies.toSeq))

  def finish(c: Ctx, w: Window, traced: Option[Probes]): Unit = {
    val spark = c.spark
    import spark.implicits._
    val r = c.result
    def norm(p: PersonRecord) = p.copy(distinct_ids = p.distinct_ids.sorted)
    val incremental = st.persons().collect().map(norm).sortBy(_.canonical_id)
    val batch = Replay.persons(spark, spark.createDataset(released.toSeq)).collect()
      .map(norm).sortBy(_.canonical_id)
    val diff = incremental.zipAll(batch, null, null).find { case (a, b) => a != b }
    r.check("stream_identity.persons_equal_batch", diff.isEmpty,
      s"${incremental.length} vs ${batch.length} persons, first difference $diff")
    r.check("stream_identity.released", released.nonEmpty, "no ops passed the watermark")
    // the persons against the closed form of the wire pipeline over the
    // events whose ops passed the watermark
    val releasedEvents = c.scratch("check/released_events")
    spark.read.parquet(c.input("events.parquet")).filter(col("event_id") < releasedBelow)
      .coalesce(1).write.mode("overwrite").parquet(releasedEvents)
    val personsDir = c.scratch("check/persons")
    st.persons().select(
        col("canonical_id"), col("person_seq_id"), col("version"),
        size(col("distinct_ids")).as("n_distinct_ids"), col("first_ord"),
        element_at(col("properties"), "email").as("email"),
        element_at(col("properties"), "plan").as("plan"),
        element_at(col("properties"), "last_event").as("last_event"),
        element_at(col("properties_set_once"), "first_plan").as("first_plan"),
        element_at(col("properties_set_once"), "first_et").as("first_et"))
      .coalesce(1).write.mode("overwrite").parquet(personsDir)
    r.oracleChecks += (("stream_identity.persons_closed_form", StateQueries.pipeWireSql, personsDir,
      Map("events" -> releasedEvents)))
    val (bytes, files) = dataFiles(new File(lake))
    r.layers("lake_bytes_per_event") = bytes.toDouble / math.max(1L, counts("landed"))
    traced.foreach { p =>
      val n = w.ops.toDouble
      val self = c.tr.selfSeconds
      r.layers ++= Seq(
        "ingest.self_s" -> self.getOrElse("ingest", 0.0) / n,
        "ingest.rows_out" -> counts("rows_out") / n,
        "ingest.dead_letter_ratio" -> counts("dead").toDouble / math.max(1L, counts("bodies")),
        "state.merge_self_s" -> self.getOrElse("state.merge", 0.0) / n,
        "state.extract_self_s" -> self.getOrElse("state.extract", 0.0) / n,
        "state.ops" -> counts("ops") / n,
        "state.shuffle_bytes" -> p.shuffleBytesOf("state.") / n,
        "state.state_rows" -> st.records.count().toDouble,
        "sources.commit_s" -> self.getOrElse("sources.commit", 0.0) / n,
        "sources.bytes_written" -> bytes.toDouble,
        "sources.files_written" -> files.toDouble,
        "streaming.batches" -> p.streamBatches.sum.toDouble,
        "streaming.lag_s" -> Stats.median(w.lags.toSeq),
        "streaming.addBatch_s" -> p.streamSeconds("addBatch") / n,
        "streaming.walCommit_s" -> p.streamSeconds("walCommit") / n,
        "streaming.state_commit_s" -> p.stateCommitMs.sum / 1e3 / n,
        "streaming.state_rows" -> p.streamStateRows.get.toDouble)
    }
  }
}

object StreamIdentity {
  /** Events per micro-batch and the schedule's interval: the offered
    * rate. A batch takes about 2.3 s on 4 cores, so the interval leaves
    * headroom; near full utilization queueing would dominate latency.
    */
  val BatchEvents = 500L
  val IntervalS = 4.0
}

/** Data curation, one stage per op in a fixed cycle: MinHash-LSH near-dup
  * pairs, clusters, keep-best, the quality funnel, then IVF-PQ top-10.
  */
final class Curation extends Workload {
  import Curation._
  private var docs = 0L
  private val stageS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val lastRows = mutable.Map.empty[String, (Array[Row], StructType)]

  def setup(c: Ctx): Unit = {
    docs = c.meta.get("docs").asLong
    require(Tables.documents(c.spark, c.args.input).count() == docs, "documents row count")
    require(Tables.embeddings(c.spark, c.args.input).count() > 0, "no embeddings")
  }

  /** keep_best and funnel contain the MinHash and cluster plans, so these
    * three stages compile every stage's code.
    */
  def prime(c: Ctx): Unit = Seq("q_dedup_keep_best", "q_corpus_funnel", AnnStage).foreach(run(c, _))

  private def run(c: Ctx, q: String): Unit = {
    val layer = if (q == AnnStage) "llm.search" else "llm.dedup"
    val t0 = System.nanoTime()
    val rows = c.tr.span(layer) {
      val df = SparkEntry.queries(q)(c.spark, c.args.input)
      (df.collect(), df.schema)
    }
    stageS.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    lastRows(q) = rows
    Tables.releaseCaches(c.spark)
  }

  /** One pass: every stage once. */
  def op(c: Ctx, i: Int): Long = { Stages.foreach(run(c, _)); docs }

  def endToEnd(c: Ctx, w: Window): Map[String, Double] = {
    val chain = Stages.take(ChainStages).map(q => stageS(q).takeRight(w.ops).sum).sum
    Map(
      "work_per_s" -> w.items / chain,
      "op_p50_s" -> Stats.median(w.latencies.toSeq))
  }

  def finish(c: Ctx, w: Window, traced: Option[Probes]): Unit = {
    val spark = c.spark
    val r = c.result
    val dirs = lastRows.toSeq.map { case (q, (rows, schema)) =>
      val dir = c.scratch(s"check/$q")
      dumpRows(spark, rows, schema, dir)
      q -> dir
    }.toMap
    stageOracles(dirs).foreach(r.oracleChecks += _)
    // every planted exact duplicate must come out as a pair
    val pairs = lastRows("q_dedup_minhash_pairs")._1
      .map(p => (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).toSet
    val planted = spark.read.parquet(c.input("planted.parquet")).filter(col("kind") === "exact")
      .collect().map(p => (math.min(p.getLong(0), p.getLong(1)), math.max(p.getLong(0), p.getLong(1))))
    val missed = planted.filterNot(pairs.contains)
    r.check("curation.planted_exact_dups_found", missed.isEmpty,
      s"${missed.length} of ${planted.length} planted exact duplicates missed, first ${missed.headOption}")
    // recall@10 of IVF-PQ against the brute-force cosine top-10
    val exact = SparkEntry.queries("q_sim_topk")(spark, c.args.input)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = lastRows(AnnStage)._1.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val recalls = approx.toSeq.map { case (q, got) =>
      exact.get(q).map(e => (e intersect got).size / PQ.TopK.toDouble).getOrElse(0.0) }
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    r.layers("ann_recall_at_10") = recall
    r.check("curation.ann_recall_floor", recall >= RecallFloor,
      f"recall@10 $recall%.3f below the floor $RecallFloor")
    // the first entry is the untimed warm-up's
    r.layers("ann_build_search_s") = Stats.median(stageS(AnnStage).drop(1).toSeq)
    traced.foreach { _ =>
      val self = c.tr.selfSeconds
      val cycles = w.ops.toDouble
      val audit = SparkEntry.queries("q_dedup_lsh_audit")(spark, c.args.input).collect().head
      val cand = audit.getAs[Long]("n_cand").toDouble
      val verified = lastRows("q_dedup_minhash_pairs")._1.length.toDouble
      val cells = graft.llm.Similarity.ivfAssign(spark, c.args.input)
        .select(col("vec_id"), col("centroid_id"))
      val sizes = cells.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      val scored = cells.filter(col("vec_id") % PQ.QueryEvery === 0)
        .join(sizes, "centroid_id").agg(sum(col("n") - 1)).collect().head.getLong(0)
      Tables.releaseCaches(spark)
      r.layers ++= Seq(
        "llm.dedup_self_s" -> self.getOrElse("llm.dedup", 0.0) / cycles,
        "llm.lsh_candidates" -> cand,
        "llm.verified_pairs" -> verified,
        "llm.candidate_precision" -> (if (cand > 0) verified / cand else 0.0),
        "llm.search_self_s" -> self.getOrElse("llm.search", 0.0) / cycles,
        "llm.rows_scored" -> scored.toDouble)
    }
  }
}

object Curation {
  import graft.llm.{Corpus, Dedup, Portable}

  /** The oracle of each stage, given the stage before it as Spark wrote
    * it: the full chain's DuckDB oracle re-derives MinHash signatures in
    * every stage (about 30 s per stage at 5,000 documents), so each
    * stage is checked against its own SQL over its verified input. The
    * MinHash stage is checked for soundness: every pair it reports has
    * the exact 3-shingle Jaccard it claims, and that is at least 0.8;
    * completeness is the planted-duplicate check.
    */
  def stageOracles(dirs: Map[String, String]): Seq[(String, String, String, Map[String, String])] = {
    def sub(sql: String, inner: String, view: String): String = {
      require(sql.contains(inner), s"stage oracle does not embed its input's SQL ($view)")
      sql.replace(inner, s"SELECT * FROM $view")
    }
    val pairs = Map("got_pairs" -> dirs("q_dedup_minhash_pairs"))
    val clusters = Map("got_clusters" -> dirs("q_dedup_clusters"))
    val sh = Portable.shingles3Sql(Portable.tokensSql("text"))
    val soundness =
      s"""WITH ids AS (SELECT doc_a AS doc_id FROM got_pairs UNION SELECT doc_b FROM got_pairs),
         |docs AS (SELECT doc_id, $sh AS sh FROM documents SEMI JOIN ids USING (doc_id)),
         |p AS (
         |  SELECT g.doc_a, g.doc_b, g.n_bands,
         |    len(list_intersect(da.sh, db.sh))::DOUBLE / len(list_distinct(list_concat(da.sh, db.sh))) AS jaccard
         |  FROM got_pairs g JOIN docs da ON g.doc_a = da.doc_id JOIN docs db ON g.doc_b = db.doc_id)
         |SELECT * FROM p WHERE jaccard >= 0.8""".stripMargin
    Seq(
      ("curation.q_dedup_minhash_pairs", soundness, dirs("q_dedup_minhash_pairs"), pairs),
      ("curation.q_dedup_clusters", sub(Dedup.clustersSql, Dedup.minhashPairsSql, "got_pairs"),
        dirs("q_dedup_clusters"), pairs),
      ("curation.q_dedup_keep_best", sub(Dedup.keepBestSql, Dedup.clustersSql, "got_clusters"),
        dirs("q_dedup_keep_best"), clusters),
      ("curation.q_corpus_funnel", sub(Corpus.funnelSql, Dedup.clustersSql, "got_clusters"),
        dirs("q_corpus_funnel"), clusters),
      ("curation.q_sim_pq_ivf", SparkEntry.oracleSql("q_sim_pq_ivf"), dirs("q_sim_pq_ivf"), Map.empty))
  }

  /** The dedup and quality chain, then the ANN stage. */
  val Stages: Seq[String] = Seq("q_dedup_minhash_pairs", "q_dedup_clusters",
    "q_dedup_keep_best", "q_corpus_funnel", "q_sim_pq_ivf")
  val ChainStages = 4
  val AnnStage = "q_sim_pq_ivf"
  /** Recall@10 of this coarse quantizer (8 subspaces × 4 centroids, one
    * probed cell) is about 0.1-0.2 on the generated clusters; the floor
    * catches a search that returns unrelated neighbours (about 0.005).
    */
  val RecallFloor = 0.05
}
