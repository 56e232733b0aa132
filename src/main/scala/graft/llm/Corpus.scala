package graft.llm

import graft.Tables
import graft.queries.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation funnel — the composition every
  * training-data pipeline runs before tokenization:
  *
  *   quality gate ([[TextOps.isQuality]], the [[TextOps.textStats]] flag) ×
  *   language gate ×
  *   near-dup dedup decision ([[Dedup.clusters]]: MinHash-LSH pairs →
  *   CC → keep the cluster's min doc_id)
  *
  * emitted as one decision row per document with each gate's verdict
  * and the final selection — auditable (why was a doc dropped?) and
  * replayable. At 100 TB each gate is the operator documented at its
  * own query; the funnel computes its decision columns in the scan
  * that labels the clusters, no new shuffle over document payloads.
  */
object Corpus {

  /** One decision row per document. `lang` and `is_quality` ride the
    * scan that labels the clusters ([[Dedup.clustersWith]]), so
    * `documents` is read once and joined to nothing but the component
    * map; that relies on `doc_id` being the `documents` key.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val toks = Portable.tokens(col("text"))
    Dedup.clustersWith(s, d, col("lang"),
        TextOps.isQuality(size(toks), size(array_distinct(toks))).as("is_quality"))
      .select(col("doc_id"), col("cluster_id"),
        col("is_quality"),
        col("lang").isin("en", "de").as("is_lang_ok"),
        col("is_keeper"),
        (col("is_quality") && col("lang").isin("en", "de") && col("is_keeper"))
          .as("selected"))
  }

  val funnelSql: String =
    s"""WITH cl AS (${Dedup.clustersSql}),
       |tq AS (
       |  SELECT doc_id,
       |    (n_tokens >= 10 AND n_tokens <= 1000 AND n_uniq_tokens * 2 >= n_tokens) AS is_quality
       |  FROM (
       |    SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |      len(list_distinct(toks))::BIGINT AS n_uniq_tokens
       |    FROM (SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)))
       |SELECT d.doc_id, cl.cluster_id, tq.is_quality,
       |  d.lang IN ('en', 'de') AS is_lang_ok,
       |  cl.is_keeper,
       |  (tq.is_quality AND d.lang IN ('en', 'de') AND cl.is_keeper) AS selected
       |FROM documents d
       |JOIN tq ON d.doc_id = tq.doc_id
       |JOIN cl ON d.doc_id = cl.doc_id""".stripMargin

  /** Benchmark decontamination — the pre-training hygiene pass that
    * removes training documents overlapping a held-out evaluation set
    * (the n-gram-overlap method used for public-corpus decontamination;
    * e.g. GPT-3 appendix C / The Pile's 13-gram filter, here on the
    * shared word-3-shingle unit so the whole family composes).
    *
    * Shape at 100 TB: the EVAL side is a fixed benchmark suite —
    * bounded, tiny next to the corpus — so its distinct shingle hashes
    * BROADCAST; the training side explodes to (doc_id, shingle-hash)
    * pairs, drops non-matches map-side against the broadcast hash set
    * (left-semi), and one shuffle of the surviving compact pairs
    * re-aggregates per document. Documents never move; the contaminated
    * flag is auditable (overlap count + fraction, not just a boolean).
    *
    * Here the eval set is carved deterministically from `documents`
    * (doc_id % 50 == 0) so the oracle can recompute it; near-dups
    * planted in the synthetic corpus make the flag non-trivial.
    */
  def decontam(s: SparkSession, d: String): DataFrame = {
    import Portable._
    // both the eval-hash and training sides read the shingle table
    val docs = Dedup.shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isEval = col("doc_id") % 50 === 0
    val evalHashes = docs.filter(isEval)
      .select(explode(col("sh")).as("g"))
      .select(h60(col("g")).as("gh")).distinct()
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_shingles"))
    val matched = train
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), h60(col("g")).as("gh"))
      .join(broadcast(evalHashes), Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"), col("n_shingles"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_shingles") > 0,
          col("n_overlap").cast("double") / col("n_shingles")).otherwise(lit(0.0)))
      .withColumn("is_contaminated", col("overlap_frac") >= 0.3)
  }

  val decontamSql: String = {
    import Portable._
    s"""WITH docs AS (
       |  SELECT doc_id, ${shingles3Sql(tokensSql("text"))} AS sh FROM documents),
       |ev AS (
       |  SELECT DISTINCT ${h60Sql("g")} AS gh
       |  FROM (SELECT unnest(sh) AS g FROM docs WHERE doc_id % 50 = 0)),
       |tr AS (SELECT doc_id, sh, len(sh)::BIGINT AS n_shingles
       |       FROM docs WHERE doc_id % 50 <> 0),
       |ex AS (
       |  SELECT doc_id, ${h60Sql("g")} AS gh
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM tr)),
       |m AS (
       |  SELECT doc_id, count(*) AS n_overlap FROM ex
       |  WHERE gh IN (SELECT gh FROM ev) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_shingles,
       |  coalesce(m.n_overlap, 0)::BIGINT AS n_overlap,
       |  CASE WHEN t.n_shingles > 0
       |       THEN coalesce(m.n_overlap, 0)::DOUBLE / t.n_shingles ELSE 0.0 END AS overlap_frac,
       |  (CASE WHEN t.n_shingles > 0
       |        THEN coalesce(m.n_overlap, 0)::DOUBLE / t.n_shingles ELSE 0.0 END) >= 0.3
       |    AS is_contaminated
       |FROM tr t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin
  }

  /** Per-BENCHMARK-DOC contamination attribution — the report
    * [[decontam]] cannot give: decontam pools every eval shingle into
    * one set, so it can say "this training doc overlaps the benchmark"
    * but not WHICH benchmark item leaked (the report an eval-integrity
    * audit actually files). Here train and eval shingle-hash sets join
    * PER PAIR: shared distinct-shingle counts per (train doc, eval
    * doc), containment = shared / |train shingles|, and the top
    * attributed eval doc per train doc (ties broken by eval id).
    *
    * The all-pairs danger is a hot shingle joining every train doc to
    * every eval doc. Bounded the way production decontam bounds it
    * (stop-shingles): eval shingles appearing in more than
    * [[AttrMaxEvalDf]] eval docs are dropped from the index — they
    * carry no attribution signal (boilerplate), and the cap makes the
    * join output ≤ AttrMaxEvalDf × train shingle instances, linear in
    * the corpus. At 100 TB: one gh-keyed shuffle for the candidate
    * join, doc-keyed aggregation, doc-keyed window for the top-1.
    */
  val AttrMaxEvalDf = 8

  def decontamAttr(s: SparkSession, d: String): DataFrame = {
    import Portable._
    val docs = Dedup.shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isEval = col("doc_id") % 50 === 0
    val ev = docs.filter(isEval)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
      .select(col("bench_id"), h60(col("g")).as("gh")).distinct()
    val rare = ev.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= AttrMaxEvalDf).select(col("gh"))
    val evIdx = ev.join(broadcast(rare), Seq("gh"), "left_semi")
    val tr = docs.filter(!isEval)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), h60(col("g")).as("gh")).distinct()
    val nSh = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val pairs = tr.join(evIdx, Seq("gh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("shared").desc, col("bench_id"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(nSh, Seq("doc_id"))
      .select(col("doc_id"), col("bench_id"), col("shared"), col("n_shingles"),
        (col("shared").cast("double") / col("n_shingles")).as("containment"))
      .withColumn("is_contaminated", col("containment") >= 0.2)
  }

  val decontamAttrSql: String = {
    import Portable._
    s"""WITH docs AS (
       |  SELECT doc_id, ${shingles3Sql(tokensSql("text"))} AS sh FROM documents),
       |ev AS (
       |  SELECT DISTINCT doc_id AS bench_id, ${h60Sql("g")} AS gh
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id % 50 = 0)),
       |rare AS (SELECT gh FROM ev GROUP BY gh HAVING count(*) <= $AttrMaxEvalDf),
       |evi AS (SELECT * FROM ev WHERE gh IN (SELECT gh FROM rare)),
       |tr AS (
       |  SELECT DISTINCT doc_id, ${h60Sql("g")} AS gh
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id % 50 <> 0)),
       |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
       |pairs AS (
       |  SELECT t.doc_id, e.bench_id, count(*) AS shared
       |  FROM tr t JOIN evi e USING (gh) GROUP BY t.doc_id, e.bench_id),
       |top1 AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY shared DESC, bench_id) AS rk FROM pairs) WHERE rk = 1)
       |SELECT p.doc_id, p.bench_id, p.shared, n.n_shingles,
       |  p.shared::DOUBLE / n.n_shingles AS containment,
       |  (p.shared::DOUBLE / n.n_shingles) >= 0.2 AS is_contaminated
       |FROM top1 p JOIN nsh n USING (doc_id)""".stripMargin
  }

  /** Bloom-prefiltered decontamination — the shape [[decontam]] grows
    * into when even the eval set's DISTINCT shingle-hash set is too big
    * to broadcast as an exact hash set: a fixed-size Bloom sketch
    * (bitwise-OR mergeable → deterministic under any partitioning)
    * stands in for the set. Two tiers:
    *
    *   1. map-side PREFILTER: every (doc, shingle) pair probes the
    *      broadcast sketch via codegen'd `might_contain` — non-matching
    *      pairs (the overwhelming majority) die before any shuffle;
    *   2. exact CONFIRM: only surviving pairs (true hits + the sketch's
    *      ~fpp false positives) meet the exact eval-hash set in a
    *      left-semi join.
    *
    * Bloom filters have NO false negatives, so the confirmed overlap
    * counts are bit-identical to [[decontam]] — the oracle is the same
    * exact computation. The sketch's behavior is gated IN-ROW (the
    * [[graft.queries.Relational]] estimate-twin pattern):
    * `bloom_no_false_negatives` (survivors cover every exact hit) and
    * `bloom_fp_ok` (false-positive pairs ≤ 5% + 8 per doc, far above
    * the sized fpp) must both hold on every row.
    *
    * At 100 TB: a 4B-item eval set at 1% fpp is a ~4.8 GB sketch vs
    * tens-of-GB exact sets — and the sketch is ONE binary literal in
    * the plan, not a shuffled side. The driver-side `head()` that
    * materializes it moves sketch-sized data only (same class as
    * k-means centroids, [[KMeans]]).
    */
  def decontamBloom(s: SparkSession, d: String): DataFrame = {
    import Portable._
    graft.functions.GraftExtensions.register(s)
    val docs = Dedup.shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isEval = col("doc_id") % 50 === 0
    val evalHashes = docs.filter(isEval)
      .select(explode(col("sh")).as("g"))
      .select(h60(col("g")).as("gh")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sketch sized generously above the eval cardinality at any test sf
    // (1M items / 8M bits ≈ 1 MB); caps are within Spark's runtime-
    // filter limits. Deterministic: insertions OR into the bit array.
    val bloom = graft.HeapWatermark.recordRows("corpus_decontam_bloom",
      evalHashes
        .agg(call_function("bloom_filter_agg", xxhash64(col("gh")),
          lit(1L << 20), lit(1L << 23)).as("bf"))
        .collect()).head.getAs[Array[Byte]]("bf")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_shingles"))
    val pairs = train.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), h60(col("g")).as("gh"))
    // tier 1: sketch probe, map-side, no shuffle, no broadcast set
    val survivors = pairs
      .filter(call_function("might_contain", lit(bloom), xxhash64(col("gh"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDocBloom = survivors.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom"))
    // tier 2: exact confirm on the (tiny) survivor set only
    val perDocExact = survivors
      .join(broadcast(evalHashes), Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"), col("n_shingles"))
      .join(perDocExact, Seq("doc_id"), "left")
      .join(perDocBloom, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"))
      .withColumn("overlap_frac",
        when(col("n_shingles") > 0,
          col("n_overlap").cast("double") / col("n_shingles")).otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"), col("overlap_frac"),
        (col("overlap_frac") >= 0.3).as("is_contaminated"),
        (col("n_bloom") >= col("n_overlap")).as("bloom_no_false_negatives"),
        (col("n_bloom") - col("n_overlap") <=
          greatest(lit(8L), (col("n_shingles") * 0.05).cast("long")))
          .as("bloom_fp_ok"))
  }

  val decontamBloomSql: String = {
    import Portable._
    s"""WITH docs AS (
       |  SELECT doc_id, ${shingles3Sql(tokensSql("text"))} AS sh FROM documents),
       |ev AS (
       |  SELECT DISTINCT ${h60Sql("g")} AS gh
       |  FROM (SELECT unnest(sh) AS g FROM docs WHERE doc_id % 50 = 0)),
       |tr AS (SELECT doc_id, sh, len(sh)::BIGINT AS n_shingles
       |       FROM docs WHERE doc_id % 50 <> 0),
       |ex AS (
       |  SELECT doc_id, ${h60Sql("g")} AS gh
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM tr)),
       |m AS (
       |  SELECT doc_id, count(*) AS n_overlap FROM ex
       |  WHERE gh IN (SELECT gh FROM ev) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_shingles,
       |  coalesce(m.n_overlap, 0)::BIGINT AS n_overlap,
       |  CASE WHEN t.n_shingles > 0
       |       THEN coalesce(m.n_overlap, 0)::DOUBLE / t.n_shingles ELSE 0.0 END AS overlap_frac,
       |  (CASE WHEN t.n_shingles > 0
       |        THEN coalesce(m.n_overlap, 0)::DOUBLE / t.n_shingles ELSE 0.0 END) >= 0.3
       |    AS is_contaminated,
       |  TRUE AS bloom_no_false_negatives,
       |  TRUE AS bloom_fp_ok
       |FROM tr t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin
  }

  /** Q-CORPUS-BUDGET: token-budget corpus selection — the "fill N
    * tokens" step that turns a ranked candidate pool into an actual
    * training mix: per language, documents are taken in quality order
    * (quality gate first, then content-hash tie-break — deterministic,
    * auditable, no RNG) until the language's token budget is spent.
    * The budget here is a FRACTION of each language's total tokens
    * (25%), so the query is scale-invariant and the oracle can
    * recompute it exactly; a production run pins absolute budgets per
    * language instead — same plan.
    *
    * All arithmetic stays integral (`4 * cum <= total` instead of a
    * float fraction) so the kept set is bit-identical across engines
    * and partitionings.
    *
    * Shape at 100 TB: one shuffle keyed by language feeds both window
    * functions (running token sum + per-language total); payloads
    * don't move (doc_id + counts only). Languages are few and huge —
    * at extreme scale the running-sum window swaps for the bounded
    * top-k aggregate ([[TextOps.mixTopK]]'s form) exactly like the
    * mixing operator documents.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), h60(col("text")).as("h"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .withColumn("is_quality", TextOps.isQuality(col("n_tokens"), col("n_uniq")))
    val order = Seq(col("is_quality").desc, col("h"), col("doc_id"))
    val wRun = Window.partitionBy(col("lang")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base.select(col("doc_id"), col("lang"), col("is_quality"), col("n_tokens"),
        sum(col("n_tokens")).over(wRun).as("cum_tokens"),
        sum(col("n_tokens")).over(wAll).as("lang_tokens"))
      .withColumn("kept", col("cum_tokens") * 4 <= col("lang_tokens"))
  }

  val tokenBudgetSql: String = {
    import Portable._
    s"""WITH base AS (
       |  SELECT doc_id, lang, ${h60Sql("text")} AS h,
       |    len(toks)::BIGINT AS n_tokens,
       |    len(list_distinct(toks))::BIGINT AS n_uniq
       |  FROM (SELECT doc_id, lang, text, ${tokensSql("text")} AS toks FROM documents)),
       |q AS (
       |  SELECT doc_id, lang, n_tokens,
       |    (n_tokens >= 10 AND n_tokens <= 1000 AND n_uniq * 2 >= n_tokens) AS is_quality, h
       |  FROM base)
       |SELECT doc_id, lang, is_quality, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY is_quality DESC, h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens,
       |  sum(n_tokens) OVER (PARTITION BY lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)::BIGINT AS lang_tokens,
       |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY is_quality DESC, h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 4 <=
       |    sum(n_tokens) OVER (PARTITION BY lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept
       |FROM q""".stripMargin
  }

  /** Seed for the fractional-epoch Bernoulli draw and per-copy shard
    * placement — deterministic, so the assembled mix is reproducible.
    */
  val EpochSeed = "epoch1"

  /** Q-CORPUS-EPOCHS: epoch-based source up/down-sampling — the
    * replication step that turns mixture weights into an actual
    * training corpus (the "N epochs of curated, fraction of an epoch
    * of web" recipe used by published LLM data mixes): each source
    * gets a fractional epoch factor; every document materializes
    * `floor(f)` copies plus one more with probability `frac(f)`,
    * decided by a seeded hash — deterministic Bernoulli rounding, so
    * the expected token count per source is exactly `f ×` its size
    * and reruns are byte-identical. Factors here cycle 2.5 / 1.5 /
    * 1.0 / 0.5 over the source index (0.5 = downsample half), stored
    * as integer percent so the arithmetic never touches floats.
    *
    * Each copy carries a seeded shard key ([[TextOps.shuffleShard]]'s
    * form) so replicas of the same document scatter across output
    * shards — replication and the global shuffle compose.
    *
    * Shape at 100 TB: MAP-ONLY — a codegen'd `explode(sequence)` per
    * row, zero shuffle; downstream writes partition by `shard`. The
    * one exchange in the plan is the input spread (PlanSpec pins
    * exactly that).
    */
  def epochs(s: SparkSession, d: String): DataFrame = {
    import Portable._
    val si = expr("CAST(substring(source, 4) AS INT)")
    val pct = when(si % 4 === 0, 250).when(si % 4 === 1, 150)
      .when(si % 4 === 2, 100).otherwise(50)
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), pct.as("epoch_pct"),
        (h60(concat(lit(EpochSeed + ":"), col("doc_id").cast("string"))) % 100L).as("h"))
      .withColumn("n_copies",
        (expr("epoch_pct div 100") +
          when(col("h") < col("epoch_pct") % 100, 1).otherwise(0)).cast("int"))
      .withColumn("copy_idx",
        explode(when(col("n_copies") >= 1, sequence(lit(1), col("n_copies")))
          .otherwise(array().cast("array<int>"))))
      .select(col("doc_id"), col("source"), col("epoch_pct"), col("n_copies"),
        col("copy_idx").cast("long").as("copy_idx"),
        (h60(concat(lit(EpochSeed + "s:"), col("doc_id").cast("string"),
          lit(":"), col("copy_idx").cast("string"))) % 32L).as("shard"))
  }

  val epochsSql: String = {
    import Portable._
    s"""WITH base AS (
       |  SELECT doc_id, source, substr(source, 4)::INT AS si,
       |    ${h60Sql(s"'$EpochSeed:' || doc_id")} % 100 AS h
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source,
       |    CASE si % 4 WHEN 0 THEN 250 WHEN 1 THEN 150 WHEN 2 THEN 100 ELSE 50 END
       |      AS epoch_pct, h
       |  FROM base),
       |c AS (
       |  SELECT doc_id, source, epoch_pct,
       |    (epoch_pct // 100 + CASE WHEN h < epoch_pct % 100 THEN 1 ELSE 0 END)::INT
       |      AS n_copies
       |  FROM p WHERE epoch_pct // 100 + CASE WHEN h < epoch_pct % 100 THEN 1 ELSE 0 END >= 1),
       |e AS (
       |  SELECT doc_id, source, epoch_pct, n_copies,
       |    unnest(generate_series(1, n_copies)) AS copy_idx
       |  FROM c)
       |SELECT doc_id, source, epoch_pct, n_copies, copy_idx::BIGINT AS copy_idx,
       |  ${h60Sql(s"'${EpochSeed}s:' || doc_id || ':' || copy_idx")} % 32 AS shard
       |FROM e""".stripMargin
  }

  /** Shard count for [[stratShards]]; production picks its worker
    * count — same plan.
    */
  val NumStratShards = 32L

  /** Q-CORPUS-STRAT: stratified shard packing — assign documents to N
    * output shards so EVERY shard carries the same language × quality
    * mix (each training worker reads one shard; an unstratified split
    * hands worker 7 the low-resource-language tail and skews its
    * gradient). Within each (lang, is_quality) stratum, documents
    * order by a seeded hash (the [[TextOps.shuffleShard]] draw — a
    * deterministic permutation) and deal round-robin: shard =
    * (rank − 1) mod N, so per-stratum shard counts differ by at most
    * one, by construction.
    *
    * Shape at 100 TB: ONE stratum-keyed shuffle of compact columns
    * (doc_id, key, flags — payloads don't move) feeds the rank
    * window; strata are few (langs × 2), so at extreme scale the
    * same swap as [[tokenBudget]] applies (bounded top-k per stratum
    * or write-time `repartition(stratum).sortWithinPartitions`).
    */
  def stratShards(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        h60(concat(lit(EpochSeed + "st:"), col("doc_id").cast("string"))).as("shuf_key"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .withColumn("is_quality", TextOps.isQuality(col("n_tokens"), col("n_uniq")))
    val w = Window.partitionBy(col("lang"), col("is_quality"))
      .orderBy(col("shuf_key"), col("doc_id"))
    base
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("is_quality"), col("n_tokens"),
        ((col("rn") - 1L) % NumStratShards).as("shard"),
        (expr("(rn - 1) div " + NumStratShards)).as("pos_in_shard"))
  }

  val stratShardsSql: String = {
    import Portable._
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    ${h60Sql(s"'${EpochSeed}st:' || doc_id")} AS shuf_key,
       |    len(toks)::BIGINT AS n_tokens,
       |    len(list_distinct(toks))::BIGINT AS n_uniq
       |  FROM (SELECT doc_id, lang, text, ${tokensSql("text")} AS toks FROM documents)),
       |q AS (
       |  SELECT doc_id, lang, shuf_key, n_tokens,
       |    (n_tokens >= 10 AND n_tokens <= 1000 AND n_uniq * 2 >= n_tokens) AS is_quality
       |  FROM base),
       |r AS (
       |  SELECT doc_id, lang, is_quality, n_tokens,
       |    row_number() OVER (PARTITION BY lang, is_quality
       |      ORDER BY shuf_key, doc_id)::BIGINT AS rn
       |  FROM q)
       |SELECT doc_id, lang, is_quality, n_tokens,
       |  (rn - 1) % $NumStratShards AS shard,
       |  (rn - 1) // $NumStratShards AS pos_in_shard
       |FROM r""".stripMargin
  }

  /** Document budget the temperature weights are materialized against
    * (a production run pins its own — same plan).
    */
  val TemperatureBudget = 100000L

  /** Q-CORPUS-TEMP: temperature-based mixture reweighting — the
    * published multilingual-corpus recipe (mC4 / XLM-R style): source
    * sampling probability `q_i ∝ p_i^α` with α < 1, which up-weights
    * small sources and damps head domination. α = 1/2 here, so the
    * unnormalized weight is `sqrt(n_i)` — IEEE-754 sqrt is correctly
    * rounded in both engines, making the weights bit-exact (a general
    * α needs `pow`, whose last-ulp behavior the two engines do not
    * contractually share; the plan is identical for any α).
    *
    * Normalization sums ~V source doubles in a FIXED order (running
    * window ordered by source; both engines fold frames in order, and
    * the full-frame total is taken as `max(cum)` — max is
    * order-independent), so `q_i`, the boost factor `q_i / p_i`, and
    * the materialized per-source document target are all bit-exact.
    *
    * Shape at 100 TB: one per-source count-agg (map-side partial →
    * V-row result), then V-row windows — the weight table is
    * broadcast-sized by construction and feeds [[epochs]]-style
    * replication as its factor input.
    */
  def temperature(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val wCum = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.par(Tables.documents(s, d))
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_n", sqrt(col("n_docs").cast(DoubleType)))
      .withColumn("cum", sum(col("sqrt_n")).over(wCum))
      .withColumn("z", max(col("cum")).over(wAll))
      .withColumn("n_total", sum(col("n_docs")).over(wAll))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast(DoubleType) / col("n_total").cast(DoubleType)).as("p_raw"),
        (col("sqrt_n") / col("z")).as("q_temp"),
        ((col("sqrt_n") / col("z")) /
          (col("n_docs").cast(DoubleType) / col("n_total").cast(DoubleType))).as("boost"),
        floor(col("sqrt_n") / col("z") * lit(TemperatureBudget.toDouble))
          .cast(LongType).as("target_docs"))
  }

  val temperatureSql: String =
    s"""WITH src AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
       |c AS (
       |  SELECT source, n_docs, sqrt(n_docs::DOUBLE) AS sqrt_n,
       |    sum(sqrt(n_docs::DOUBLE)) OVER (ORDER BY source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM src),
       |t AS (
       |  SELECT source, n_docs, sqrt_n,
       |    max(cum) OVER () AS z,
       |    sum(n_docs) OVER ()::BIGINT AS n_total
       |  FROM c)
       |SELECT source, n_docs,
       |  n_docs::DOUBLE / n_total::DOUBLE AS p_raw,
       |  sqrt_n / z AS q_temp,
       |  (sqrt_n / z) / (n_docs::DOUBLE / n_total::DOUBLE) AS boost,
       |  floor(sqrt_n / z * ${TemperatureBudget}.0)::BIGINT AS target_docs
       |FROM t""".stripMargin

  /** The language-neutral stopword probe for [[filterChain]] — union of
    * the per-language lists the langid query votes with.
    */
  private val stopAll: Seq[String] = Seq(
    "the", "a", "of", "to", "and", "is", "in", "it", "on", "for",
    "der", "die", "das", "und", "ist", "nicht", "ein", "zu",
    "le", "la", "les", "et", "est", "une", "pas", "dans",
    "el", "los", "las", "es", "y", "una", "no", "por")

  /** Q-CORPUS-CHAIN: the C4/FineWeb-style quality FILTER CHAIN — a
    * fixed-order rule cascade per document (length bounds, mean word
    * length band, stopword floor, repetition gate) where the verdict
    * names the FIRST failing rule. This is the auditable form every
    * published web-corpus pipeline reports (per-filter removal rates);
    * the named verdict is what lets a curation run explain "why was
    * this document dropped" and lets rates be diffed across crawls.
    *
    * Every rule is an integer cross-multiplication (`n_tc·10 ≥
    * 38·n_tokens` instead of `avg ≥ 3.8`) — no float compare anywhere,
    * so the verdict is exact on any engine. Thresholds are fixture
    * constants tuned so all five verdicts occur on the test corpus; a
    * production run pins its own — same plan.
    *
    * Shape at 100 TB: MAP-ONLY — one codegen'd pass per document, zero
    * shuffle; removal-rate reporting is a V-row agg over the verdict
    * column downstream.
    */
  def filterChain(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.types.LongType
    val toks = tokens(col("text"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_uniq"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("n_tc"),
        size(filter(col("toks"), t => t.isin(stopAll: _*))).cast(LongType).as("n_stop"))
      .withColumn("rule_len", col("n_tokens") >= 15 && col("n_tokens") <= 1000)
      .withColumn("rule_word_len",
        col("n_tc") * 10 >= col("n_tokens") * 38 && col("n_tc") <= col("n_tokens") * 12)
      .withColumn("rule_stopword", col("n_stop") * 25 >= col("n_tokens"))
      .withColumn("rule_repetition", col("n_uniq") * 5 >= col("n_tokens") * 2)
      .select(col("doc_id"), col("n_tokens"),
        col("rule_len"), col("rule_word_len"), col("rule_stopword"), col("rule_repetition"),
        when(!col("rule_len"), "len")
          .when(!col("rule_word_len"), "word_len")
          .when(!col("rule_stopword"), "stopword")
          .when(!col("rule_repetition"), "repetition")
          .otherwise("keep").as("verdict"),
        (col("rule_len") && col("rule_word_len") && col("rule_stopword") &&
          col("rule_repetition")).as("selected"))
  }

  val filterChainSql: String = {
    import Portable._
    val stopList = stopAll.map("'" + _ + "'").mkString(",")
    s"""WITH base AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    len(toks)::BIGINT AS n_tokens,
       |    len(list_distinct(toks))::BIGINT AS n_uniq,
       |    list_reduce(list_transform(toks, t -> len(t)::BIGINT), (a, b) -> a + b) AS n_tc,
       |    len(list_filter(toks, t -> list_contains([$stopList], t)))::BIGINT AS n_stop
       |  FROM base),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    (n_tokens >= 15 AND n_tokens <= 1000) AS rule_len,
       |    (n_tc * 10 >= n_tokens * 38 AND n_tc <= n_tokens * 12) AS rule_word_len,
       |    (n_stop * 25 >= n_tokens) AS rule_stopword,
       |    (n_uniq * 5 >= n_tokens * 2) AS rule_repetition
       |  FROM f)
       |SELECT doc_id, n_tokens,
       |  rule_len, rule_word_len, rule_stopword, rule_repetition,
       |  CASE WHEN NOT rule_len THEN 'len'
       |       WHEN NOT rule_word_len THEN 'word_len'
       |       WHEN NOT rule_stopword THEN 'stopword'
       |       WHEN NOT rule_repetition THEN 'repetition'
       |       ELSE 'keep' END AS verdict,
       |  (rule_len AND rule_word_len AND rule_stopword AND rule_repetition) AS selected
       |FROM r""".stripMargin
  }

  /** Q-CORPUS-DATASHEET: the per-source release datasheet — the summary
    * table every published corpus ships (docs/tokens per source, filter
    * keep-rate, exact-duplicate rate, mean document length): one row
    * per source, composed from the REAL [[filterChain]] verdicts and
    * the exact-hash duplicate groups, so the numbers a release quotes
    * are definitionally the pipeline's own, not a re-derivation that
    * can drift.
    *
    * All counts are exact int64; the three rates are single int→double
    * divisions at the end — bit-equal on any engine and partitioning.
    *
    * Shape at 100 TB: filter verdicts are map-only; the dup flag is one
    * compact-key (60-bit hash) groupBy joined back by hash; the rollup
    * shuffles |sources| rows. One corpus pass, driver-trivial output.
    */
  def datasheet(s: SparkSession, d: String): DataFrame = {
    import Portable._
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), h60(col("text")).as("h"))
    val dupGroups = docs.groupBy(col("h")).agg(count(lit(1)).as("n_same"))
    val verdicts = filterChain(s, d).select(col("doc_id"), col("n_tokens"), col("selected"))
    docs
      .join(dupGroups, Seq("h"))
      .join(verdicts, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_kept"), col("n_dup"),
        (col("n_kept").cast("double") / col("n_docs").cast("double")).as("kept_rate"),
        (col("n_dup").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("mean_tokens"))
  }

  val datasheetSql: String = {
    import Portable._
    s"""WITH fc AS ($filterChainSql),
       |docs AS (SELECT doc_id, source, ${h60Sql("text")} AS h FROM documents),
       |dg AS (SELECT h, count(*)::BIGINT AS n_same FROM docs GROUP BY h),
       |per AS (
       |  SELECT source,
       |    count(*)::BIGINT AS n_docs,
       |    sum(fc.n_tokens)::BIGINT AS n_tokens,
       |    sum(CASE WHEN fc.selected THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |    sum(CASE WHEN dg.n_same > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup
       |  FROM docs JOIN dg USING (h) JOIN fc USING (doc_id)
       |  GROUP BY source)
       |SELECT source, n_docs, n_tokens, n_kept, n_dup,
       |  n_kept::DOUBLE / n_docs::DOUBLE AS kept_rate,
       |  n_dup::DOUBLE / n_docs::DOUBLE AS dup_rate,
       |  n_tokens::DOUBLE / n_docs::DOUBLE AS mean_tokens
       |FROM per""".stripMargin
  }

  /** Sample size for [[weightedSample]] — small enough that the sampled
    * set plus its threshold row is a driver-trivial artifact, large
    * enough that every priority regime (w dominating, u dominating)
    * occurs on the test corpus.
    */
  val SampleK = 40

  /** Q-CORPUS-WEIGHTED-SAMPLE: priority sampling (Duffield–Lund–Thorup)
    * — ONE top-k pass that draws a weight-proportional sample WITHOUT
    * replacement and makes it estimator-grade: each document gets
    * priority `p_i = w_i / u_i` (weight `w_i` = token count; `u_i` ∈
    * (0,1] a deterministic per-doc uniform), the sample is the top
    * [[SampleK]] priorities, and `tau` (the (k+1)-th priority) turns
    * each kept row into the Horvitz–Thompson estimate `max(w_i, tau)` —
    * so any downstream SUM over the sample is an unbiased estimate of
    * the corpus-wide sum. This is the sampling layer a 100 TB curation
    * run reports its corpus statistics from without a full pass.
    *
    * Cross-engine float discipline: `u_i` is never materialized —
    * `p_i = w·2^60/(h+1)` where `h` = 60-bit seeded md5. Int→double
    * conversion, one multiply, one divide: each IEEE-correctly-rounded,
    * so both engines produce bit-identical priorities (no `ln`/`pow`,
    * whose libm rounding may differ). `tau` handles the degenerate
    * n ≤ k case explicitly (no (k+1)-th row ⇒ tau = 0 ⇒ estimates
    * collapse to the exact weights).
    *
    * Shape at 100 TB: the priority is a map-only projection; top (k+1)
    * is TakeOrderedAndProject — a bounded heap per partition, k+1 rows
    * to the driver, NO corpus shuffle and no full sort. The final
    * window runs over the k+1 collected rows.
    */
  /** (doc_id, w): the weighted population both sample forms draw from —
    * weight = whitespace token count (min 1). Shared by [[weightedSample]]
    * and the streaming twin's harness so the two cannot drift.
    */
  private[graft] def sampleWeights(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.types.LongType
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))).cast(LongType), lit(1L)).as("w"))
  }

  /** Scala-side twin of the priority expression — used by the streaming
    * sampler's per-row path. Bit-identical to the Catalyst form: same
    * md5-over-UTF-8 hash, same 15-hex-char parse, and the same three
    * correctly-rounded double ops (JVM doubles both ways).
    */
  private[graft] def scalaPriority(docId: Long, w: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((SampleSeed + docId.toString).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    w.toDouble * Pow60 / (h + 1).toDouble
  }

  def weightedSample(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val priority = col("w").cast(DoubleType) * lit(Pow60) / (col("h") + lit(1L)).cast(DoubleType)
    val top = sampleWeights(s, d)
      .withColumn("h", h60(concat(lit(SampleSeed), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("w"), priority.as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(SampleK + 1)
    val wAll = Window.orderBy(col("priority").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("priority").desc, col("doc_id"))).cast(LongType))
      .withColumn("tau",
        when(count(lit(1)).over(wAll) === (SampleK + 1), min(col("priority")).over(wAll))
          .otherwise(lit(0.0)))
      .filter(col("rk") <= SampleK)
      .select(col("doc_id"), col("w"), col("priority"), col("tau"),
        greatest(col("w").cast(DoubleType), col("tau")).as("est_w"))
  }

  /** 2^60 as a double — exceeds 53-bit integer precision but is itself
    * a power of two, hence exactly representable. The SQL twin spells
    * the full integer literal because `Double.toString` would render a
    * rounded decimal.
    */
  private[graft] val Pow60: Double = 1152921504606846976.0
  private val Pow60Sql = "1152921504606846976.0"
  private[graft] val SampleSeed = "ps1:"

  val weightedSampleSql: String = {
    import Portable._
    val h = h60Sql(s"'$SampleSeed' || doc_id::VARCHAR")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    greatest(len(${tokensSql("text")})::BIGINT, 1::BIGINT) AS w,
       |    $h AS h
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, w, w::DOUBLE * $Pow60Sql / (h + 1)::DOUBLE AS priority FROM base),
       |top AS (
       |  SELECT doc_id, w, priority FROM scored
       |  ORDER BY priority DESC, doc_id LIMIT ${SampleK + 1}),
       |ranked AS (
       |  SELECT doc_id, w, priority,
       |    row_number() OVER (ORDER BY priority DESC, doc_id)::BIGINT AS rk,
       |    CASE WHEN count(*) OVER () = ${SampleK + 1}
       |         THEN min(priority) OVER () ELSE 0.0 END AS tau
       |  FROM top)
       |SELECT doc_id, w, priority, tau, greatest(w::DOUBLE, tau) AS est_w
       |FROM ranked WHERE rk <= $SampleK""".stripMargin
  }

  /** Per-stratum sample size for [[stratSample]]. */
  val StratSampleK = 10

  /** Q-CORPUS-STRAT-SAMPLE: STRATIFIED priority sampling — an
    * independent [[weightedSample]] per language, each stratum with its
    * own threshold `tau` and Horvitz–Thompson estimates. This is how a
    * release actually reports per-language statistics from a sample:
    * a global sample under-covers tail languages (they lose the global
    * priority race to the head), while per-stratum top-k guarantees
    * every stratum exactly k rows and an unbiased per-stratum
    * estimator. Same bit-exact priority as the global form (one shared
    * definition).
    *
    * Shape at 100 TB: priorities are map-only; the per-stratum top-(k+1)
    * is a lang-keyed rank that plans with WindowGroupLimit pushdown —
    * each input partition holds a bounded per-stratum heap before the
    * ONE lang shuffle, so the shuffle carries ≤ (k+1)·partitions rows
    * per stratum, not the corpus. The tau/HT window then runs over
    * ≤ k+1 rows per stratum.
    */
  def stratSample(s: SparkSession, d: String): DataFrame = {
    import Portable._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val priority = col("w").cast(DoubleType) * lit(Pow60) / (col("h") + lit(1L)).cast(DoubleType)
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        greatest(size(tokens(col("text"))).cast(LongType), lit(1L)).as("w"),
        h60(concat(lit(SampleSeed), col("doc_id").cast("string"))).as("h"))
      .select(col("doc_id"), col("lang"), col("w"), priority.as("priority"))
    val wRank = Window.partitionBy(col("lang")).orderBy(col("priority").desc, col("doc_id"))
    val top = base
      .withColumn("rk", row_number().over(wRank).cast(LongType))
      .filter(col("rk") <= StratSampleK + 1)
    val wStrat = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("tau",
        when(count(lit(1)).over(wStrat) === (StratSampleK + 1),
          min(col("priority")).over(wStrat)).otherwise(lit(0.0)))
      .filter(col("rk") <= StratSampleK)
      .select(col("lang"), col("rk"), col("doc_id"), col("w"), col("priority"), col("tau"),
        greatest(col("w").cast(DoubleType), col("tau")).as("est_w"))
  }

  val stratSampleSql: String = {
    import Portable._
    val h = h60Sql(s"'$SampleSeed' || doc_id::VARCHAR")
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    greatest(len(${tokensSql("text")})::BIGINT, 1::BIGINT) AS w,
       |    $h AS h
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, w,
       |    w::DOUBLE * $Pow60Sql / (h + 1)::DOUBLE AS priority
       |  FROM base),
       |top AS (
       |  SELECT doc_id, lang, w, priority,
       |    row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id)::BIGINT AS rk
       |  FROM scored QUALIFY rk <= ${StratSampleK + 1}),
       |t AS (
       |  SELECT *,
       |    CASE WHEN count(*) OVER (PARTITION BY lang) = ${StratSampleK + 1}
       |         THEN min(priority) OVER (PARTITION BY lang) ELSE 0.0 END AS tau
       |  FROM top)
       |SELECT lang, rk, doc_id, w, priority, tau, greatest(w::DOUBLE, tau) AS est_w
       |FROM t WHERE rk <= $StratSampleK""".stripMargin
  }

  /** Q-CORPUS-DELTA: snapshot-to-snapshot dataset diff — the re-crawl
    * accounting a training pipeline publishes between releases (what
    * was added, what disappeared, what changed in place, per source —
    * C4/FineWeb release notes quote exactly this table, and a dedup/
    * decontam run over the new snapshot starts from the `added ∪
    * changed` slice instead of re-processing 100 TB).
    *
    * The "previous crawl" is derived deterministically from the
    * fixture corpus (the [[Multimodal.mediaTable]] convention): docs
    * with `doc_id % 17 == 3` are absent from it (added since), docs
    * with `doc_id % 11 == 5` carry a different payload (changed in
    * place), and phantom rows at `doc_id + 10⁷` for `doc_id % 23 ==
    * 11` exist only in the previous snapshot (removed since). A real
    * deployment reads two lake snapshots; the diff below is unchanged.
    *
    * Shape at 100 TB: both sides project to compact (doc_id, source,
    * 60-bit content hash) rows BEFORE the id-keyed full-outer join —
    * document payloads never shuffle; the rollup is |sources| rows.
    * Counts are exact int64; the one churn-rate division happens last.
    */
  def delta(s: SparkSession, d: String): DataFrame = {
    import Portable._
    val base = Tables.par(Tables.documents(s, d))
    val cur = base.select(col("doc_id"), col("source"), h60(col("text")).as("h"))
      .filter(col("doc_id") < 10000000L) // phantom range is reserved
    val prev = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 5, h60(concat(col("text"), lit(" rev"))))
          .otherwise(h60(col("text"))).as("h"))
      .unionByName(
        base.filter(col("doc_id") % 23 === 11)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
            h60(col("text")).as("h")))
    cur.as("c")
      .join(prev.as("p"), col("c.doc_id") === col("p.doc_id"), "full_outer")
      .select(
        coalesce(col("c.source"), col("p.source")).as("source"),
        when(col("p.doc_id").isNull, "added")
          .when(col("c.doc_id").isNull, "removed")
          .when(col("c.h") =!= col("p.h"), "changed")
          .otherwise("unchanged").as("verdict"),
        when(col("p.doc_id").isNotNull, 1L).otherwise(0L).as("in_prev"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("verdict") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("verdict") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("verdict") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("verdict") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        sum(col("in_prev")).as("n_prev"))
      .select(col("source"), col("n_added"), col("n_removed"), col("n_changed"),
        col("n_unchanged"), col("n_prev"),
        when(col("n_prev") === 0, lit(null).cast("double"))
          .otherwise((col("n_added") + col("n_removed") + col("n_changed")).cast("double")
            / col("n_prev").cast("double")).as("churn_rate"))
  }

  val deltaSql: String = {
    import Portable._
    s"""WITH cur AS (
       |  SELECT doc_id, source, ${h60Sql("text")} AS h FROM documents
       |  WHERE doc_id < 10000000),
       |prev AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 11 = 5 THEN ${h60Sql("(text || ' rev')")}
       |         ELSE ${h60Sql("text")} END AS h
       |  FROM documents WHERE doc_id % 17 <> 3
       |  UNION ALL
       |  SELECT doc_id + 10000000, source, ${h60Sql("text")}
       |  FROM documents WHERE doc_id % 23 = 11),
       |v AS (
       |  SELECT coalesce(c.source, p.source) AS source,
       |    CASE WHEN p.doc_id IS NULL THEN 'added'
       |         WHEN c.doc_id IS NULL THEN 'removed'
       |         WHEN c.h <> p.h THEN 'changed'
       |         ELSE 'unchanged' END AS verdict,
       |    CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_prev
       |  FROM cur c FULL OUTER JOIN prev p USING (doc_id))
       |SELECT source,
       |  sum(CASE WHEN verdict = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
       |  sum(CASE WHEN verdict = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       |  sum(CASE WHEN verdict = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
       |  sum(CASE WHEN verdict = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged,
       |  sum(in_prev)::BIGINT AS n_prev,
       |  CASE WHEN sum(in_prev) = 0 THEN NULL
       |       ELSE (sum(CASE WHEN verdict IN ('added', 'removed', 'changed')
       |                      THEN 1 ELSE 0 END))::DOUBLE / sum(in_prev)::DOUBLE
       |  END AS churn_rate
       |FROM v GROUP BY source""".stripMargin
  }

  // ------------------------------------------------- semantic decontam

  /** Cosine threshold above which a training vector counts as a
    * semantic hit on the eval set (the planted near-dup band of this
    * corpus; production tunes per eval suite).
    */
  val SemDecontamTau = 0.35

  /** Q-CORPUS-14: SEMANTIC decontamination — the embedding-space
    * complement of the n-gram [[decontam]]: an eval item paraphrased
    * into different surface tokens shares no shingles but stays close
    * in embedding space. Eval set = the deterministic `vec_id % 10 = 0`
    * slice; a training vector is contaminated when some eval vector in
    * its 16-bit hyperplane LSH bucket ([[Similarity.bucketCol]] — the
    * same blocking the cosine-dedup scale path uses) has cosine ≥
    * [[SemDecontamTau]]. Emits every training vector with its
    * candidate/hit counts and the verdict.
    *
    * Shape at 100 TB: the eval side is tiny (benchmarks are thousands
    * of rows) — it broadcasts; candidates are bucket-equi-join bound,
    * the all-pairs product never forms, and the raw training corpus
    * never shuffles (only (vec_id, bucket, embedding) projections).
    */
  def decontamSem(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Portable.{dot, l2norm}
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
        Similarity.bucketCol(col("embedding")).as("bucket"))
    val eval_ = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_emb"),
        col("nrm").as("e_nrm"), col("bucket"))
    val train = e.filter(col("vec_id") % 10 =!= 0)
    train.join(broadcast(eval_), Seq("bucket"), "left")
      .select(col("vec_id"),
        when(col("e_id").isNotNull, 1L).otherwise(0L).as("cand"),
        when(col("e_id").isNotNull &&
          dot(col("embedding"), col("e_emb")) / (col("nrm") * col("e_nrm"))
            >= SemDecontamTau, 1L).otherwise(0L).as("hit"))
      .groupBy(col("vec_id"))
      .agg(sum(col("cand")).as("n_candidates"),
        sum(col("hit")).as("n_hits"),
        (sum(col("hit")) > 0).as("contaminated"))
  }

  val decontamSemSql: String = {
    import graft.llm.Portable.{dotSql, l2normSql}
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm,
       |    (${Similarity.bucketSqlExpr("embedding")}) AS bucket
       |  FROM embeddings),
       |ev AS (SELECT vec_id AS e_id, embedding AS e_emb, nrm AS e_nrm, bucket
       |       FROM e WHERE vec_id % 10 = 0),
       |tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
       |j AS (
       |  SELECT tr.vec_id,
       |    CASE WHEN ev.e_id IS NOT NULL THEN 1 ELSE 0 END AS cand,
       |    CASE WHEN ev.e_id IS NOT NULL AND
       |      ${dotSql("tr.embedding", "ev.e_emb")} / (tr.nrm * ev.e_nrm)
       |        >= $SemDecontamTau THEN 1 ELSE 0 END AS hit
       |  FROM tr LEFT JOIN ev USING (bucket))
       |SELECT vec_id, sum(cand)::BIGINT AS n_candidates,
       |  sum(hit)::BIGINT AS n_hits, sum(hit) > 0 AS contaminated
       |FROM j GROUP BY vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_corpus_delta", delta, Some(deltaSql)),
    Q("q_corpus_decontam_sem", decontamSem, Some(decontamSemSql)),
    Q("q_corpus_funnel", funnel, Some(funnelSql)),
    Q("q_corpus_decontam", decontam, Some(decontamSql)),
    Q("q_corpus_decontam_bloom", decontamBloom, Some(decontamBloomSql)),
    Q("q_corpus_decontam_attr", decontamAttr, Some(decontamAttrSql)),
    Q("q_corpus_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Q("q_corpus_epochs", epochs, Some(epochsSql)),
    Q("q_corpus_strat_shards", stratShards, Some(stratShardsSql)),
    Q("q_corpus_temperature", temperature, Some(temperatureSql)),
    Q("q_corpus_filter_chain", filterChain, Some(filterChainSql)),
    Q("q_corpus_weighted_sample", weightedSample, Some(weightedSampleSql)),
    Q("q_corpus_datasheet", datasheet, Some(datasheetSql)),
    Q("q_corpus_strat_sample", stratSample, Some(stratSampleSql)))
}
