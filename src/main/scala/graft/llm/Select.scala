package graft.llm

import graft.Tables
import graft.queries.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel
import Portable._

/** Data-selection operators — the model-driven half of a training-data
  * pipeline (the heuristic half lives in [[TextOps]], the dedup half in
  * [[Dedup]]): corpus-statistics quality scoring, a hashed-feature
  * linear domain classifier, leakage-safe train/val splitting, per-domain
  * caps, and inverted-index retrieval.
  *
  * Everything is hash-oracle-checked against DuckDB. Scores stick to
  * IEEE-exact operations (+ − × ÷ over integers and doubles in a fixed
  * association order) — `ln`/`exp` are NOT correctly-rounded and differ
  * between engines' libm in ~0.03% of arguments (measured), so the
  * standard log-domain formulations (perplexity, log-odds, BM25's log
  * idf) are re-expressed in the linear/rational domain. Ordering
  * behavior is preserved where it matters (idf and tf-saturation stay
  * monotone in the same direction); the divergence is documented at
  * each operator.
  */
object Select {

  // ------------------------------------------------------------ Q-SEL-1

  /** Q-SEL-1: unigram corpus-statistics quality score — the cheap
    * "perplexity proxy" gate (CCNet-style: score each document under a
    * language model built from the corpus itself; here the model is the
    * corpus unigram distribution, the strongest model expressible in
    * exact arithmetic).
    *
    * Per document: `mean_tok_prob` = mean over tokens of the token's
    * corpus probability (high = made of common words ⇒ fluent under the
    * model) and `rare_ratio` = fraction of tokens with corpus frequency
    * below 1% (high = off-distribution junk). The fluency gate combines
    * both. Log-perplexity would be `-mean(log p)`; the linear-domain
    * `mean(p)` keeps the same "junk scores low" direction with
    * bit-exact cross-engine arithmetic (see object doc).
    *
    * Shape at 100 TB: two shuffles of compact (int64, int64) pairs —
    * (1) the vocabulary aggregation (map-side combined; output is
    * vocabulary-sized, millions of rows, not corpus-sized), (2) the
    * token→count equi-join + per-doc re-aggregation. Document payloads
    * never shuffle; integer sums keep every aggregate exact.
    */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), h60(col("tok")).as("th"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy(col("th")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast(LongType).as("t_total"))
    toks.join(vocab, Seq("th"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        sum(when(col("cnt") * 100L < col("t_total"), 1L).otherwise(0L)).as("n_rare"),
        first(col("t_total")).as("t_total"))
      .select(
        col("doc_id"), col("n_tokens"), col("sum_cnt"), col("n_rare"),
        (col("sum_cnt").cast(DoubleType) /
          (col("n_tokens").cast(DoubleType) * col("t_total").cast(DoubleType)))
          .as("mean_tok_prob"),
        (col("n_rare").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("rare_ratio"))
      .withColumn("is_fluent",
        col("mean_tok_prob") > 0.03 && col("rare_ratio") < 0.05)
  }

  val lmScoreSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (
       |  SELECT doc_id, ${h60Sql("tok")} AS th
       |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)),
       |vocab AS (SELECT th, count(*)::BIGINT AS cnt FROM tk GROUP BY th),
       |tot AS (SELECT sum(cnt)::BIGINT AS t_total FROM vocab),
       |agg AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(cnt)::BIGINT AS sum_cnt,
       |    sum(CASE WHEN cnt * 100 < t_total THEN 1 ELSE 0 END)::BIGINT AS n_rare,
       |    any_value(t_total) AS t_total
       |  FROM tk JOIN vocab USING (th) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT doc_id, n_tokens, sum_cnt, n_rare,
       |  sum_cnt::DOUBLE / (n_tokens::DOUBLE * t_total::DOUBLE) AS mean_tok_prob,
       |  n_rare::DOUBLE / n_tokens::DOUBLE AS rare_ratio,
       |  (sum_cnt::DOUBLE / (n_tokens::DOUBLE * t_total::DOUBLE) > 0.03
       |    AND n_rare::DOUBLE / n_tokens::DOUBLE < 0.05) AS is_fluent
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------ Q-SEL-2

  /** Q-SEL-2: hashed-feature linear domain classifier — the
    * fastText-style quality/domain filter (and the importance-weight
    * numerator of DSIR-style selection): score each document by how
    * much its tokens look drawn from a TARGET distribution (here
    * `lang = 'en'`, standing in for "curated reference corpus") versus
    * the raw rest.
    *
    * The per-feature weight is the exact integer cross-difference
    *   `w(t) = tcnt(t)·r_total − rcnt(t)·t_total`
    * (positive iff the token is relatively more frequent in the
    * target), i.e. the sign of the log-odds ratio without the log —
    * the per-doc score `Σ w(token) / (n·t_total·r_total)` is the mean
    * frequency-difference `mean(p_target(t) − p_raw(t))`, computed with
    * integer sums so both engines agree to the bit. (True DSIR sums
    * log-ratios; same sign per feature, different magnitude weighting —
    * see object doc for why log stays out of the oracle-checked path.)
    *
    * Shape at 100 TB: identical twin of [[lmScore]] — one
    * vocabulary-sized conditional aggregation, one compact equi-join +
    * per-doc re-aggregation; int64 products stay < 2⁶³ while
    * `token_count × corpus_total` < 2⁶³ (at larger totals the weight
    * column widens to DECIMAL(38,0) — same plan).
    */
  def classifier(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), (col("lang") === "en").as("is_t"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_t"), h60(col("tok")).as("th"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = toks.groupBy(col("th")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tcnt"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("rcnt"))
    val totals = stats.agg(
      sum(col("tcnt")).cast(LongType).as("t_total"),
      sum(col("rcnt")).cast(LongType).as("r_total"))
    toks.join(stats, Seq("th"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tcnt") * col("r_total") - col("rcnt") * col("t_total")).as("score_num"),
        first(col("is_t")).as("is_target"),
        first(col("t_total")).as("t_total"),
        first(col("r_total")).as("r_total"))
      .select(
        col("doc_id"), col("is_target"), col("n_tokens"), col("score_num"),
        (col("score_num").cast(DoubleType) /
          (col("n_tokens").cast(DoubleType) * col("t_total").cast(DoubleType) *
            col("r_total").cast(DoubleType))).as("score"),
        (col("score_num") > 0L).as("pred_target"))
  }

  val classifierSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (
       |  SELECT doc_id, is_t, ${h60Sql("tok")} AS th
       |  FROM (SELECT doc_id, lang = 'en' AS is_t, unnest($toks) AS tok FROM documents)),
       |st AS (
       |  SELECT th,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS tcnt,
       |    sum(CASE WHEN is_t THEN 0 ELSE 1 END)::BIGINT AS rcnt
       |  FROM tk GROUP BY th),
       |tot AS (SELECT sum(tcnt)::BIGINT AS t_total, sum(rcnt)::BIGINT AS r_total FROM st),
       |agg AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(tcnt * r_total - rcnt * t_total)::BIGINT AS score_num,
       |    any_value(is_t) AS is_target,
       |    any_value(t_total) AS t_total, any_value(r_total) AS r_total
       |  FROM tk JOIN st USING (th) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT doc_id, is_target, n_tokens, score_num,
       |  score_num::DOUBLE / (n_tokens::DOUBLE * t_total::DOUBLE * r_total::DOUBLE) AS score,
       |  score_num > 0 AS pred_target
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------ Q-SEL-3

  /** Q-SEL-3: leakage-safe train/validation split. Hashing raw doc ids
    * into splits leaks: two near-duplicates can straddle train and val,
    * inflating held-out scores. The split key here is the NEAR-DUP
    * CLUSTER id ([[Dedup.clusters]]: MinHash-LSH pairs → connected
    * components), so a document and all its near-duplicates land in the
    * same side by construction. Content-hash bucketing (not RNG) keeps
    * the split reproducible across runs and partitionings.
    *
    * Shape at 100 TB: the cluster map is the already-audited dedup
    * pipeline; the split itself is one codegen'd map pass over
    * (doc_id, cluster_id) — no new shuffle.
    */
  def split(s: SparkSession, d: String): DataFrame =
    Dedup.clusters(s, d)
      .withColumn("bucket", h60(col("cluster_id").cast("string")) % 100L)
      .select(
        col("doc_id"), col("cluster_id"), col("is_keeper"), col("bucket"),
        when(col("bucket") < 90L, "train").otherwise("val").as("split"))
      .withColumn("in_train_corpus", col("is_keeper") && col("split") === "train")

  val splitSql: String =
    s"""WITH cl AS (${Dedup.clustersSql})
       |SELECT doc_id, cluster_id, is_keeper,
       |  ${h60Sql("cluster_id::VARCHAR")} % 100 AS bucket,
       |  CASE WHEN ${h60Sql("cluster_id::VARCHAR")} % 100 < 90 THEN 'train' ELSE 'val' END AS split,
       |  (is_keeper AND ${h60Sql("cluster_id::VARCHAR")} % 100 < 90) AS in_train_corpus
       |FROM cl""".stripMargin

  // ------------------------------------------------------------ Q-SEL-4

  /** Per-domain document cap (RefinedWeb-style source balancing). */
  val DomainCap = 20

  /** Q-SEL-4: per-domain caps — bound any one source's share of the
    * corpus (over-represented domains crowd out diversity; the standard
    * fix caps documents per domain). Rank within each `source` by
    * content hash (deterministic, order-independent — no RNG state, no
    * ingestion-order bias) and keep the first [[DomainCap]].
    *
    * Shape at 100 TB: one shuffle partitioned by `source` for the
    * rank/count windows over compact (source, hash, doc_id) triples —
    * payloads stay behind the projection. Domain skew (one giant
    * source) is the known hazard: the rank only needs the TOP
    * [[DomainCap]] per key, so a skewed deployment swaps in a per-key
    * top-k (salted partial heaps, same result) without changing the
    * contract.
    */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("thash"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), h60(col("text")).as("thash"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n_docs_source",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast(LongType))
      .select(col("doc_id"), col("source"), col("rk"), col("n_docs_source"),
        (col("rk") <= DomainCap).as("kept_cap"))
  }

  val domainCapSql: String =
    s"""SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source ORDER BY ${h60Sql("text")}, doc_id)::BIGINT AS rk,
       |  count(*) OVER (PARTITION BY source)::BIGINT AS n_docs_source,
       |  row_number() OVER (PARTITION BY source ORDER BY ${h60Sql("text")}, doc_id) <= $DomainCap AS kept_cap
       |FROM documents""".stripMargin

  /** Q-SEL-4b: the domain cap's 100 TB form — the SAME kept set as
    * [[domainCap]], computed by the bounded top-k aggregate
    * ([[graft.functions.TopKAggregator]]) instead of a rank window.
    * The window shape shuffles and sorts EVERY row of every domain;
    * this one carries at most [[DomainCap]] rows per (input partition,
    * domain) into the shuffle (map-side partial) and O(k) state per
    * domain on the reduce side — immune to domain skew by
    * construction. PlanSpec gates that the plan is window-free with
    * partial aggregation; the oracle pins the result to the window
    * form's kept rows.
    */
  def domainTopK(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(DomainCap, Ordering.Long))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), h60(col("text")).as("thash"))
      .groupBy(col("source"))
      .agg(topk(col("thash"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast(LongType).as("rk"),
        col("col").getField("_2").as("doc_id"))
  }

  val domainTopKSql: String =
    s"""SELECT source, rk, doc_id FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY ${h60Sql("text")}, doc_id)::BIGINT AS rk
       |  FROM documents) WHERE rk <= $DomainCap""".stripMargin

  // ------------------------------------------------------------ Q-SEL-5

  /** Retrieval benchmark queries: (query_id, terms). Fixed literals so
    * the oracle re-derives them; ≤ 4 terms keeps the per-query score a
    * fixed-order sum of exact doubles.
    */
  val SearchQueries: Seq[(String, Seq[String])] = Seq(
    ("spark_join", Seq("spark", "join")),
    ("hash_table_scan", Seq("hash", "table", "scan")),
    ("stream_window", Seq("stream", "window")))

  val SearchTopK = 10

  /** Q-SEL-5: inverted-index keyword retrieval with BM25-shaped
    * scoring — the lexical side of training-data curation (targeted
    * selection, eval-set mining, "find documents about X" audits).
    *
    * Score per (doc, term) = idf_r × tf_sat with the standard BM25 tf
    * saturation `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`, k1=1.2, b=0.75,
    * and the RATIONAL idf `(N−df+0.5)/(df+0.5)` — BM25's idf without
    * the final log, keeping the same monotone ordering per term while
    * staying bit-exact across engines (see object doc). Per-query doc
    * score sums the term scores in declared term order (fixed-order
    * double adds); top-[[SearchTopK]] by (score desc, doc_id).
    * Persisted intermediates (`base`, `scored`) feed multiple branches
    * of the RETURNED plan, so they unpersist harness-side
    * ([[graft.Tables.releaseCaches]] between queries) — the shared
    * convention across registered queries.
    *
    * Shape at 100 TB: the posting extraction filters to the query's
    * terms BEFORE any shuffle (a map-side `isin` over exploded tokens —
    * with a real inverted index this is the index scan), so everything
    * downstream is proportional to the matching postings, not the
    * corpus; doc lengths join the postings by doc_id; the final top-k
    * is `TakeOrderedAndProject` (per-partition heaps, no global sort).
    */
  def search(s: SparkSession, d: String): DataFrame = {
    val allTerms = SearchQueries.flatMap(_._2).distinct
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = base.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).cast(LongType).as("t_total"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        ((((col("n_docs") - col("df")).cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))) *
          ((col("tf").cast(DoubleType) * lit(2.2)) /
            (col("tf").cast(DoubleType) + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast(DoubleType) /
                (col("t_total").cast(DoubleType) / col("n_docs").cast(DoubleType)))))))
          .as("sc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    SearchQueries.map { case (qid, terms) => searchOne(scored, qid, terms) }
      .reduce(_ unionAll _)
  }

  private def searchOne(scored: DataFrame, qid: String, terms: Seq[String]): DataFrame = {
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("sc"))).as(s"s$i")
    }
    val score = terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0))).reduce(_ + _)
    scored.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(SearchTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .select(lit(qid).as("query_id"), col("rk"), col("doc_id"), col("score"))
  }

  val searchSql: String = {
    val toks = tokensSql("text")
    val allTerms = SearchQueries.flatMap(_._2).distinct.map("'" + _ + "'").mkString(", ")
    // per-query: pivot the matched terms to fixed columns so the score
    // is a FIXED-ORDER sum of doubles (groupBy-sum order would not be)
    def oneFull(qid: String, terms: Seq[String]): String = {
      val inList = terms.map("'" + _ + "'").mkString(", ")
      val sCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN sc END) AS s$i"
      }.mkString(", ")
      val scoreSum = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
      s"""SELECT '$qid' AS query_id, rk, doc_id, score FROM (
         |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rk
         |  FROM (
         |    SELECT doc_id, $scoreSum AS score FROM (
         |      SELECT doc_id, $sCols FROM scored WHERE term IN ($inList) GROUP BY doc_id) p)
         |  ) z WHERE rk <= $SearchTopK""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |bl AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM base),
       |st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS t_total FROM bl),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bl)
       |  WHERE term IN ($allTerms)
       |  GROUP BY doc_id, dl, term),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc_id, term,
       |    (((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) *
       |    ((tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
       |      (dl::DOUBLE / (t_total::DOUBLE / n_docs::DOUBLE))))) AS sc
       |  FROM tf JOIN dft USING (term) CROSS JOIN st)
       |${SearchQueries.map { case (q, t) => oneFull(q, t) }.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ------------------------------------------------------------ Q-SEL-6

  /** Selection size for the registered DSIR query; a production run
    * pins its own absolute count — same plan.
    */
  val DsirK = 100

  /** Seed for the DSIR priority draw (the only randomness, and it is
    * a deterministic seeded hash — rerunning reproduces the sample).
    */
  val DsirSeed = "dsir1"

  /** Q-SEL-6: DSIR-style importance RESAMPLING (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * the classifier ([[classifier]]) ends at a score; this operator
    * completes the pipeline stage — draw a K-document sample whose
    * inclusion probability is proportional to the document's
    * importance weight `p_target / p_raw`, via priority sampling
    * (Duffield-Lund-Thorup: priority = w/u with u uniform(0,1];
    * keep the top K priorities — unbiased weighted-sample semantics
    * with a deterministic, auditable draw).
    *
    * Cross-engine exactness (object doc): DSIR's log-ratio weights
    * stay out of the oracle path. The weight here is the rational
    *   `w = (Σ_t tcnt(t)·a_total) / (Σ_t acnt(t)·t_total)`
    * over the document's token instances — the ratio of the doc's
    * mean token probability under the TARGET distribution (`lang =
    * 'en'`, standing in for the curated reference corpus) to its mean
    * probability under the RAW pool (all documents) — integer sums,
    * then IEEE-exact double division in a pinned order. The denominator
    * `Σ acnt·t_total` is positive iff the TARGET cohort has ≥1 token;
    * an EMPTY target (no `'en'` docs at all) would make every weight
    * 0/0, so that case is guarded explicitly: weight 0, nothing
    * selected — there is no target distribution to importance-sample
    * toward (both engines carry the identical CASE guard). The
    * uniform draw is `u ∝ h60(seed:doc_id) + 1` (the constant 2⁻⁶⁰
    * scale cancels in ranking and is dropped). Int64 bound: token
    * instances N keep `cnt·total ≤ N²` and the per-doc sum ≤ L·N²
    * (tokens-per-doc L ≈ 50) — fine through sf10; beyond that the
    * weight columns widen to DECIMAL(38,0), same plan.
    *
    * Shape at 100 TB: the scoring twin of [[classifier]] — one
    * vocabulary-sized aggregation, one compact token→count equi-join +
    * per-doc re-aggregation (document payloads never shuffle). The
    * doc-level (doc_id, priority) table persists compactly; the
    * selection threshold is a bounded top-K (`TakeOrderedAndProject`)
    * broadcast back map-side — no global sort, no global rank window.
    */
  def dsir(s: SparkSession, d: String, k: Int = DsirK): DataFrame = {
    val toks = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), (col("lang") === "en").as("is_t"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_t"), h60(col("tok")).as("th"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = toks.groupBy(col("th")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tcnt"),
      count(lit(1)).as("acnt"))
    val totals = stats.agg(
      sum(col("tcnt")).cast(LongType).as("t_total"),
      sum(col("acnt")).cast(LongType).as("a_total"))
    val scored = toks.join(stats, Seq("th"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tcnt") * col("a_total")).as("weight_num"),
        sum(col("acnt") * col("t_total")).as("weight_den"))
      .select(
        col("doc_id"), col("n_tokens"), col("weight_num"), col("weight_den"),
        // empty-target guard (object doc): weight_den = 0 ⇔ t_total = 0
        when(col("weight_den") === 0L, lit(0.0))
          .otherwise(col("weight_num").cast(DoubleType) / col("weight_den").cast(DoubleType))
          .as("weight"),
        (h60(concat(lit(DsirSeed + ":"), col("doc_id").cast("string"))) + 1L).as("u_h"))
      .withColumn("priority", col("weight") / col("u_h").cast(DoubleType))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val thresh = scored.select(col("priority"))
      .orderBy(col("priority").desc).limit(k)
      .agg(min(col("priority")).as("thresh"))
    scored.crossJoin(broadcast(thresh))
      .select(col("doc_id"), col("n_tokens"), col("weight_num"), col("weight_den"),
        col("weight"), col("priority"),
        (col("priority") >= col("thresh") && col("weight_den") > 0L).as("selected"))
  }

  val dsirSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (
       |  SELECT doc_id, is_t, ${h60Sql("tok")} AS th
       |  FROM (SELECT doc_id, lang = 'en' AS is_t, unnest($toks) AS tok FROM documents)),
       |st AS (
       |  SELECT th,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS tcnt,
       |    count(*)::BIGINT AS acnt
       |  FROM tk GROUP BY th),
       |tot AS (SELECT sum(tcnt)::BIGINT AS t_total, sum(acnt)::BIGINT AS a_total FROM st),
       |scored AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(tcnt * a_total)::BIGINT AS weight_num,
       |    sum(acnt * t_total)::BIGINT AS weight_den
       |  FROM tk JOIN st USING (th) CROSS JOIN tot
       |  GROUP BY doc_id),
       |pri AS (
       |  SELECT doc_id, n_tokens, weight_num, weight_den,
       |    CASE WHEN weight_den = 0 THEN 0.0::DOUBLE
       |         ELSE weight_num::DOUBLE / weight_den::DOUBLE END AS weight,
       |    CASE WHEN weight_den = 0 THEN 0.0::DOUBLE
       |         ELSE weight_num::DOUBLE / weight_den::DOUBLE END /
       |      ((${h60Sql(s"'$DsirSeed:' || doc_id")}) + 1)::DOUBLE AS priority
       |  FROM scored),
       |thr AS (
       |  SELECT min(priority) AS thresh
       |  FROM (SELECT priority FROM pri ORDER BY priority DESC LIMIT $DsirK))
       |SELECT doc_id, n_tokens, weight_num, weight_den, weight, priority,
       |  priority >= thresh AND weight_den > 0 AS selected
       |FROM pri CROSS JOIN thr""".stripMargin
  }

  // ------------------------------------------------------------ Q-SEL-7

  /** Q-SEL-7: CCNet-style per-language perplexity bucketing (Wenzek et
    * al. 2020): score every document under the corpus language model
    * ([[lmScore]]'s linear-domain perplexity proxy), then split EACH
    * LANGUAGE into equal head / middle / tail thirds by score — CCNet
    * keeps head+middle and drops (or quarantines) the tail. Bucketing
    * per language is the point: absolute thresholds would empty
    * low-resource languages; per-language terciles keep every
    * language's best two-thirds.
    *
    * The tercile cut is `ntile(3)` over (score DESC, doc_id) — the
    * deterministic total order makes the bucket boundary engine-exact
    * (same rule as every rank cut in this package).
    *
    * Shape at 100 TB: the [[lmScore]] scoring shuffles (vocabulary
    * aggregation + compact token join; payloads never move), then ONE
    * lang-keyed exchange shared by the tercile window — languages are
    * few and huge, so the per-language window is the same
    * single-shuffle shape as [[Corpus.tokenBudget]] and swaps for its
    * bounded top-k form at extreme skew.
    */
  def ccnet(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"), h60(col("tok")).as("th"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy(col("th")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast(LongType).as("t_total"))
    val scored = toks.join(vocab, Seq("th"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        first(col("lang")).as("lang"),
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        first(col("t_total")).as("t_total"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("sum_cnt").cast(DoubleType) /
          (col("n_tokens").cast(DoubleType) * col("t_total").cast(DoubleType)))
          .as("mean_tok_prob"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mean_tok_prob").desc, col("doc_id"))
    scored
      .withColumn("bucket", ntile(3).over(w).cast(LongType))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("mean_tok_prob"),
        col("bucket"),
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === 2L, "middle")
          .otherwise("tail").as("ppl_bucket"),
        (col("bucket") <= 2L).as("kept"))
  }

  val ccnetSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (
       |  SELECT doc_id, lang, ${h60Sql("tok")} AS th
       |  FROM (SELECT doc_id, lang, unnest($toks) AS tok FROM documents)),
       |vocab AS (SELECT th, count(*)::BIGINT AS cnt FROM tk GROUP BY th),
       |tot AS (SELECT sum(cnt)::BIGINT AS t_total FROM vocab),
       |agg AS (
       |  SELECT doc_id, any_value(lang) AS lang, count(*)::BIGINT AS n_tokens,
       |    sum(cnt)::BIGINT AS sum_cnt, any_value(t_total) AS t_total
       |  FROM tk JOIN vocab USING (th) CROSS JOIN tot
       |  GROUP BY doc_id),
       |scored AS (
       |  SELECT doc_id, lang, n_tokens,
       |    sum_cnt::DOUBLE / (n_tokens::DOUBLE * t_total::DOUBLE) AS mean_tok_prob
       |  FROM agg)
       |SELECT doc_id, lang, n_tokens, mean_tok_prob,
       |  ntile(3) OVER (PARTITION BY lang
       |    ORDER BY mean_tok_prob DESC, doc_id)::BIGINT AS bucket,
       |  CASE ntile(3) OVER (PARTITION BY lang
       |    ORDER BY mean_tok_prob DESC, doc_id)
       |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
       |  ntile(3) OVER (PARTITION BY lang
       |    ORDER BY mean_tok_prob DESC, doc_id) <= 2 AS kept
       |FROM scored""".stripMargin
  }

  // ------------------------------------------------------------ Q-SEL-8

  /** Query-by-example exemplars for [[hybridRrf]] — fixed doc ids
    * present in BOTH `documents` and `embeddings` at every SF, so the
    * lexical and dense retrievers serve the same information needs.
    */
  val HybridExemplars: Seq[Long] = Seq(7L, 123L, 401L)
  val HybridListK = 20
  val HybridTopK = 10
  val RrfC = 60

  /** Q-SEL-8: HYBRID retrieval — reciprocal-rank fusion (Cormack et
    * al. 2009) of a lexical ranker and a dense ranker, the standard
    * two-tower serving recipe (BM25 ∪ embeddings → RRF) used for
    * eval-set mining and retrieval-training-data assembly. Per
    * exemplar document:
    *
    *   - LEXICAL list: token-set Jaccard against the corpus (the
    *     query-by-example form of the inverted-index side; one integer
    *     division per candidate ⇒ bit-exact), top-[[HybridListK]];
    *   - DENSE list: cosine against the `embeddings` table (the
    *     [[Similarity]] scoring kernel), top-[[HybridListK]];
    *   - FUSION: full outer join of the two K-row lists on (q, doc);
    *     `rrf = Σ 1/(C + rank)` with C = [[RrfC]] — a fixed-order
    *     two-term double sum over exact divisions ⇒ bit-exact. Docs on
    *     one list only score with the terms they have (standard RRF).
    *     `dense_only` flags semantic hits with NO lexical support —
    *     the mining signal for retrieval-training negatives/positives.
    *
    * Shape at 100 TB: each retriever serves from its own index (the
    * lexical side's production form is [[search]]'s posting-list scan;
    * the dense side's is the IVF probe) — the brute scans here are the
    * registered exact baselines, with exemplars BROADCAST so scoring
    * is map-only. The fusion itself touches only 2·K rows per query
    * regardless of corpus size — that is RRF's scale property.
    */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("dt"))
    val qd = docs.filter(col("doc_id").isin(HybridExemplars: _*))
      .select(col("doc_id").as("q_id"), col("dt").as("qdt"))
    val inter = size(array_intersect(col("dt"), col("qdt"))).cast(LongType)
    val wLex = Window.partitionBy("q_id").orderBy(col("jac").desc, col("doc_id"))
    val lex = docs.join(broadcast(qd), col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"),
        (inter.cast(DoubleType) /
          (size(col("dt")) + size(col("qdt")) - inter).cast(DoubleType)).as("jac"))
      .withColumn("r_lex", row_number().over(wLex).cast(LongType))
      .filter(col("r_lex") <= HybridListK)
      .select(col("q_id"), col("doc_id"), col("r_lex"))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val qe = e.filter(col("vec_id").isin(HybridExemplars: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val wDen = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("doc_id"))
    val den = e.join(broadcast(qe), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("r_dense", row_number().over(wDen).cast(LongType))
      .filter(col("r_dense") <= HybridListK)
      .select(col("q_id"), col("doc_id"), col("r_dense"))
    val wRrf = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(den, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"), col("r_lex"), col("r_dense"),
        (coalesce(lit(1.0) / (col("r_lex") + lit(RrfC)).cast(DoubleType), lit(0.0)) +
          coalesce(lit(1.0) / (col("r_dense") + lit(RrfC)).cast(DoubleType), lit(0.0)))
          .as("rrf"))
      .withColumn("rk", row_number().over(wRrf).cast(LongType))
      .filter(col("rk") <= HybridTopK)
      .select(col("q_id"), col("rk"), col("doc_id"), col("rrf"),
        col("r_lex"), col("r_dense"), col("r_lex").isNull.as("dense_only"))
  }

  val hybridRrfSql: String = {
    val ids = HybridExemplars.mkString(", ")
    s"""WITH dt AS (
       |  SELECT doc_id, list_distinct(${tokensSql("text")}) AS dt FROM documents),
       |qd AS (SELECT doc_id AS q_id, dt AS qdt FROM dt WHERE doc_id IN ($ids)),
       |lexs AS (
       |  SELECT q_id, doc_id,
       |    len(list_intersect(dt, qdt))::DOUBLE /
       |      (len(dt) + len(qdt) - len(list_intersect(dt, qdt)))::DOUBLE AS jac
       |  FROM dt CROSS JOIN qd WHERE doc_id <> q_id),
       |lex AS (
       |  SELECT q_id, doc_id, r_lex FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY jac DESC, doc_id)::BIGINT AS r_lex
       |    FROM lexs) WHERE r_lex <= $HybridListK),
       |e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm FROM embeddings),
       |qe AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |       FROM e WHERE vec_id IN ($ids)),
       |dens AS (
       |  SELECT q_id, vec_id AS doc_id,
       |    ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM e CROSS JOIN qe WHERE vec_id <> q_id),
       |den AS (
       |  SELECT q_id, doc_id, r_dense FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, doc_id)::BIGINT AS r_dense
       |    FROM dens) WHERE r_dense <= $HybridListK),
       |fused AS (
       |  SELECT q_id, doc_id, r_lex, r_dense,
       |    coalesce(1.0::DOUBLE / ($RrfC + r_lex)::DOUBLE, 0.0::DOUBLE) +
       |    coalesce(1.0::DOUBLE / ($RrfC + r_dense)::DOUBLE, 0.0::DOUBLE) AS rrf
       |  FROM lex FULL JOIN den USING (q_id, doc_id))
       |SELECT q_id, rk, doc_id, rrf, r_lex, r_dense, r_lex IS NULL AS dense_only FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, doc_id)::BIGINT AS rk
       |  FROM fused) WHERE rk <= $HybridTopK""".stripMargin
  }

  val KeywordsTopK = 3

  /** Q-SEL-7: per-document TF-IDF keyword extraction — the corpus-wide
    * twin of [[search]] (which scores only the query's terms): EVERY
    * token is scored, and each document reports its [[KeywordsTopK]]
    * most characteristic terms. This is the doc-level feature a
    * curation run uses for topic tagging, cluster labeling, and
    * training-mix audits ("what is this shard actually about").
    *
    * idf is the RATIONAL `(N+1)/(df+1)` (no `log` — same monotone
    * per-term ordering, bit-exact across engines; see [[search]]); the
    * score is `tf · idf` = int→double conversions, one divide, one
    * multiply — every op correctly rounded, so the (score desc, term)
    * rank is identical in both engines.
    *
    * Shape at 100 TB: the canonical three-shuffle TF-IDF — (doc, term)
    * count with map-side combine (compact pairs, not documents), df as
    * a term-keyed WINDOW over those counts (one shuffle, no separate
    * vocab rollup rejoined back — a join form would recompute or
    * materialize the heavy pairs stage twice), and a doc-keyed window
    * for the per-doc top-k. No driver-side state; every stage is keyed
    * by compact ids.
    */
  def keywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val tf = base
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wTerm = Window.partitionBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast(DoubleType) *
          ((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1).cast(DoubleType)))
          .as("score"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= KeywordsTopK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
  }

  val keywordsSql: String = {
    val toks = tokensSql("text")
    s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
       |n AS (SELECT count(*)::BIGINT AS n_docs FROM base),
       |tf AS (
       |  SELECT doc_id, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
       |  GROUP BY doc_id, term),
       |scored AS (
       |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term)::BIGINT AS df,
       |    tf::DOUBLE * ((n_docs + 1)::DOUBLE /
       |      (count(*) OVER (PARTITION BY term) + 1)::DOUBLE) AS score
       |  FROM tf, n)
       |SELECT doc_id, rk, term, tf, df, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term)::BIGINT AS rk
       |  FROM scored) WHERE rk <= $KeywordsTopK""".stripMargin
  }

  /** Q-SEL-EVAL: classifier evaluation card — exact ROC-AUC plus the
    * thresholded confusion counts, in one summary row. The AUC is the
    * tie-corrected Mann-Whitney U over AVERAGE ranks:
    * `AUC = (Σ_pos avgrank − n_pos(n_pos+1)/2) / (n_pos·n_neg)` with
    * `avgrank = cum_before + (cnt+1)/2` per distinct score — integer
    * counts plus exact .5 halves, so both engines agree to the bit
    * (no trapezoid interpolation, no sort-order ambiguity: ties share
    * one rank by construction). Precision/recall/F1 come from the
    * `score_num > 0` decision [[classifier]] already ships; each ratio
    * carries a zero-denominator CASE guard mirrored in the oracle.
    *
    * Shape at 100 TB: one pass over the scored docs (the classifier's
    * own plan), a per-distinct-score aggregate, and a running sum over
    * the DISTINCT-SCORE dimension via [[graft.plans.BucketedOrder]] —
    * float-scored corpora make distinct-scores ≈ docs, so the prefix
    * sum runs range-bucketed (parallel partitions), never as a
    * single-partition window. The AUC contract — average ranks — is
    * decomposition-independent.
    */
  def classifierEval(s: SparkSession, d: String): DataFrame = {
    val sc = classifier(s, d)
      .select(col("is_target"), col("score"), col("pred_target"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val conf = sc.agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("n_neg"),
      sum(when(col("is_target") && col("pred_target"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("is_target") && col("pred_target"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("is_target") && !col("pred_target"), 1L).otherwise(0L)).as("fn"))
    val perScore = sc.groupBy(col("score")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("pos"))
    // exclusive prefix = inclusive (bucketed two-pass) minus own count
    val cum = graft.plans.BucketedOrder.withOrderStats(
        perScore, rangeKey = col("score"), order = Seq(col("score")),
        cums = Seq("cum_incl" -> "cnt"), rankCol = "__rk")
      .withColumn("cum_before", col("cum_incl") - col("cnt"))
    val sumPosRank = cum.agg(
      sum(col("pos").cast(DoubleType) *
        (col("cum_before").cast(DoubleType) +
          (col("cnt").cast(DoubleType) + lit(1.0)) / lit(2.0))).as("pos_rank_sum"))
    val p = col("tp").cast(DoubleType) / (col("tp") + col("fp")).cast(DoubleType)
    val r = col("tp").cast(DoubleType) / (col("tp") + col("fn")).cast(DoubleType)
    conf.crossJoin(broadcast(sumPosRank))
      .select(col("n_pos"), col("n_neg"), col("tp"), col("fp"), col("fn"),
        // one-class corpus has no ranking to score: pin AUC to 0.0
        // rather than IEEE 0/0 (NaN here, NULL-vs-NaN in DuckDB)
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(0.0)).otherwise(
          (col("pos_rank_sum") -
            (col("n_pos") * (col("n_pos") + 1L)).cast(DoubleType) / lit(2.0)) /
            (col("n_pos").cast(DoubleType) * col("n_neg").cast(DoubleType))).as("auc"),
        when(col("tp") + col("fp") === 0L, lit(0.0)).otherwise(p).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(0.0)).otherwise(r).as("recall"),
        when(col("tp") + col("fp") === 0L || col("tp") + col("fn") === 0L
            || col("tp") === 0L, lit(0.0))
          .otherwise(lit(2.0) * p * r / (p + r)).as("f1"))
  }

  val classifierEvalSql: String =
    s"""WITH sc AS (SELECT is_target, score, pred_target FROM ($classifierSql)),
       |conf AS (
       |  SELECT
       |    sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT AS n_neg,
       |    sum(CASE WHEN is_target AND pred_target THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN NOT is_target AND pred_target THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN is_target AND NOT pred_target THEN 1 ELSE 0 END)::BIGINT AS fn
       |  FROM sc),
       |ps AS (
       |  SELECT score, count(*)::BIGINT AS cnt,
       |    sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS pos
       |  FROM sc GROUP BY score),
       |cum AS (
       |  SELECT *, coalesce(sum(cnt) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       |  FROM ps),
       |pr AS (
       |  SELECT sum(pos::DOUBLE * (cum_before::DOUBLE + (cnt::DOUBLE + 1.0) / 2.0))
       |    AS pos_rank_sum FROM cum)
       |SELECT n_pos, n_neg, tp, fp, fn,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0
       |    ELSE (pos_rank_sum - (n_pos * (n_pos + 1))::DOUBLE / 2.0) /
       |      (n_pos::DOUBLE * n_neg::DOUBLE) END AS auc,
       |  CASE WHEN tp + fp = 0 THEN 0.0
       |    ELSE tp::DOUBLE / (tp + fp)::DOUBLE END AS precision,
       |  CASE WHEN tp + fn = 0 THEN 0.0
       |    ELSE tp::DOUBLE / (tp + fn)::DOUBLE END AS recall,
       |  CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tp = 0 THEN 0.0
       |    ELSE 2.0 * (tp::DOUBLE / (tp + fp)::DOUBLE) * (tp::DOUBLE / (tp + fn)::DOUBLE) /
       |      ((tp::DOUBLE / (tp + fp)::DOUBLE) + (tp::DOUBLE / (tp + fn)::DOUBLE)) END AS f1
       |FROM conf, pr""".stripMargin

  /** Q-SEL-CURVE: selection tradeoff curve — the quality-vs-size
    * Pareto a curator reads before picking a classifier threshold:
    * rank the corpus by score descending and report, at each keep-rate
    * decile, the documents/tokens kept, the score cut, and the target
    * recall (what fraction of known-target docs survive the cut).
    * DataComp/FineWeb-style threshold sweeps ARE this table.
    *
    * Determinism: ranks are `row_number` over (score DESC, doc_id) —
    * the score doubles are bit-equal cross-engine ([[classifier]]),
    * ties pinned by id; cut ranks are integer-ceil `(p·N+99) div 100`;
    * cumulative token/target counts are exact int64 running sums;
    * recall is one double division.
    *
    * Shape at 100 TB: the scored table is the classifier's own plan;
    * rank and running sums come from [[graft.plans.BucketedOrder]]
    * over the compact (score, doc_id, n_tokens, is_target) projection
    * — range-bucketed on score, so every partition sorts in parallel
    * (no single-partition window) — and the decile rows join against
    * a 10-row broadcast.
    */
  def selectionCurve(s: SparkSession, d: String): DataFrame = {
    val sc = classifier(s, d)
      .select(col("doc_id"), col("score"), col("n_tokens"), col("is_target"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // rangeKey −score: ascending-aligned with the score-DESC ranking
    val cums = graft.plans.BucketedOrder.withOrderStats(
        sc.withColumn("is_t", when(col("is_target"), 1L).otherwise(0L)),
        rangeKey = -col("score"), order = Seq(col("score").desc, col("doc_id")),
        cums = Seq("cum_tokens" -> "n_tokens", "cum_target" -> "is_t"))
      .select(col("score"), col("rk"), col("cum_tokens"), col("cum_target"))
    val tot = sc.agg(count(lit(1)).as("n"),
      sum(when(col("is_target"), 1L).otherwise(0L)).cast(LongType).as("n_target"))
    val targets = tot.select(col("n"), col("n_target"),
        explode(typedLit((1 to 10).map(_ * 10L))).as("pct"))
      .select(col("pct"), col("n_target"),
        expr("(pct * n + 99) div 100").cast(LongType).as("rk"))
    cums.join(broadcast(targets), Seq("rk"))
      .select(col("pct"), col("rk").as("n_docs_kept"), col("cum_tokens"),
        col("score").as("score_cut"),
        // no known-target docs → recall is undefined; pin 0.0, not 0/0
        when(col("n_target") === 0L, lit(0.0)).otherwise(
          col("cum_target").cast(DoubleType) / col("n_target").cast(DoubleType))
          .as("target_recall"))
  }

  val selectionCurveSql: String =
    s"""WITH sc AS (SELECT doc_id, score, n_tokens, is_target FROM ($classifierSql)),
       |cums AS (
       |  SELECT score,
       |    row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rk,
       |    sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens,
       |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_target
       |  FROM sc),
       |tot AS (SELECT count(*)::BIGINT AS n,
       |  sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS n_target FROM sc),
       |t AS (
       |  SELECT pct, n_target, (pct * n + 99) // 100 AS rk
       |  FROM tot, unnest([10, 20, 30, 40, 50, 60, 70, 80, 90, 100]::BIGINT[]) AS g(pct))
       |SELECT pct, rk AS n_docs_kept, cum_tokens, score AS score_cut,
       |  CASE WHEN n_target = 0 THEN 0.0
       |    ELSE cum_target::DOUBLE / n_target::DOUBLE END AS target_recall
       |FROM cums JOIN t USING (rk)""".stripMargin

  // -------------------------------------------------------- curriculum

  /** Curriculum stages (short→long complexity proxy). */
  val CurriculumStages = 4

  /** Q-SEL-10: CURRICULUM ordering — after selection decides WHAT to
    * train on, curriculum learning decides in what ORDER: rank the
    * corpus by a complexity proxy (document length ascending, doc_id
    * tie-break — the short-first schedule), cut the exact global rank
    * into [[CurriculumStages]] equal stages, and assign a
    * deterministic within-stage shard (content-hash, so stage files
    * are reproducible). Emits per doc: rank, stage, shard, plus the
    * stage boundary audit (stage = (rank−1)·S DIV N — exact integer
    * quantiles, no float).
    *
    * Shape at 100 TB: the global rank is the [[graft.plans
    * .BucketedOrder]] two-pass decomposition (never a single-partition
    * window); everything downstream is map-only arithmetic on compact
    * (doc_id, n_chars) rows.
    */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars"))
    val n = docs.count() // one count — the stage divisor (a literal)
    graft.plans.BucketedOrder.withOrderStats(
        docs, rangeKey = col("n_chars"),
        order = Seq(col("n_chars"), col("doc_id")), rankCol = "rank")
      .select(col("doc_id"), col("n_chars"), col("rank"),
        expr(s"(rank - 1) * $CurriculumStages DIV ${math.max(n, 1L)}")
          .cast(LongType).as("stage"),
        (h60(col("doc_id").cast("string")) % 8).as("shard"))
  }

  val curriculumSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
       |    count(*) OVER () AS n
       |  FROM documents)
       |SELECT doc_id, n_chars, rank,
       |  ((rank - 1) * $CurriculumStages // greatest(n, 1))::BIGINT AS stage,
       |  ${h60Sql("doc_id::VARCHAR")} % 8 AS shard
       |FROM r""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_corpus_curriculum", curriculum, Some(curriculumSql)),
    Q("q_corpus_lm_score", lmScore, Some(lmScoreSql)),
    Q("q_corpus_classifier", classifier, Some(classifierSql)),
    Q("q_corpus_classifier_eval", classifierEval, Some(classifierEvalSql)),
    Q("q_corpus_selection_curve", selectionCurve, Some(selectionCurveSql)),
    Q("q_corpus_split", split, Some(splitSql)),
    Q("q_corpus_domain_cap", domainCap, Some(domainCapSql)),
    Q("q_corpus_domain_topk", domainTopK, Some(domainTopKSql)),
    Q("q_corpus_dsir", (s, d) => dsir(s, d), Some(dsirSql)),
    Q("q_corpus_ccnet", ccnet, Some(ccnetSql)),
    Q("q_text_search", search, Some(searchSql)),
    Q("q_text_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Q("q_text_keywords", keywords, Some(keywordsSql)))
}
