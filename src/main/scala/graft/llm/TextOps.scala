package graft.llm

import graft.Tables
import graft.queries.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import Portable._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, n-gram language ID, and document fingerprinting —
  * all over `documents.text`.
  *
  * Everything is a pure per-row Catalyst expression (no UDF, no shuffle,
  * fully codegen'd): at 100 TB these run as a map-only scan with column
  * pruning down to (doc_id, text).
  */
object TextOps {

  private val stopEn = Seq("the", "a", "of", "to", "and", "is", "in", "it", "on", "for")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
  private val stopFr = Seq("le", "la", "les", "et", "est", "une", "pas", "dans")
  private val stopEs = Seq("el", "los", "las", "es", "y", "una", "no", "por")

  private def hits(toks: org.apache.spark.sql.Column, ws: Seq[String]) =
    size(filter(toks, t => t.isin(ws: _*)))

  private def hitsSql(toks: String, ws: Seq[String]) =
    s"len(list_filter($toks, t -> list_contains([${ws.map("'" + _ + "'").mkString(",")}], t)))"

  /** The quality gate: 10 ≤ n_tokens ≤ 1000 and at least half the
    * tokens distinct. [[textStats]], [[Corpus.funnel]],
    * [[Corpus.tokenBudget]] and [[Corpus.stratShards]] all decide
    * `is_quality` through it; their oracle SQL spells the same predicate.
    */
  def isQuality(nTokens: Column, nUniq: Column): Column =
    nTokens >= 10 && nTokens <= 1000 && nUniq * 2 >= nTokens

  /** Q-TEXT-1: token counts + quality-score features per document.
    * Ratios are a single integer/integer double division ⇒ bit-exact
    * across engines.
    */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq_tokens"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("n_token_chars"),
        hits(col("toks"), stopEn).as("n_stopwords"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("n_bpe_tokens"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_uniq_tokens"), col("n_bpe_tokens"),
        (col("n_token_chars").cast(DoubleType) / col("n_tokens")).as("avg_token_len"),
        (col("n_stopwords").cast(DoubleType) / col("n_tokens")).as("stopword_ratio"),
        (col("n_uniq_tokens").cast(DoubleType) / col("n_tokens")).as("uniq_ratio"),
        isQuality(col("n_tokens"), col("n_uniq_tokens")).as("is_quality"))
  }

  val textStatsSql: String = {
    val toks = tokensSql("text")
    s"""SELECT doc_id, n_chars, n_tokens, n_uniq_tokens, n_bpe_tokens,
       |  n_token_chars::DOUBLE / n_tokens AS avg_token_len,
       |  n_stopwords::DOUBLE / n_tokens AS stopword_ratio,
       |  n_uniq_tokens::DOUBLE / n_tokens AS uniq_ratio,
       |  (n_tokens >= 10 AND n_tokens <= 1000 AND n_uniq_tokens * 2 >= n_tokens * 1) AS is_quality
       |FROM (
       |  SELECT doc_id, n_chars,
       |    len(toks)::BIGINT AS n_tokens,
       |    len(list_distinct(toks))::BIGINT AS n_uniq_tokens,
       |    list_reduce(list_prepend(0, list_transform(toks, t -> len(t))), (a, b) -> a + b)::BIGINT AS n_token_chars,
       |    ${hitsSql("toks", stopEn)}::BIGINT AS n_stopwords,
       |    len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::INT AS n_bpe_tokens
       |  FROM (SELECT doc_id, n_chars, text, $toks AS toks FROM documents))""".stripMargin
  }

  /** Q-TEXT-2: stopword-overlap language ID (n-gram heuristic family).
    * Deterministic argmax with a fixed preference order on ties.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val base = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(
        col("doc_id"), col("lang"),
        hits(col("toks"), stopEn).as("en_hits"),
        hits(col("toks"), stopDe).as("de_hits"),
        hits(col("toks"), stopFr).as("fr_hits"),
        hits(col("toks"), stopEs).as("es_hits"))
    base.withColumn("pred_lang",
      when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
           col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
        .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits") &&
              col("de_hits") > 0, "de")
        .when(col("fr_hits") >= col("es_hits") && col("fr_hits") > 0, "fr")
        .when(col("es_hits") > 0, "es")
        .otherwise("und"))
  }

  val langIdSql: String = {
    val toks = tokensSql("text")
    s"""SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits,
       |  CASE
       |    WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
       |    WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
       |    WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
       |    WHEN es_hits > 0 THEN 'es'
       |    ELSE 'und' END AS pred_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    ${hitsSql("toks", stopEn)}::BIGINT AS en_hits,
       |    ${hitsSql("toks", stopDe)}::BIGINT AS de_hits,
       |    ${hitsSql("toks", stopFr)}::BIGINT AS fr_hits,
       |    ${hitsSql("toks", stopEs)}::BIGINT AS es_hits
       |  FROM (SELECT doc_id, lang, $toks AS toks FROM documents))""".stripMargin
  }

  /** Q-TEXT-2b: language-ID evaluation — the confusion matrix of
    * [[langId]]'s prediction against the gold `lang` label, with
    * row-normalized rates (the diagonal rate is the class recall) and the corpus micro-accuracy on every row.
    * This is the audit a curation run publishes before trusting a
    * classifier to route documents (and the shape any
    * predicted-vs-gold eval takes on this engine: the model column is
    * pluggable, the rollup is fixed).
    *
    * Counts exact; rate / micro_acc are single int→double divisions —
    * bit-equal everywhere. Shape at 100 TB: the prediction is the same
    * map-only pass as [[langId]]; the matrix is a |gold×pred|-row agg
    * (≤ 25 cells here), the gold marginals a window over those cells,
    * the accuracy a 1-row broadcast.
    */
  def langIdEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val cells = langId(s, d)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val wGold = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val acc = cells.agg(
      (sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
        .cast(DoubleType) / sum(col("n")).cast(DoubleType)).as("micro_acc"))
    cells
      .withColumn("gold_total", sum(col("n")).over(wGold).cast(LongType))
      .crossJoin(broadcast(acc))
      .select(col("lang"), col("pred_lang"), col("n"), col("gold_total"),
        (col("n").cast(DoubleType) / col("gold_total").cast(DoubleType)).as("rate"),
        col("micro_acc"))
  }

  val langIdEvalSql: String =
    s"""WITH pred AS ($langIdSql),
       |cells AS (
       |  SELECT lang, pred_lang, count(*)::BIGINT AS n
       |  FROM pred GROUP BY lang, pred_lang),
       |acc AS (
       |  SELECT sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)::DOUBLE /
       |    sum(n)::DOUBLE AS micro_acc
       |  FROM cells)
       |SELECT lang, pred_lang, n,
       |  sum(n) OVER (PARTITION BY lang)::BIGINT AS gold_total,
       |  n::DOUBLE / (sum(n) OVER (PARTITION BY lang))::DOUBLE AS rate,
       |  micro_acc
       |FROM cells, acc""".stripMargin

  /** Q-TEXT-3: document fingerprinting — a token-sequence polynomial
    * rolling hash (order-sensitive) plus a char-8-gram min-hash
    * (order-insensitive, robust to small edits). All int64 modular
    * arithmetic with intermediates < 2^63:
    * acc < 1e9+7, acc*31 + (h60 mod M) < 3.1e10 + 1e9 < 2^63.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val M = 1000000007L
    val toks = tokens(col("text"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        aggregate(col("toks"), lit(0L), (a, t) => (a * 31L + h60(t) % M) % M).as("seq_fp"),
        when(length(col("text")) >= 8,
          array_min(transform(sequence(lit(1), length(col("text")) - 7), i =>
            h60(col("text").substr(i, lit(8))))))
          .otherwise(h60(col("text"))).as("min_gram_fp"))
  }

  // NB: Spark's substring(col, pos, len) only takes int literals; the
  // column-position variant is Column.substr(Column, Column) — used above.

  val fingerprintSql: String = {
    val toks = tokensSql("text")
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> ${h60Sql("t")} % 1000000007)),
       |              (a, b) -> (a * 31 + b) % 1000000007) AS seq_fp,
       |  CASE WHEN len(text) >= 8
       |    THEN list_min(list_transform(generate_series(1, len(text) - 7), i -> ${h60Sql("substr(text, i, 8)")}))
       |    ELSE ${h60Sql("text")} END AS min_gram_fp
       |FROM (SELECT doc_id, text, $toks AS toks FROM documents)""".stripMargin
  }

  /** Q-TEXT-4: winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting scheme): the ordered
    * word-3-shingle hash sequence, windows of w=4 consecutive hashes,
    * one fingerprint (the window minimum) per window, deduplicated.
    * Guarantees: any shared run of ≥ w+2 tokens between two documents
    * yields at least one shared fingerprint, while storing ~2/(w+1) of
    * all shingles — the standard robust alternative to full shingle
    * sets for copy detection at corpus scale.
    *
    * Map-only codegen'd pass → explode to the compact (doc_id, fp)
    * posting table; matching is then an equi-join on the int64
    * fingerprint, exactly like the n-gram index but w× smaller.
    */
  def winnow(s: SparkSession, d: String): DataFrame = {
    val W = 4
    val toks = tokens(col("text"))
    // ordered (NON-distinct) shingle hashes — winnowing is positional.
    // Guarded: Spark's sequence(1, 0) counts DOWN ([1,0]), so short
    // docs must yield an empty array explicitly.
    val hs = when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2), i =>
          h60(concat_ws(" ",
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))))
      .otherwise(array().cast("array<bigint>"))
    val fps = when(size(col("hs")) >= W,
        array_distinct(transform(sequence(lit(1), size(col("hs")) - (W - 1)), j =>
          array_min(slice(col("hs"), j, lit(W))))))
      .when(size(col("hs")) >= 1, array(array_min(col("hs"))))
      .otherwise(array(h60(col("text"))))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("text"), hs.as("hs"))
      .select(col("doc_id"), explode(fps).as("fingerprint"))
  }

  val winnowSql: String = {
    val toks = tokensSql("text")
    val sh = h60Sql("array_to_string(toks[i:i+2], ' ')")
    s"""WITH base AS (SELECT doc_id, text, $toks AS toks FROM documents),
       |hss AS (
       |  SELECT doc_id, text,
       |    list_transform(generate_series(1, len(toks) - 2), i -> $sh) AS hs
       |  FROM base),
       |fps AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) >= 4 THEN
       |           list_distinct(list_transform(generate_series(1, len(hs) - 3),
       |             j -> list_min(hs[j:j+3])))
       |         WHEN len(hs) >= 1 THEN [list_min(hs)]
       |         ELSE [${h60Sql("text")}] END AS fps
       |  FROM hss)
       |SELECT doc_id, unnest(fps) AS fingerprint FROM fps""".stripMargin
  }

  /** Q-TEXT-5: repetition metrics (the Gopher/MassiveText repetition
    * filters — Rae et al. 2021 §A1.1): duplicate n-gram fraction for
    * n=2,3 and the most-frequent-bigram share. High values flag
    * boilerplate/spam documents for removal before training.
    *
    * Spark plan: the dup fractions are per-row array folds (map-only);
    * the top-bigram share is a per-row fold over the SORTED bigram
    * hashes (longest equal run = max count) — still map-only, no
    * shuffle, unlike the naive explode→groupBy shape.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    def grams(n: Int): Column =
      when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)), i =>
          h60(concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j)): _*))))
        .otherwise(array().cast("array<bigint>"))
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        lit(1.0) - size(array_distinct(g)).cast(DoubleType) / size(g))
        .otherwise(0.0)
    // longest equal run in the sorted hash array = max bigram count
    val sorted2 = array_sort(col("g2"))
    val maxRun = aggregate(sorted2,
      struct(lit(0L).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(1L)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), grams(2).as("g2"), grams(3).as("g3"))
      .select(col("doc_id"),
        dupFrac(col("g2")).as("dup_bigram_frac"),
        dupFrac(col("g3")).as("dup_trigram_frac"),
        when(size(col("g2")) > 0, maxRun.cast(DoubleType) / size(col("g2")))
          .otherwise(0.0).as("top_bigram_frac"))
  }

  val repetitionSql: String = {
    val toks = tokensSql("text")
    def gramsSql(n: Int) = {
      val parts = (0 until n).map(j => s"toks[i + $j]").mkString(", ")
      s"CASE WHEN len(toks) >= $n THEN list_transform(generate_series(1, len(toks) - ${n - 1}), " +
        s"i -> ${h60Sql(s"concat_ws(' ', $parts)")}) ELSE [] END"
    }
    s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (SELECT doc_id, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM base),
       |top2 AS (
       |  SELECT doc_id, max(c) AS max_cnt FROM (
       |    SELECT doc_id, h, count(*) AS c FROM (SELECT doc_id, unnest(g2) AS h FROM g) u
       |    GROUP BY doc_id, h) v
       |  GROUP BY doc_id)
       |SELECT g.doc_id,
       |  CASE WHEN len(g2) > 0 THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END AS dup_bigram_frac,
       |  CASE WHEN len(g3) > 0 THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0.0 END AS dup_trigram_frac,
       |  CASE WHEN len(g2) > 0 THEN coalesce(top2.max_cnt, 0)::DOUBLE / len(g2) ELSE 0.0 END AS top_bigram_frac
       |FROM g LEFT JOIN top2 ON g.doc_id = top2.doc_id""".stripMargin
  }

  /** Per-language sampling rates for Q-TEXT-6 (data-mixing weights). */
  val sampleRates: Map[String, Int] =
    Map("en" -> 50, "de" -> 100, "fr" -> 25, "es" -> 25)

  /** Q-TEXT-6: deterministic stratified sampling — each language
    * stratum keeps a configured fraction, membership decided by a
    * content hash (`h60(text) % 100 < rate`), so the sample is
    * reproducible across runs/partitionings/clusters (no RNG state).
    * This is the data-mixing step of a training-data pipeline: map-only,
    * embarrassingly parallel, and the exact sample is auditable.
    */
  def sample(s: SparkSession, d: String): DataFrame = {
    val rate = sampleRates.foldLeft(lit(10)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), (h60(col("text")) % 100).as("bucket"))
      .filter(col("bucket") < rate)
  }

  val sampleSql: String = {
    val rate = sampleRates.foldLeft("10") { case (acc, (lang, r)) =>
      s"CASE WHEN lang = '$lang' THEN $r ELSE $acc END"
    }
    s"""SELECT doc_id, lang, ${h60Sql("text")} % 100 AS bucket
       |FROM documents WHERE ${h60Sql("text")} % 100 < ($rate)""".stripMargin
  }

  // ------------------------------------------------------------ Q-TEXT-7

  /** Patterns shared by the Spark operator and the DuckDB oracle —
    * kept to the Java-regex ∩ RE2 common dialect (character classes,
    * bounded repetition, `\b`; no lookaround, no backrefs) so both
    * engines match identical spans.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val longNumRe = "\\d{9,}"

  /** PII detection + redaction over a raw text column: per-class match
    * counts (email / IPv4 / long digit run) and the redacted text —
    * pure regexp Catalyst expressions, fully codegen'd, map-only at
    * 100 TB. Redaction order matters: emails first (they contain
    * digits and dots), then IPs, then bare digit runs.
    */
  def piiScrub(raw: Column): (Column, Column, Column, Column) = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(raw, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      longNumRe, "<NUM>")
    (regexp_count(raw, lit(emailRe)).cast(LongType),
      regexp_count(raw, lit(ipv4Re)).cast(LongType),
      regexp_count(raw, lit(longNumRe)).cast(LongType),
      redacted)
  }

  /** Q-TEXT-7: PII scrub drive — the synthetic corpus carries no PII,
    * so the query plants deterministic spans (an email for doc_id%3==0,
    * an IPv4 + a 9+-digit account number for doc_id%3==1, nothing for
    * the rest) and runs the REAL [[piiScrub]] operator; the oracle
    * re-plants and re-scrubs independently. `redacted_md5` hashes the
    * full redacted text so a single mis-redacted byte hash-mismatches
    * without shipping megabytes of text through the compare.
    */
  def pii(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val raw = concat(col("text"),
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(id % 3 === 1,
        concat(lit(" from 10."), (id % 200).cast("string"), lit("."),
          (id % 250).cast("string"), lit("."), (id % 100).cast("string"),
          lit(" acct "), (id * 7919 + 123456789L).cast("string")))
        .otherwise(lit("")))
    val (nEmail, nIp, nNum, redacted) = piiScrub(col("raw"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        nEmail.as("n_emails"), nIp.as("n_ips"), nNum.as("n_longnums"),
        (nEmail + nIp + nNum > 0).as("has_pii"),
        md5(redacted.cast("binary")).as("redacted_md5"))
  }

  val piiSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0
       |            THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 1
       |            THEN ' from 10.' || (doc_id % 200) || '.' || (doc_id % 250) || '.'
       |                 || (doc_id % 100) || ' acct ' || (doc_id * 7919 + 123456789)
       |            ELSE '' END AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(raw, '$emailRe'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(raw, '$ipv4Re'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(raw, '$longNumRe'))::BIGINT AS n_longnums,
       |  (len(regexp_extract_all(raw, '$emailRe'))
       |    + len(regexp_extract_all(raw, '$ipv4Re'))
       |    + len(regexp_extract_all(raw, '$longNumRe'))) > 0 AS has_pii,
       |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$emailRe', '<EMAIL>', 'g'), '$ipv4Re', '<IP>', 'g'),
       |    '$longNumRe', '<NUM>', 'g')) AS redacted_md5
       |FROM r""".stripMargin

  /** Q-TEXT-8: sequence packing — place every document in the GLOBAL
    * concatenated token stream and slice that stream into fixed
    * context-length chunks (the standard pretraining layout: docs
    * concatenated in corpus order, cut every `PackLen` tokens). Each
    * doc gets its absolute token interval `[tok_start, tok_end)` and
    * the first/last chunk indices it lands in.
    *
    * The core is a PREFIX SUM over a total order — the textbook
    * "inherently sequential" trap. A naive `sum() OVER (ORDER BY
    * doc_id)` with no partition key collapses Spark to ONE partition
    * for the whole corpus; at 100 TB that is the job. The distributed
    * form is [[graft.plans.BucketedOrder]] — the range-bucketed
    * two-pass prefix scan shared by the whole exact-order-stat family
    * (winsor cap, QTE, classifier AUC, selection curve).
    *
    * The oracle states the same thing as the naive one-partition
    * window, so the parallel decomposition is hash-checked against the
    * sequential definition.
    */
  val PackLen = 2048

  def pack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
    graft.plans.BucketedOrder.withOrderStats(
        docs, rangeKey = col("doc_id"), order = Seq(col("doc_id")),
        cums = Seq("tok_end" -> "n_tokens"), rankCol = "__rk")
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("tok_start"), col("tok_end"),
        when(col("n_tokens") > 0, expr(s"tok_start DIV $PackLen")).as("chunk_first"),
        when(col("n_tokens") > 0, expr(s"(tok_end - 1) DIV $PackLen")).as("chunk_last"))
  }

  val packSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, len(${tokensSql("text")})::BIGINT AS n_tokens FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tok_end
       |  FROM t)
       |SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       |  CASE WHEN n_tokens > 0 THEN (tok_end - n_tokens) // $PackLen END AS chunk_first,
       |  CASE WHEN n_tokens > 0 THEN (tok_end - 1) // $PackLen END AS chunk_last
       |FROM c""".stripMargin

  /** Corpus heavy hitters: top [[NgramTopK]] word bigrams. */
  val NgramTopK = 50

  /** Q-TEXT-9: n-gram heavy hitters — the corpus-statistics pass every
    * curation run starts with (boilerplate detection, contamination
    * screens, vocabulary audits): total occurrences and document
    * frequency of every word bigram, keep the top [[NgramTopK]] by
    * frequency (ties broken by the bigram text — a total order, so the
    * cut is deterministic).
    *
    * Shape at 100 TB: the classic two-level aggregate — map-side
    * partial counts per bigram, one shuffle of (bigram, counts) pairs
    * (vocabulary-sized after combine, not corpus-sized), and the final
    * top-k is TakeOrderedAndProject (per-partition heaps, no global
    * sort). The distinct-doc count rides the same shuffle via the
    * (bigram, doc) pre-aggregation.
    */
  /** Bigram list over a materialized `toks` column — ONE definition
    * shared by the exact heavy hitters and their CMS twin, so the
    * sketch can never gate a different n-gram population than the
    * exact query it validates.
    */
  private def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  def ngrams(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = bigramsOf(col("toks"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(bigrams).as("ngram"))
      .groupBy(col("ngram"), col("doc_id")).agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("ngram"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("ngram"))
      .limit(NgramTopK)
  }

  val ngramsSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS ngram
       |  FROM tk)
       |SELECT ngram, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
       |FROM bg GROUP BY ngram
       |ORDER BY tf DESC, ngram LIMIT $NgramTopK""".stripMargin
  }

  // --------------------------------------------------------- Q-TEXT-14

  /** CMS parameters, per Spark's `util.sketch.CountMinSketch`
    * construction (stream-lib lineage): width w = ⌈2/eps⌉ = 2000
    * counters, depth d = ⌈−log₂(1−conf)⌉ = 14 hash rows → a ~224 KB
    * summary regardless of corpus size, with per-probe overestimate
    * ≤ 2N/w = eps·N at confidence `conf`. Seed fixed for cross-run
    * determinism.
    */
  val CmsEps = 0.001
  val CmsConfidence = 0.9999
  val CmsSeed = 42

  /** Q-TEXT-14: Count-Min-Sketch frequency twin of the exact bigram
    * heavy hitters ([[ngrams]]): the exact path's full (ngram, count)
    * shuffle is the cost you stop paying at 100 TB — the CMS is a
    * FIXED-SIZE mergeable summary built in one map-side-combined pass
    * (the same estimate-twin structure as `q_agg_approx`: sketch beside
    * exact, gates in-row). The elected top-k (driver-sized by
    * construction, like the k-means centroids) is probed against the
    * sketch on the driver — the sketch moves, not the data — and two
    * deterministic booleans ride each row: `cms_no_undercount` (the
    * CMS one-sided-error guarantee) and `cms_within_eps` (overestimate
    * ≤ 3·eps·N + 8 — triple the per-probe bound at the constructed
    * depth d = ceil(-log2(1-conf)) = 14, so a correct sketch never
    * flakes and a broken hash family fails).
    */
  def ngramsCms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens(col("text"))
    val bigrams = bigramsOf(col("toks"))
    val grams = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), toks.as("toks"))
      .select(explode(bigrams).as("ngram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val row = graft.HeapWatermark.recordRows("ngrams_cms_sketch", grams.agg(
      expr(s"count_min_sketch(ngram, ${CmsEps}d, ${CmsConfidence}d, $CmsSeed)").as("cms"),
      count(lit(1)).as("total")).collect()).head
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
    val total = row.getLong(1)
    val bound = 3.0 * CmsEps * total + 8
    val top = graft.HeapWatermark.recordRows("ngrams_cms_topk",
      grams.groupBy(col("ngram")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("ngram")).limit(NgramTopK)
        .collect())
    top.toSeq.map { r =>
      val (g, tf) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(g)
      (g, tf, est >= tf, est <= tf + bound)
    }.toDF("ngram", "tf", "cms_no_undercount", "cms_within_eps")
  }

  val ngramsCmsSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS ngram
       |  FROM tk)
       |SELECT ngram, count(*)::BIGINT AS tf,
       |  TRUE AS cms_no_undercount, TRUE AS cms_within_eps
       |FROM bg GROUP BY ngram
       |ORDER BY tf DESC, ngram LIMIT $NgramTopK""".stripMargin
  }

  /** RAG/window chunking parameters: window and stride in tokens. */
  val ChunkLen = 64
  val ChunkStride = 48

  /** Q-TEXT-10: sliding-window document chunking — the
    * retrieval/context-window splitter (RAG ingestion, long-document
    * training windows): one chunk every [[ChunkStride]] tokens, each
    * spanning up to [[ChunkLen]] tokens, with the chunk's token span
    * and a content hash (stable chunk identity for downstream dedup /
    * index builds).
    *
    * Shape at 100 TB: pure per-row array expression (no UDF, no
    * shuffle) — the chunk list is built inside whole-stage codegen and
    * exploded; output is proportional to total tokens / stride.
    */
  def chunks(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .select(col("doc_id"), col("n").cast(LongType).as("n_tokens"),
        posexplode(when(col("n") >= 1, sequence(lit(1), col("n"), lit(ChunkStride)))
          .otherwise(array().cast("array<int>"))).as(Seq("pos", "start_tok")),
        col("toks"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        least(lit(ChunkLen), col("n_tokens") - col("start_tok") + 1)
          .cast(LongType).as("n_chunk_tokens"),
        h60(concat_ws(" ",
          slice(col("toks"), col("start_tok"),
            least(lit(ChunkLen), col("n_tokens").cast("int") - col("start_tok") + 1))))
          .as("chunk_h"))
  }

  val chunksSql: String = {
    val toks = tokensSql("text")
    s"""WITH tk AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |st AS (
       |  SELECT doc_id, n_tokens, toks,
       |    unnest(generate_series(1, n_tokens, $ChunkStride))::BIGINT AS start_tok
       |  FROM tk)
       |SELECT doc_id, n_tokens,
       |  ((start_tok - 1) // $ChunkStride + 1)::BIGINT AS chunk_idx, start_tok,
       |  least($ChunkLen, n_tokens - start_tok + 1) AS n_chunk_tokens,
       |  ${h60Sql(s"array_to_string(toks[start_tok:least(start_tok + $ChunkLen - 1, n_tokens)], ' ')")} AS chunk_h
       |FROM st""".stripMargin
  }

  /** Q-TEXT-MIX: temperature-scaled language mixing (the multilingual
    * sampling rule of Conneau & Lample 2019 / mT5, α = 0.5): language
    * ℓ's share of the mixed corpus is n_ℓ^α / Σ n_m^α — flattening
    * the head languages and up-weighting the tail relative to raw
    * proportions. Deterministic: per-language targets from exact
    * counts (the one float total folds in lang-sorted order on a
    * ≤|langs|-row window ⇒ bit-equal across engines), keeps chosen by
    * content-hash rank — reproducible and auditable, no RNG.
    *
    * Shape at 100 TB: the count agg map-side combines; the targets
    * table is |langs| rows (broadcast). The rank window partitions by
    * language — few, huge partitions; at real scale swap the exact
    * rank for the bounded per-key top-k aggregate
    * (`q_corpus_domain_topk`'s O(k)-state form) or hash-threshold
    * gating (`q_text_sample`'s form) when k itself is huge.
    */
  val MixK = 300

  /** (doc_id, lang, h): the hashed corpus both mix forms rank. */
  private def mixDocs(s: SparkSession, d: String): DataFrame =
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), h60(col("text")).as("h"))

  /** (lang, n_docs, target): THE single definition of the α=0.5
    * temperature targets — shared by [[mix]] and [[mixTopK]] so the
    * formula (and its deterministic lang-ordered float fold) cannot
    * drift between the two registered forms.
    */
  private def mixTargets(docs: DataFrame): DataFrame = {
    val wAll = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", sqrt(col("n_docs")))
      .withColumn("tot", sum(col("sq")).over(wAll))
      .select(col("lang"), col("n_docs"),
        floor(lit(MixK.toDouble) * col("sq") / col("tot")).cast(LongType).as("target"))
  }

  /** DuckDB twin of [[mixDocs]]+[[mixTargets]]: CTEs ending in `targets`
    * (lang, n_docs, target) and `docs` (doc_id, lang, h).
    */
  private val mixTargetsCte: String =
    s"""docs AS (SELECT doc_id, lang, ${h60Sql("text")} AS h FROM documents),
       |counts AS (SELECT lang, count(*)::BIGINT AS n_docs FROM docs GROUP BY lang),
       |t AS (
       |  SELECT lang, n_docs, sqrt(n_docs) AS sq,
       |    sum(sqrt(n_docs)) OVER (ORDER BY lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
       |  FROM counts),
       |targets AS (
       |  SELECT lang, n_docs, floor(${MixK}.0 * sq / tot)::BIGINT AS target FROM t)""".stripMargin

  def mix(s: SparkSession, d: String): DataFrame = {
    val docs = mixDocs(s, d)
    val wl = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.withColumn("rk", row_number().over(wl).cast(LongType))
      .join(broadcast(mixTargets(docs)), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_docs"), col("target"),
        (col("rk") <= col("target")).as("kept"))
  }

  val mixSql: String =
    s"""WITH $mixTargetsCte,
       |r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)::BIGINT AS rk
       |  FROM docs)
       |SELECT r.doc_id, r.lang, tg.n_docs, tg.target, r.rk <= tg.target AS kept
       |FROM r JOIN targets tg USING (lang)""".stripMargin

  /** Q-TEXT-MIX-TOPK: [[mix]]'s 100 TB form — the per-language keeps
    * come from the bounded top-k aggregate
    * ([[graft.functions.TopKAggregator]], O(k) state per group with
    * map-side partials) instead of a rank window that sorts and
    * materializes EVERY doc of every language behind one shuffle.
    * Aggregate top-[[MixK]] per language (targets are ≤ MixK by
    * construction), then trim each language to its runtime target.
    * Oracle: pinned to the window form's kept set — the two plans
    * must elect identical documents.
    */
  def mixTopK(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(MixK, Ordering.Long))
    val docs = mixDocs(s, d)
    docs.groupBy(col("lang")).agg(topk(col("h"), col("doc_id")).as("top"))
      .join(broadcast(mixTargets(docs).select(col("lang"), col("target"))), Seq("lang"))
      .select(col("lang"), col("target"), posexplode(col("top")))
      .filter(col("pos") < col("target"))
      .select(col("lang"), (col("pos") + 1).cast(LongType).as("rk"),
        col("col").getField("_2").as("doc_id"))
  }

  val mixTopKSql: String =
    s"""WITH $mixTargetsCte,
       |r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)::BIGINT AS rk
       |  FROM docs)
       |SELECT r.lang, r.rk, r.doc_id
       |FROM r JOIN targets tg USING (lang) WHERE r.rk <= tg.target""".stripMargin

  // --------------------------------------------------------- Q-TEXT-13

  /** Vocabulary size for [[vocab]] — small enough that the id-assign
    * window and the broadcast stay trivially bounded at any sf, large
    * enough that coverage (and therefore OOV routing) is non-trivial
    * on the synthetic corpus.
    */
  val VocabSize = 256

  /** Q-TEXT-13: vocabulary build + id encoding — the tokenize-to-ids
    * prep stage every training pipeline runs before packing: the top-V
    * tokens by (freq desc, token asc) become ids 1..V, everything else
    * encodes to the OOV id 0, and each document re-assembles its token
    * ids in order — emitted as the order-sensitive scalar digest
    * `ids_h` (h60 over the space-joined id sequence, the
    * [[chunks]] pattern) so every output column stays scalar-hashable.
    *
    * 100 TB shape: token frequency is one COMPACT-PAIR shuffle
    * (token → count, map-side combined — payloads don't move); the
    * elected vocab is V rows and BROADCASTS to the encode join; the
    * only payload-bearing shuffle is the per-doc reassembly keyed by
    * doc_id. The id-assignment window runs on exactly V rows (the
    * documented bounded partition-less-window family). The (freq desc,
    * token asc) total order makes the vocab — and therefore every
    * emitted id — deterministic across engines and partitionings,
    * including the cut at rank V.
    */
  def vocab(s: SparkSession, d: String): DataFrame = {
    // both the election aggregate and the encode join consume the
    // tokenized pairs — persist so the regex tokenization (the
    // dominant per-row cost) runs once, not twice
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabDf = pairs.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok"))
      .limit(VocabSize)
      .withColumn("id",
        row_number().over(Window.orderBy(col("f").desc, col("tok"))).cast(LongType))
      .select(col("tok"), col("id"))
    pairs.join(broadcast(vocabDf), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        h60(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("id"), lit(0L)).as("id")))),
          x => x.getField("id").cast("string")))).as("ids_h"))
  }

  val vocabSql: String = {
    val toks = tokensSql("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS tok,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |v AS (SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok)::BIGINT AS id
       |      FROM p GROUP BY tok ORDER BY count(*) DESC, tok LIMIT $VocabSize),
       |e AS (SELECT doc_id, pos, coalesce(v.id, 0) AS id
       |      FROM p LEFT JOIN v USING (tok))
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN id = 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |  ${h60Sql("array_to_string(list(id ORDER BY pos), ' ')")} AS ids_h
       |FROM e GROUP BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ Q-TEXT-SHUF

  /** Seed label baked into the shuffle key: change it to re-shuffle,
    * keep it to reproduce a training order bit-exactly.
    */
  val ShuffleSeed = "shuf42"
  val NumShards = 8

  /** Q-TEXT-SHUF: seeded deterministic corpus shuffle + sharding — the
    * "globally shuffle the corpus, then write N shard files" step every
    * training run needs to be REPRODUCIBLE: the order is a pure
    * function of (seed, doc_id), so re-running the pipeline (or
    * re-materializing one lost shard) yields the identical order with
    * no RNG state to checkpoint. Shard = key mod N (balanced in
    * expectation because the key is a 60-bit content hash of the
    * seeded id), position-in-shard = rank by key.
    *
    * Shape at 100 TB: the key is a per-row expression; writing shards
    * is one `repartition(shard)` — a single shuffle of (doc payload ×
    * 1). The in-shard rank window runs per shard (N huge partitions) —
    * at real scale the POSITION falls out of the sorted shard write
    * itself (`sortWithinPartitions(shuf_key)` → file order IS the
    * position); the explicit rank column here is the audit/oracle form
    * of that contract, same caveat family as [[mix]]'s rank window.
    */
  def shuffleShard(s: SparkSession, d: String): DataFrame = {
    val key = h60(concat(lit(ShuffleSeed + ":"), col("doc_id").cast("string")))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), key.as("shuf_key"))
      .withColumn("shard", col("shuf_key") % NumShards)
      .withColumn("pos_in_shard",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("shuf_key"), col("doc_id")))
          .cast(LongType))
  }

  val shuffleShardSql: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    ${h60Sql(s"'$ShuffleSeed:' || doc_id")} AS shuf_key
       |  FROM documents)
       |SELECT doc_id, shuf_key, shuf_key % $NumShards AS shard,
       |  row_number() OVER (PARTITION BY shuf_key % $NumShards
       |    ORDER BY shuf_key, doc_id)::BIGINT AS pos_in_shard
       |FROM k""".stripMargin

  /** χ²₇ critical value at α = 0.05 (df = NumShards − 1), pinned as an
    * identical literal in both engines — the shard-balance verdict is a
    * comparison, never a transcendental p-value.
    */
  val ShardChi2Crit95 = "14.067140449340169"

  /** Q-TEXT-SHARD-AUDIT: shard-balance release gate for the seeded
    * corpus shuffle ([[shuffleShard]]) — per-shard doc AND byte counts
    * plus one pooled χ² row-statistic against the uniform expectation,
    * with the verdict vs the pinned df = 7 critical value
    * ([[ShardChi2Crit95]]). A skewed shard means the hash key is broken
    * (or an upstream filter is shard-correlated) and training-time data
    * loaders will stall on the fat shard; this is the check a shard
    * writer runs before publishing.
    *
    * One row per shard: n_docs, n_bytes, plus the POOLED chi2/verdict
    * repeated (the 1-row audit broadcast onto the grid — keeps the
    * output a single flat table). All counts exact int64; χ² is a
    * pinned-order double tree (per-shard terms summed in shard order
    * via a bounded |shards|-row aggregate).
    *
    * Shape at 100 TB: one map-side-combined groupBy on the 3-bit shard
    * key — 8 rows out of any corpus size; the χ² fold runs on those 8
    * rows.
    */
  def shardAudit(s: SparkSession, d: String): DataFrame = {
    val per = shuffleShard(s, d)
      .join(Tables.par(Tables.documents(s, d)).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("n_bytes"))
    // deterministic fold order: pivot the (at most) 8 shard counts into
    // one row, then sum the χ² terms as an EXPLICIT shard-0..7 left
    // fold — no aggregation-order dependence anywhere (a missing shard
    // counts 0)
    val aggCols = sum(col("n_docs")).cast(LongType).as("n_total") +:
      (0 until NumShards).map(k =>
        coalesce(min(when(col("shard") === k, col("n_docs"))), lit(0L)).as(s"d$k"))
    val counts = per.agg(aggCols.head, aggCols.tail: _*)
    val e = col("n_total").cast(DoubleType) / lit(NumShards.toDouble)
    val chi = counts.select(
      (0 until NumShards).map(k =>
        (col(s"d$k").cast(DoubleType) - e) * (col(s"d$k").cast(DoubleType) - e) / e)
        .reduce(_ + _).as("chi2"))
    per.crossJoin(broadcast(chi))
      .select(col("shard"), col("n_docs"), col("n_bytes"),
        col("chi2"),
        (col("chi2") > lit(ShardChi2Crit95.toDouble)).as("skewed"))
  }

  val shardAuditSql: String = {
    val ds = (0 until NumShards).map(k =>
      s"coalesce(min(CASE WHEN shard = $k THEN n_docs END), 0)::BIGINT AS d$k").mkString(",\n       |    ")
    val terms = (0 until NumShards).map(k =>
      s"(d$k::DOUBLE - n_total::DOUBLE / ${NumShards}.0) * (d$k::DOUBLE - n_total::DOUBLE / ${NumShards}.0) / (n_total::DOUBLE / ${NumShards}.0)")
      .reduce((a, b) => s"($a) + $b")
    s"""WITH sh AS ($shuffleShardSql),
       |per AS (
       |  SELECT shard, count(*)::BIGINT AS n_docs, sum(d.n_chars)::BIGINT AS n_bytes
       |  FROM sh JOIN documents d USING (doc_id) GROUP BY shard),
       |cnt AS (
       |  SELECT sum(n_docs)::BIGINT AS n_total,
       |    $ds
       |  FROM per),
       |chi AS (SELECT ($terms) AS chi2 FROM cnt)
       |SELECT shard, n_docs, n_bytes, chi2, chi2 > $ShardChi2Crit95 AS skewed
       |FROM per, chi""".stripMargin
  }

  // --------------------------------------------------- boilerplate removal

  /** Sentence unit (tokens) and the doc-frequency threshold above which
    * a sentence is corpus-boilerplate. 3-token units at ≥4 docs give a
    * live hot set on the synthetic corpus; production tunes both (CCNet
    * uses real line breaks; RefinedWeb drops lines in >k docs).
    */
  val BoilerplateUnit = 3
  val BoilerplateMinDocs = 4

  /** Q-TEXT-15: corpus-wide boilerplate removal WITH the rewrite — the
    * RefinedWeb/CCNet line-dedup stage: chunk every document into
    * fixed-size token "sentences", count each sentence's distinct-doc
    * frequency corpus-wide, flag sentences above the threshold as
    * boilerplate (nav bars, cookie banners — here, hot token runs),
    * and emit the per-doc audit: sentence/removed counts, kept token
    * count, and the fingerprint of the RECONSTRUCTED kept text (the
    * rewrite output itself, order-preserved).
    *
    * Shape at 100 TB: the sentence rollup is map-side combined on the
    * sentence key (one distinct column → two-phase planning, no
    * Expand); the hot set is the boilerplate DIMENSION (tiny —
    * broadcast-able, AQE decides); reconstruction shuffles each doc's
    * compact (idx, sentence) rows once, keyed by doc. Raw text never
    * shuffles twice.
    */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val u = BoilerplateUnit
    val sents = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0) // sequence(0,-1) guard; corpus has no empty docs
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(toks) + ${u - 1}) div $u - 1")),
          f => concat_ws(" ", slice(col("toks"), f * u + 1, lit(u)))))
          .as(Seq("idx", "sent")))
    val hot = sents.groupBy(col("sent"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateMinDocs)
      .select(col("sent"), lit(true).as("hot"))
    sents.join(hot, Seq("sent"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sentences"),
        count(when(col("hot"), 1)).as("n_removed"),
        coalesce(sum(when(col("hot").isNull, size(split(col("sent"), " ")))), lit(0))
          .cast(LongType).as("n_tokens_kept"),
        h60(concat_ws(" ", transform(
          array_sort(collect_list(when(col("hot").isNull,
            struct(col("idx"), col("sent"))))),
          e => e.getField("sent")))).as("kept_fp"))
  }

  val boilerplateSql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, f AS idx,
       |    array_to_string(toks[f*$BoilerplateUnit+1:f*$BoilerplateUnit+$BoilerplateUnit], ' ') AS sent
       |  FROM t, unnest(generate_series(0, (len(toks) + ${BoilerplateUnit - 1}) // $BoilerplateUnit - 1)) AS g(f)
       |  WHERE len(toks) > 0),
       |hot AS (
       |  SELECT sent FROM (SELECT sent, count(DISTINCT doc_id) AS nd FROM s GROUP BY 1)
       |  WHERE nd >= $BoilerplateMinDocs),
       |m AS (SELECT s.*, s.sent IN (SELECT sent FROM hot) AS hot FROM s)
       |SELECT doc_id, count(*)::BIGINT AS n_sentences,
       |  count(*) FILTER (WHERE hot)::BIGINT AS n_removed,
       |  coalesce(sum(CASE WHEN NOT hot THEN len(string_split(sent, ' ')) END), 0)::BIGINT AS n_tokens_kept,
       |  ${h60Sql("coalesce(string_agg(sent, ' ' ORDER BY idx) FILTER (WHERE NOT hot), '')")} AS kept_fp
       |FROM m GROUP BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_text_boilerplate", boilerplate, Some(boilerplateSql)),
    Q("q_text_stats", textStats, Some(textStatsSql)),
    Q("q_text_shuffle", shuffleShard, Some(shuffleShardSql)),
    Q("q_text_shard_audit", shardAudit, Some(shardAuditSql)),
    Q("q_text_vocab", vocab, Some(vocabSql)),
    Q("q_text_ngrams", ngrams, Some(ngramsSql)),
    Q("q_text_ngrams_cms", ngramsCms, Some(ngramsCmsSql)),
    Q("q_text_chunks", chunks, Some(chunksSql)),
    Q("q_text_pack", pack, Some(packSql)),
    Q("q_text_langid", langId, Some(langIdSql)),
    Q("q_text_langid_eval", langIdEval, Some(langIdEvalSql)),
    Q("q_text_fingerprint", fingerprint, Some(fingerprintSql)),
    Q("q_text_winnow", winnow, Some(winnowSql)),
    Q("q_text_repetition", repetition, Some(repetitionSql)),
    Q("q_text_sample", sample, Some(sampleSql)),
    Q("q_text_pii", pii, Some(piiSql)),
    Q("q_text_mix", mix, Some(mixSql)),
    Q("q_text_mix_topk", mixTopK, Some(mixTopKSql)))
}
