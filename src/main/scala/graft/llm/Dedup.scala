package graft.llm

import graft.Tables
import graft.queries.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import Portable._

/** Deduplication operators over `documents` — the core of any
  * large-scale training-data pipeline:
  *
  *   - exact dedup (content-hash groupBy),
  *   - n-gram Jaccard near-dup (exact, via inverted shingle index),
  *   - MinHash + LSH banding (the 100 TB scale path: candidates come
  *     from a band-hash equi-join, never an all-pairs product),
  *   - SimHash with pigeonhole chunk blocking (provably complete for
  *     the declared hamming radius),
  *   - embedding-cosine near-dup.
  *
  * Scale design: signatures/fingerprints are computed in a map-only
  * pass with no UDF. The MinHash path runs two native kernels inside
  * whole-stage codegen: [[graft.functions.WordShingles3]] (text → distinct
  * word 3-shingles) and [[graft.functions.MinHashBands]] (shingles → the
  * 8 band hashes, from the constants below); the DuckDB renderings
  * (`shingles3Sql`, `signatureSql`, `bandHashSql`) are the independent
  * oracle for both. The only shuffles are
  * equi-joins on compact keys (band hash, chunk value, shingle hash).
  * Hot keys (a shingle shared by k docs → k² candidate pairs) are the
  * classic LSH skew; AQE skew-join handles moderate skew, and the
  * MinHash path bounds candidates by construction.
  */
object Dedup {

  /** MinHash parameters: 32 permutations over a 31-bit hash space,
    * banded 8 × 4 for LSH. perm_i(x) = ((2i+1)·x + (12345+789i)) mod p.
    * Intermediates: (2·31+1)·(2^31) ≈ 2^37 — no overflow anywhere.
    * [[graft.functions.MinHashBands]] and the oracle SQL both read these.
    */
  val P31 = 2147483647L // 2^31 - 1 (Mersenne prime)
  val NumPerms = 32
  val Bands = 8
  val RowsPerBand = 4
  def permA(i: Int): Long = 2L * i + 1
  def permB(i: Int): Long = 12345L + 789L * i

  /** docs → (doc_id, sh): the distinct word 3-shingles of each text
    * (the native [[graft.functions.WordShingles3]]).
    */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wordShingles3(col("text")).as("sh"))

  private[graft] def shingleDocs(s: SparkSession, d: String): DataFrame =
    shingles(Tables.par(Tables.documents(s, d)))

  private def hashedShinglesSql: String =
    s"list_transform(${shingles3Sql(tokensSql("text"))}, s -> ${h60Sql("s")} % ${P31})"

  private def signatureSql(hs: String): String =
    "[" + (0 until NumPerms).map(i =>
      s"list_min(list_transform($hs, x -> (x * ${permA(i)} + ${permB(i)}) % ${P31}))").mkString(", ") + "]"

  /** Band hash: exact base-131 packing of the band's 4 sig values —
    * max ((2^31·131 + 2^31)·131 + 2^31)·131 + 2^31 < 2^53, no modulus
    * needed, zero collision ambiguity across engines. The Spark side is
    * the native [[graft.functions.MinHashBands]], which packs the same way.
    */
  private def bandHashSql(sig: String, b: Int): String =
    (0 until RowsPerBand).map(r => s"($sig)[${b * RowsPerBand + r + 1}]")
      .reduce((acc, v) => s"($acc * 131 + $v)")

  // ------------------------------------------------------------- queries

  /** Q-DEDUP-1: exact dedup — group by content hash, keep min doc_id.
    * At 100 TB: a single shuffle on a 16-byte key with map-side partial
    * aggregation; the document payload never shuffles (only id + hash).
    */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Q-DEDUP-2: exact n-gram Jaccard near-dup pairs (j ≥ 0.8) via an
    * inverted shingle index: explode distinct shingles → equi-join on
    * the 60-bit shingle hash → count intersections → filter. Never
    * materializes the all-pairs product; shuffle keys are int64 hashes.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // persist the SHINGLE ARRAYS, not the exploded index: the optimizer
    // collapses projections into Generate, which re-inlines the
    // tokenize→shingle expression under the explode (measured ~20 s at
    // sf0.1 vs ~1 s from the cached arrays); both self-join sides and
    // the size column then derive from the cached table for free
    val docs = shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), h60(col("s")).as("hs"))
    // shingles are distinct per doc ⇒ |sh| = the inverted index's row
    // count per doc — no second pass over the shingle pipeline
    val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val inter = inv.as("a")
      .join(inv.as("b"), col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast(DoubleType) /
          (col("na.n") + col("nb.n") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  val ngramJaccardSql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH docs AS (SELECT doc_id, $sh AS sh FROM documents),
       |sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM docs),
       |inv AS (SELECT doc_id, ${h60Sql("s")} AS hs FROM docs, unnest(sh) AS u(s)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM inv a JOIN inv b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter,
       |  n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
       |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE n_inter::DOUBLE / (na.n + nb.n - n_inter) >= 0.8""".stripMargin
  }

  /** Q-DEDUP-13: n-gram CONTAINMENT pairs — the asymmetric complement
    * of [[ngramJaccard]]: `cont_a = |sh(a)∩sh(b)| / |sh(a)|` (how much
    * of a lives inside b) and vice versa. A short document pasted into
    * a long one has tiny Jaccard but containment ≈ 1 — this is the
    * measure sub-document/quote/boilerplate dedup decisions actually
    * need (the Broder resemblance-vs-containment distinction). Pairs
    * kept when either direction ≥ 0.6; the symmetric `jaccard` rides
    * along so downstream policy can see both at once.
    *
    * Shape at 100 TB: identical to [[ngramJaccard]] — one inverted
    * shingle index, a compact-key (60-bit hash) equi-join, per-pair
    * count agg; both divisions are exact-int → double, bit-equal on
    * any engine.
    */
  def containment(s: SparkSession, d: String): DataFrame = {
    val docs = shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), h60(col("s")).as("hs"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val inter = inv.as("a")
      .join(inv.as("b"), col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val contA = col("n_inter").cast(DoubleType) / col("na.n").cast(DoubleType)
    val contB = col("n_inter").cast(DoubleType) / col("nb.n").cast(DoubleType)
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        contA.as("cont_a"), contB.as("cont_b"),
        (col("n_inter").cast(DoubleType) /
          (col("na.n") + col("nb.n") - col("n_inter"))).as("jaccard"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.6)
  }

  val containmentSql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH docs AS (SELECT doc_id, $sh AS sh FROM documents),
       |sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM docs),
       |inv AS (SELECT doc_id, ${h60Sql("s")} AS hs FROM docs, unnest(sh) AS u(s)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM inv a JOIN inv b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |paired AS (
       |  SELECT doc_a, doc_b, n_inter,
       |    n_inter::DOUBLE / na.n::DOUBLE AS cont_a,
       |    n_inter::DOUBLE / nb.n::DOUBLE AS cont_b,
       |    n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
       |  FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id)
       |SELECT * FROM paired WHERE greatest(cont_a, cont_b) >= 0.6""".stripMargin
  }

  /** Q-DEDUP-3: MinHash signatures → LSH band hashes, one row per
    * (doc, band). This is the shuffle-ready form: near-dup candidates
    * are exactly the groups sharing (band, band_hash).
    */
  def minhashBands(s: SparkSession, d: String): DataFrame =
    bandsFromShingles(shingleDocs(s, d))

  /** (doc_id, sh) → (doc_id, band, band_hash) through the native
    * [[graft.functions.MinHashBands]], so a caller that needs the
    * shingle table anyway (pairs' exact-Jaccard verify, the audit's
    * inverted index) derives the bands from its persisted copy instead
    * of paying the shingle scan a second time.
    */
  private[graft] def bandsFromShingles(shDocs: DataFrame): DataFrame =
    shDocs.select(col("doc_id"), posexplode(Portable.minhashBands(col("sh"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))

  val minhashBandsSql: String = {
    val sig = signatureSql(hashedShinglesSql)
    val bands = (0 until Bands).map(b => bandHashSql("sig", b)).mkString(", ")
    s"""WITH sigs AS (SELECT doc_id, $sig AS sig FROM documents),
       |bh AS (SELECT doc_id, [$bands] AS bands FROM sigs)
       |SELECT doc_id, i - 1 AS band, bands[i] AS band_hash
       |FROM bh, unnest(generate_series(1, ${Bands})) AS g(i)""".stripMargin
  }

  /** Q-DEDUP-INCREMENTAL: dedup the NEW slice against the previous
    * snapshot's band index — the form a 100 TB re-crawl actually runs:
    * [[Corpus.delta]]'s `added ∪ changed` docs (a few percent of the
    * corpus) query the standing MinHash-LSH index of the prior
    * snapshot, plus dedup among themselves; the unchanged 95+% is
    * never re-shingled. Candidates are verified with exact Jaccard
    * (≥ 0.8, [[minhashPairs]]' gate); a changed doc is never matched
    * to its own prior version (same doc_id — that's an update, not a
    * duplicate), but CAN match another doc's prior version.
    *
    * Shape at 100 TB: the prior index is a persisted lake table of
    * (doc_id, band, band_hash) — here rebuilt from the derived prev
    * snapshot, same plan either way; the new slice's bands equi-join
    * it on compact keys (payloads never shuffle), verification joins
    * shingle arrays by id. Cost scales with |new slice| × collision
    * rate, not corpus size.
    */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = Tables.par(Tables.documents(s, d))
    // the q_corpus_delta snapshot construction: changed docs carried a
    // different payload in prev; added docs were absent
    val prevDocs = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 5, concat(col("text"), lit(" rev")))
          .otherwise(col("text")).as("text"))
    val newDocs = base.filter(col("doc_id") % 17 === 3 || col("doc_id") % 11 === 5)
      .select(col("doc_id"), col("text"))
    // fat-bucket cap on BOTH band tables (ADVICE r16): without it a fat
    // band bucket in the standing prior-snapshot index makes candPrev
    // grow with |slice| × |bucket| — the same superlinear candidate wall
    // capBuckets bounds for minhashPairs resurfaces on the re-crawl
    // path. Raw bands persist first (capBuckets reads its input twice);
    // the oracle applies the identical cap. Fixtures at sf ≤ 1 are
    // bit-unchanged (max bucket there is far below the cap).
    val prevBands = capBuckets(bandsFromShingles(shingles(prevDocs)).persist(mem))
    // the CAPPED new-slice bands are consumed three times (the prev
    // probe plus both sides of the new-slice self-join) — persist the
    // capped frame too (ADVICE r17), or the cap's bucket-count
    // aggregate and equi-join recompute per consumer; the raw persist
    // underneath stays because capBuckets reads its input twice
    val newBands = capBuckets(bandsFromShingles(shingles(newDocs)).persist(mem)).persist(mem)
    val candPrev = newBands.as("a")
      .join(prevBands.as("p"),
        col("a.band") === col("p.band") && col("a.band_hash") === col("p.band_hash") &&
          col("a.doc_id") =!= col("p.doc_id"))
      .groupBy(col("a.doc_id").as("new_id"), col("p.doc_id").as("matched_id"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("vs_prev", lit(true))
    val candNew = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("new_id"), col("b.doc_id").as("matched_id"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("vs_prev", lit(false))
    val newSh = shingles(newDocs).persist(mem)
    val verifySh = newSh.withColumn("side", lit(false))
      .unionByName(shingles(prevDocs).withColumn("side", lit(true)))
    candPrev.unionByName(candNew)
      .join(newSh.as("na"), col("new_id") === col("na.doc_id"))
      .join(verifySh.as("m"),
        col("matched_id") === col("m.doc_id") && col("m.side") === col("vs_prev"))
      .select(col("new_id"), col("matched_id"), col("vs_prev"), col("n_bands"),
        (size(array_intersect(col("na.sh"), col("m.sh"))).cast(DoubleType) /
          size(array_union(col("na.sh"), col("m.sh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  val incrementalSql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    val sig = signatureSql(hashedShinglesSql)
    val bands = (0 until Bands).map(b => bandHashSql("sig", b)).mkString(", ")
    def bandCte(src: String) =
      s"""SELECT doc_id, i - 1 AS band, bands[i] AS band_hash
         |  FROM (SELECT doc_id, [$bands] AS bands
         |        FROM (SELECT doc_id, $sig AS sig FROM $src)),
         |    unnest(generate_series(1, $Bands)) AS g(i)""".stripMargin
    s"""WITH prevd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 5 THEN text || ' rev' ELSE text END AS text
       |  FROM documents WHERE doc_id % 17 <> 3),
       |newd AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 17 = 3 OR doc_id % 11 = 5),
       |pb0 AS (${bandCte("prevd")}),
       |pb AS (${capBucketsSql("pb0")}),
       |nb0 AS (${bandCte("newd")}),
       |nb AS (${capBucketsSql("nb0")}),
       |cand AS (
       |  SELECT new_id, matched_id, TRUE AS vs_prev, n_bands FROM (
       |    SELECT a.doc_id AS new_id, p.doc_id AS matched_id, count(*) AS n_bands
       |    FROM nb a JOIN pb p
       |      ON a.band = p.band AND a.band_hash = p.band_hash AND a.doc_id <> p.doc_id
       |    GROUP BY 1, 2)
       |  UNION ALL
       |  SELECT new_id, matched_id, FALSE, n_bands FROM (
       |    SELECT a.doc_id AS new_id, b.doc_id AS matched_id, count(*) AS n_bands
       |    FROM nb a JOIN nb b
       |      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)),
       |nsh AS (SELECT doc_id, $sh AS sh FROM newd),
       |allsh AS (
       |  SELECT doc_id, sh, FALSE AS side FROM nsh
       |  UNION ALL
       |  SELECT doc_id, $sh AS sh, TRUE FROM prevd)
       |SELECT new_id, matched_id, vs_prev, n_bands, jaccard FROM (
       |  SELECT c.new_id, c.matched_id, c.vs_prev, c.n_bands,
       |    len(list_intersect(a.sh, m.sh))::DOUBLE
       |      / len(list_distinct(list_concat(a.sh, m.sh))) AS jaccard
       |  FROM cand c
       |  JOIN nsh a ON c.new_id = a.doc_id
       |  JOIN allsh m ON c.matched_id = m.doc_id AND m.side = c.vs_prev)
       |WHERE jaccard >= 0.8""".stripMargin
  }

  /** Fat-bucket cap for the PAIR-FORMING band consumers
    * ([[minhashPairs]] → clusters/keep-best, [[editPairs]], both through
    * [[bandPairs]], and since r17 [[incremental]] through [[capBuckets]]
    * — both the standing prior-snapshot index and the new-slice bands,
    * closing the re-crawl-path candidate wall the r16 ADVICE flagged). A band
    * hash shared by more than [[FatBucketCap]] documents is a band
    * COLLISION cluster, not near-dup evidence — its membership grows
    * linearly with the corpus, so its pair product grows quadratically
    * while carrying ~zero precision. Measured at the sf10 probe
    * (500k docs): uncapped candidates 20.2M vs 1.29M at cap 256
    * (15.6×), with 2272 of 2278 exact-Jaccard-verified pairs retained —
    * the 0.26% recall loss is the standard LSH trade, and genuinely
    * identical fat clusters are the EXACT-dedup operator's job
    * (`q_dedup_exact` runs upstream of near-dup in a real pipeline).
    * With the cap, candidates are bounded by rows·cap — linear in the
    * corpus. Every fixture at sf ≤ 1 is bit-unchanged (max observed
    * bucket there is 108 < 256); the oracle applies the identical cap.
    * [[lshAudit]] deliberately stays UNCAPPED — it is the instrument
    * that measures raw candidate quality (including what a cap or band
    * retune would discard), sampled in production by design.
    */
  // `final` matters: this must be a compile-time constant. incrementalSql
  // is a val declared ABOVE this one, and Scala object vals initialize in
  // declaration order — a plain val here reads as 0 inside any earlier
  // val's initializer (it rendered `HAVING count(*) <= 0` into the
  // incremental oracle and emptied it; caught by the r17 oracle drive).
  final val FatBucketCap = 256

  /** Drop (band, band_hash) buckets larger than [[FatBucketCap]] —
    * one compact-key aggregate + equi-join, linear in the band table.
    * Only [[incremental]] uses it: there the capped new slice probes a
    * standing prior index, a join between two band tables that
    * [[bandPairs]]' one-table aggregate cannot form.
    */
  private[graft] def capBuckets(bands: DataFrame): DataFrame =
    bands.join(
      bands.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= FatBucketCap)
        .select(col("band"), col("band_hash")),
      Seq("band", "band_hash"))

  /** Band table `(doc_id, band, band_hash)` → candidate pairs
    * `(doc_a, doc_b, n_bands)`, `doc_a < doc_b`, `n_bands` = the bands
    * the two documents share: the [[capBuckets]] + band self-join
    * result, in ONE aggregate over `(band, band_hash)`. The group takes
    * its `count` and its smallest [[FatBucketCap]] + 1 members through
    * the bounded [[graft.functions.TopKAggregator]] (per-group state is
    * at most that many ids, never the bucket); buckets of 2 to
    * [[FatBucketCap]] members explode their pairs, and a fat bucket
    * (count past the cap) contributes none. A null `band_hash` (a
    * document with no shingles) is no bucket: it never pairs, as the
    * equi-join's null semantics had it. Each document sits in a
    * bucket once per band, so the members are distinct ids.
    */
  private[graft] def bandPairs(bands: DataFrame): DataFrame = {
    val members = udaf(new graft.functions.TopKAggregator(FatBucketCap + 1, Ordering.Long))
    bands.filter(col("band_hash").isNotNull)
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n"), members(col("doc_id"), col("doc_id")).as("m"))
      .filter(col("n") >= 2 && col("n") <= FatBucketCap)
      // members come back ascending, so every later member is a larger id
      .select(col("m._2").as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** DuckDB rendering of [[capBuckets]] given a bands CTE name. */
  private def capBucketsSql(b: String): String =
    s"""SELECT $b.* FROM $b JOIN (
       |  SELECT band, band_hash FROM $b GROUP BY 1, 2
       |  HAVING count(*) <= $FatBucketCap) __g USING (band, band_hash)""".stripMargin

  /** Q-DEDUP-4: full MinHash-LSH dedup — candidates from
    * [[bandPairs]] (one aggregate over the band table's
    * `(band, band_hash)` buckets, fat buckets past [[FatBucketCap]]
    * dropped), then **verified** with exact Jaccard (so LSH recall gaps
    * can't produce false positives). Output = confirmed near-dup pairs
    * with their band support. The all-pairs product never forms: at
    * 100 TB the band aggregate shuffles (doc_id, int64) rows once, and
    * the cap keeps the candidate count linear in the corpus.
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // ONE shingle pass: the persisted shingle table feeds both the
    // exact-Jaccard verify AND the band derivation ([[bandsFromShingles]]);
    // the band table itself is read once, by bandPairs' aggregate
    val docs = shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandPairs(bandsFromShingles(docs))
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"),
        (size(array_intersect(col("da.sh"), col("db.sh"))).cast(DoubleType) /
          size(array_union(col("da.sh"), col("db.sh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  val minhashPairsSql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH b0 AS ($minhashBandsSql),
       |b AS (${capBucketsSql("b0")}),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS n_bands
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2),
       |docs AS (SELECT doc_id, $sh AS sh FROM documents)
       |SELECT doc_a, doc_b, n_bands,
       |  len(list_intersect(da.sh, db.sh))::DOUBLE / len(list_distinct(list_concat(da.sh, db.sh))) AS jaccard
       |FROM cand JOIN docs da ON doc_a = da.doc_id JOIN docs db ON doc_b = db.doc_id
       |WHERE len(list_intersect(da.sh, db.sh))::DOUBLE / len(list_distinct(list_concat(da.sh, db.sh))) >= 0.8""".stripMargin
  }

  /** Q-DEDUP-AUDIT: LSH candidate-quality audit — precision/recall of
    * the MinHash band-collision CANDIDATE set against the exact
    * Jaccard ≥ 0.8 truth pairs ([[ngramJaccard]]'s definition). This is
    * the number that justifies (or retunes) the band/row configuration
    * before a 100 TB dedup run commits to it: recall says what the gate
    * will miss, precision says how much exact re-verification the
    * candidates will cost.
    *
    * One summary row: candidate/truth/hit counts (exact int64) and the
    * two single-division double ratios — bit-equal everywhere.
    *
    * Shape at 100 TB: both sides are the existing compact-key
    * pipelines (band self-join, shingle-hash inverted index); the audit
    * adds one full-outer join on the pair key and a 1-row aggregate.
    * The truth side is the expensive one — which is exactly why the
    * audit runs on a sample slice in production while the GATE runs on
    * everything; the plan is identical either way.
    */
  def lshAudit(s: SparkSession, d: String): DataFrame = {
    // one shingle pass shared by the candidate and truth sides
    // (see [[minhashPairs]]/[[bandsFromShingles]])
    val docs = shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = bandsFromShingles(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .withColumn("is_cand", lit(1L))
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), h60(col("s")).as("hs"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val truth = inv.as("a")
      .join(inv.as("b"), col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .filter(col("n_inter").cast(DoubleType) /
        (col("na.n") + col("nb.n") - col("n_inter")) >= 0.8)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_truth"))
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
        sum(coalesce(col("is_truth"), lit(0L))).as("n_truth"),
        sum(when(col("is_cand").isNotNull && col("is_truth").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_cand"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_cand").cast(DoubleType)).as("precision"),
        (col("n_hit").cast(DoubleType) / col("n_truth").cast(DoubleType)).as("recall"))
  }

  val lshAuditSql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH b AS ($minhashBandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.band_hash = b2.band_hash
       |    AND a.doc_id < b2.doc_id),
       |docs AS (SELECT doc_id, $sh AS sh FROM documents),
       |sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM docs),
       |inv AS (SELECT doc_id, ${h60Sql("s")} AS hs FROM docs, unnest(sh) AS u(s)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM inv a JOIN inv b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE n_inter::DOUBLE / (na.n + nb.n - n_inter) >= 0.8),
       |j AS (
       |  SELECT coalesce(c.doc_a, t.doc_a) AS doc_a,
       |    (c.doc_a IS NOT NULL)::BIGINT AS is_cand,
       |    (t.doc_a IS NOT NULL)::BIGINT AS is_truth
       |  FROM cand c FULL JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
       |agg AS (
       |  SELECT sum(is_cand)::BIGINT AS n_cand, sum(is_truth)::BIGINT AS n_truth,
       |    sum(is_cand * is_truth)::BIGINT AS n_hit
       |  FROM j)
       |SELECT n_cand, n_truth, n_hit,
       |  n_hit::DOUBLE / n_cand::DOUBLE AS precision,
       |  n_hit::DOUBLE / n_truth::DOUBLE AS recall
       |FROM agg""".stripMargin
  }

  /** Q-DEDUP-GATE: online near-dup ADMISSION verdicts — "keep the first
    * document to claim each LSH bucket". For every doc: how many of its
    * band buckets were already claimed by an EARLIER doc (`n_hot_bands`,
    * earlier = smaller `doc_id`, the arrival order), the earliest such
    * claimer (`dup_of`), and the verdict (`kept` ⇔ every bucket
    * first-claimed by the doc itself). This is the dedup shape a
    * 100 TB ingest actually runs: documents are admitted or rejected
    * AS THEY ARRIVE, instead of by a later full-corpus pairwise sweep —
    * [[minhashPairs]] is the audit tool, this is the gate.
    *
    * Scale: candidates never form pairs at all here — the state is one
    * `min(doc_id)` per (band, band_hash) bucket. Two compact-key
    * shuffles ((band,hash) then doc_id); the second join is
    * co-partitioned with the first's output. The streaming twin
    * ([[graft.streaming.Streaming.lshGateStream]]) holds 8 bytes of
    * keyed state per bucket and emits verdict rows per arriving doc;
    * StreamingSpec pins any-batch-split parity with this batch form.
    */
  def lshGate(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = bands.groupBy(col("band"), col("band_hash"))
      .agg(min(col("doc_id")).as("m"))
    gateVerdicts(bands.join(firsts, Seq("band", "band_hash"))
      .select(col("doc_id"), col("m").as("owner")))
  }

  /** The ONE definition of the gate's verdict columns, shared by the
    * batch operator and the streaming rollup
    * ([[graft.streaming.StreamQueries.lshGate]]) so the two driver rows
    * cannot diverge from each other or the oracle: input is one row per
    * (doc, bucket) with `owner` = that bucket's first claimer.
    */
  private[graft] def gateVerdicts(ownerRows: DataFrame): DataFrame =
    ownerRows
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bands"),
        sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("n_hot_bands"),
        min(col("owner")).as("min_owner"))
      // min_owner ≤ doc_id always (the doc is in its own buckets), so
      // kept ⇔ min over its buckets' first-claimers is the doc itself
      .select(col("doc_id"), col("n_bands"), col("n_hot_bands"),
        (col("min_owner") === col("doc_id")).as("kept"),
        when(col("min_owner") < col("doc_id"), col("min_owner")).as("dup_of"))

  val lshGateSql: String =
    s"""WITH b AS ($minhashBandsSql),
       |f AS (SELECT band, band_hash, min(doc_id) AS m FROM b GROUP BY 1, 2)
       |SELECT t.doc_id, count(*)::BIGINT AS n_bands,
       |  sum(CASE WHEN f.m < t.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_hot_bands,
       |  min(f.m) = t.doc_id AS kept,
       |  CASE WHEN min(f.m) < t.doc_id THEN min(f.m) END AS dup_of
       |FROM b t JOIN f USING (band, band_hash)
       |GROUP BY t.doc_id""".stripMargin

  private val simhashSqlExpr: String =
    """list_reduce(list_transform(generate_series(0, 59), j ->
      |  CASE WHEN list_sum(list_transform(hts, x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |       THEN (1::BIGINT << j) ELSE 0::BIGINT END), (a, b) -> a + b)""".stripMargin

  /** Q-DEDUP-5: 60-bit SimHash per document — bit j set iff the ±1
    * votes from each token hash's bit j sum positive, i.e. iff
    * `2·ones_j > n_tokens`.
    *
    * Single-pass plan: explode token hashes → one hash aggregate with
    * 60 codegen'd bit-count sums (map-side partial combine collapses
    * each doc to one row per partition before the shuffle, so only
    * ~60×8 bytes per doc cross the network). Replaces the previous
    * 60-separate-`aggregate()`-folds form (~60 array traversals per
    * document, `weak` in the round-1 plan audit).
    */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), explode_outer(transform(tokens(col("text")), t => h60(t))).as("x"))
    val ones = (0 until 60).map(j =>
      sum(shiftright(col("x"), j).bitwiseAND(lit(1L))).as(s"o$j"))
    val fingerprint = (0 until 60)
      .map(j => when(col(s"o$j") * 2 > col("n_tokens"), lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(count(col("x")).as("n_tokens"), ones: _*)
      .select(col("doc_id"), fingerprint.as("simhash"), col("n_tokens"))
  }

  val simhashSql: String =
    s"""SELECT doc_id, $simhashSqlExpr AS simhash, len(hts)::BIGINT AS n_tokens
       |FROM (SELECT doc_id, list_transform(${tokensSql("text")}, t -> ${h60Sql("t")}) AS hts FROM documents)""".stripMargin

  /** Q-DEDUP-6: SimHash near-dup pairs (hamming ≤ 9) found via
    * pigeonhole chunk blocking: 10 chunks × 6 bits — any pair within
    * hamming 9 differs in ≤ 9 chunks, so it must agree on ≥ 1 of the 10
    * ⇒ the chunk equi-join has **provably complete recall**, and the
    * oracle can brute-force the same answer. At 100 TB: candidates come
    * from a join on (chunk_idx, 6-bit value), never an all-pairs scan.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // one row per doc; persist so the chunk self-join's two sides don't
    // re-run the fingerprint aggregation
    val sh = simhash(s, d).select(col("doc_id"), col("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunks = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 10).map(k =>
          shiftright(col("simhash"), 6 * k).bitwiseAND(lit(63L))): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("k"), col("col").as("chunk"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.k") === col("b.k") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 9)
  }

  val simhashPairsSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, $simhashSqlExpr AS simhash
       |  FROM (SELECT doc_id, list_transform(${tokensSql("text")}, t -> ${h60Sql("t")}) AS hts FROM documents))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 9""".stripMargin

  /** Q-DEDUP-7: embedding-cosine near-dup pairs (cos ≥ 0.4). The sf
    * implementation is the exact all-pairs baseline (oracle-checkable);
    * the scale path for 100 TB is [[Similarity.lshBuckets]] blocking —
    * same cosine expression, candidates restricted to shared buckets.
    */
  def cosinePairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  val cosinePairsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4""".stripMargin

  /** Q-DEDUP-8: the 100 TB cosine-dedup path — candidates restricted to
    * pairs sharing their 16-bit hyperplane LSH bucket
    * ([[Similarity.bucketCol]]), then **verified** with the exact cosine
    * (no false positives; recall is the LSH trade, tunable via more
    * tables/probes). The all-pairs product never forms: the self-join
    * shuffles (vec_id, bucket, embedding) on a 16-bit key, candidate
    * count ≈ N²/2¹⁶ instead of N². The oracle recomputes the identical
    * deterministic buckets, so the scale path is itself hash-gated.
    */
  def cosineBlocked(s: SparkSession, d: String): DataFrame = {
    // persist: both sides of the bucket self-join would otherwise
    // recompute the 16 hyperplane dot products per vector
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
        Similarity.bucketCol(col("embedding")).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  val cosineBlockedSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm,
       |  (${Similarity.bucketSqlExpr("embedding")}) AS bucket FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4""".stripMargin

  /** Q-DEDUP-9: near-dup CLUSTERS — the step that turns verified pairs
    * into a dedup decision: connected components over the
    * MinHash-verified pair graph (the SAME distributed CC operator the
    * person pipeline uses for alias resolution,
    * [[graft.state.IdentityResolver]]), each document labeled with its
    * cluster's min doc_id and a keep/drop flag. At 100 TB the
    * component state is one (id, label) pair per *paired* document —
    * orders of magnitude smaller than the corpus; unpaired documents
    * never enter the fixpoint (left join back).
    */
  def clusters(s: SparkSession, d: String): DataFrame = clustersWith(s, d)

  /** [[clusters]] plus `carry`: columns computed over `documents` in the
    * same scan that labels the clusters, after `is_keeper`. This is how
    * [[keepBest]] (`n_chars`) and [[Corpus.funnel]] (`lang`,
    * `is_quality`) read `documents` once instead of joining it back.
    * One row per `documents` row: it relies on `doc_id` being the
    * `documents` key, as the old join-back did.
    */
  private[graft] def clustersWith(s: SparkSession, d: String, carry: Column*): DataFrame = {
    // zero-padded ids so the CC label election (lexical min) is numeric min.
    // The pairs are grouped by (doc_a, doc_b): the edge SET components asks for
    val pairs = minhashPairs(s, d).select(
      format_string("%010d", col("doc_a")).as("src"),
      format_string("%010d", col("doc_b")).as("dst"))
    val comp = graft.state.IdentityResolver.components(s, pairs)
    val docs = Tables.documents(s, d).select(col("doc_id") +: carry: _*)
    val clusterId = coalesce(col("canonical").cast(LongType), col("doc_id"))
    // no broadcast hint: the component table is one row per PAIRED doc,
    // which grows with the corpus (near-dup rate × N) — AQE broadcasts
    // it while it is small and falls back to a shuffle join at scale
    docs.join(comp, format_string("%010d", col("doc_id")) === col("id"), "left")
      .select(Seq(col("doc_id"), clusterId.as("cluster_id"),
        (col("doc_id") === clusterId).as("is_keeper")) ++ docs.columns.tail.map(col): _*)
  }

  val clustersSql: String =
    s"""WITH RECURSIVE mp AS ($minhashPairsSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM mp
       |          UNION SELECT doc_b, doc_a FROM mp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |canon AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
       |SELECT d.doc_id,
       |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |  d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_keeper
       |FROM documents d LEFT JOIN canon c USING (doc_id)""".stripMargin

  /** Q-DEDUP-KEEP: cluster SURVIVORSHIP — the decision step after
    * [[clusters]]: within each near-dup cluster, elect the canonical
    * survivor by a QUALITY policy (longest document wins, doc_id
    * tiebreak — the "keep longest" rule web-corpus pipelines such as
    * FineWeb apply, rather than [[clusters]]' structural min-id label)
    * and remap every member to its keeper. The output is the dedup
    * rewrite table: `doc_id → keeper_id` plus the keep/drop bit.
    *
    * Shape at 100 TB: the election window runs over compact
    * (cluster_id, n_chars, doc_id) triples — document payloads never
    * enter the shuffle; cluster state is one row per *clustered*
    * document (singletons keep themselves via the same window on a
    * 1-row partition). `n_chars` rides the labeling scan
    * ([[clustersWith]]), so `documents` is read once. The rewrite table
    * is the broadcast side of the final keep-join against the corpus.
    */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    clustersWith(s, d, col("n_chars"))
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
  }

  val keepBestSql: String =
    s"""WITH cl AS ($clustersSql),
       |j AS (
       |  SELECT c.doc_id, c.cluster_id, d.n_chars
       |  FROM cl c JOIN documents d USING (doc_id))
       |SELECT doc_id, cluster_id, n_chars,
       |  first_value(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keeper_id,
       |  doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_keeper
       |FROM j""".stripMargin

  /** Q-DEDUP-10: SemDeDup — semantic dedup scoped to coarse-quantizer
    * cells (Abbas et al. 2023: cluster the embedding space, then
    * deduplicate WITHIN each cluster only). Candidates come from a
    * self-join on the IVF cell id ([[Similarity.ivfAssign]], the same
    * deterministic CORPUS-SCALED quantizer the ANN queries share:
    * c = max(8, ceil(N/[[Portable.CellTarget]])), so candidate count is
    * Σ|cell|² ≈ N·256 — linear in the corpus, never the all-pairs
    * product — and the exact cosine verifies every pair (no false
    * positives; cross-cell near-dups are the recall trade, tunable via
    * the per-cell target / multi-assign). Keep rule: a vector is
    * dropped when a same-cell
    * neighbor with cosine ≥ 0.4 and a smaller vec_id exists (the
    * paper keeps a per-group representative; min-id is the
    * deterministic, oracle-checkable election of it).
    */
  def semantic(s: SparkSession, d: String): DataFrame = {
    // persist: the cell self-join reads both sides; without the cache
    // the assignment (8-centroid scoring + rank-1 window) runs twice
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .join(Similarity.ivfAssign(s, d).select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops = e.as("a").join(e.as("b"),
        col("a.centroid_id") === col("b.centroid_id") && col("a.vec_id") < col("b.vec_id"))
      .filter(dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")) >= 0.4)
      .select(col("b.vec_id").as("vec_id")).distinct()
    e.select(col("vec_id"), col("centroid_id"))
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  val semanticSql: String =
    s"""WITH assign AS (${Similarity.ivfAssignSql}),
       |e AS (
       |  SELECT em.vec_id, em.embedding, ${l2normSql("em.embedding")} AS nrm, a.centroid_id
       |  FROM embeddings em JOIN assign a ON em.vec_id = a.vec_id),
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e a JOIN e b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4)
       |SELECT e.vec_id, e.centroid_id, dr.vec_id IS NOT NULL AS dropped
       |FROM e LEFT JOIN drops dr ON e.vec_id = dr.vec_id""".stripMargin

  /** Q-DEDUP-11: exact-substring span dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): every [[SpanW]]-token window whose exact text
    * occurs more than once in the corpus (within OR across documents)
    * is a duplicated span; per document, report how many of its spans
    * are duplicated and what fraction of its tokens a span-cutting
    * dedup would remove.
    *
    * The paper builds one corpus-wide suffix array — sequential and
    * RAM-bound. The Spark decomposition replaces it with fixed-width
    * window hashing:
    *
    *   1. map-only: hash each W-token window (h60 of the joined span)
    *     and explode to the posting table (span_h, doc_id, pos) —
    *     the document payload never shuffles, only ~20 B/token;
    *   2. one shuffle on span_h: occurrence counts via a window
    *     function (count per key — no self-join, so a boilerplate
    *     span shared by k docs costs k rows, never k²);
    *   3. one shuffle on doc_id: duplicated-token coverage in closed
    *     form — sorted by pos, each duplicated span covers
    *     min(W, next_pos − pos) tokens (interval union without a
    *     fold or collect);
    *   4. left-join the rollup back to per-doc token counts (zeros
    *     for clean docs).
    *
    * vs the suffix array: spans shorter than W tokens are missed and
    * duplicate runs are detected at W-token granularity — the
    * standard trade (MinHash-style windowing) for a scan that is two
    * compact-key shuffles at any corpus size.
    */
  val SpanW = 8

  /** docs → (doc_id, n_tokens, spans[(pos, span_h)]), with `toks`
    * materialized in its own projection: the window transform references
    * it many times, and codegen subexpression elimination cannot reach
    * into a higher-order-function lambda, so inlined it would re-run the
    * regex split per reference per span position.
    */
  private def spanDocs(s: SparkSession, d: String): DataFrame =
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"),
        when(size(col("toks")) >= SpanW,
          transform(sequence(lit(1), size(col("toks")) - (SpanW - 1)), i =>
            struct(i.as("pos"), h60(concat_ws(" ", slice(col("toks"), i, lit(SpanW)))).as("span_h"))))
          .otherwise(array().cast("array<struct<pos:int,span_h:bigint>>")).as("spans"))

  def spans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val post = base.select(col("doc_id"), explode(col("spans")).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.span_h").as("span_h"))
    val dup = post
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("span_h"))))
      .filter(col("cnt") >= 2)
    val covered = dup
      .withColumn("nxt", lead(col("pos"), 1)
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup"),
        sum(least(coalesce(col("nxt") - col("pos"), lit(SpanW)), lit(SpanW)))
          .as("dup_toks"))
    base.select(col("doc_id"), col("n_tokens"), size(col("spans")).cast(LongType).as("n_spans"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("dup_toks"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  val spansSql: String = {
    val toks = tokensSql("text")
    val sh = h60Sql(s"array_to_string(toks[pos:pos+${SpanW - 1}], ' ')")
    s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
       |stats AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |                 greatest(len(toks) - ${SpanW - 1}, 0)::BIGINT AS n_spans FROM base),
       |post AS (
       |  SELECT doc_id, pos, $sh AS span_h
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - ${SpanW - 1})) AS pos FROM base)),
       |dup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY span_h) AS cnt FROM post)
       |  WHERE cnt >= 2),
       |cov AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
       |         sum(least(coalesce(nxt - pos, $SpanW), $SpanW))::BIGINT AS dup_tokens
       |  FROM (SELECT doc_id, pos,
       |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM dup)
       |  GROUP BY doc_id)
       |SELECT s.doc_id, s.n_tokens, s.n_spans,
       |  coalesce(c.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       |  coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
       |  CASE WHEN s.n_tokens > 0
       |    THEN coalesce(c.dup_tokens, 0)::DOUBLE / s.n_tokens ELSE 0.0 END AS dup_frac
       |FROM stats s LEFT JOIN cov c USING (doc_id)""".stripMargin
  }

  /** Q-DEDUP-12: novelty scoring — the incremental-crawl dedup gate:
    * per document, the fraction of its distinct 3-shingles NOT seen in
    * any earlier document (doc_id order standing in for crawl order).
    * A recrawl scores ~0 and is skipped without any pairwise
    * comparison; boilerplate-heavy pages score low; genuinely new
    * content scores high. The containment-style complement of
    * [[ngramJaccard]]: that one finds near-equal PAIRS, this one
    * scores each doc against the whole preceding corpus at once.
    *
    * Shape at 100 TB: first-seen per shingle is ONE hash aggregate of
    * the inverted index (map-side combined min); the join back is
    * co-partitioned on the same shingle key, then one doc-keyed
    * rollup. No self-join, so a shingle shared by k docs costs k rows
    * — the hot-key k² blowup of pair enumeration never appears.
    */
  def novelty(s: SparkSession, d: String): DataFrame = {
    val docs = shingleDocs(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), h60(col("s")).as("hs"))
    val first = inv.groupBy(col("hs")).agg(min(col("doc_id")).as("first_doc"))
    val seen = inv.join(first, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_sn"))
    docs.select(col("doc_id"))
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_sn"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_sh"), lit(0L)) > 0,
          (col("n_sh") - col("n_sn")).cast(DoubleType) / col("n_sh"))
          .otherwise(lit(1.0)).as("novelty"))
  }

  val noveltySql: String = {
    val toks = tokensSql("text")
    s"""WITH base AS (
       |  SELECT doc_id, ${shingles3Sql("toks")} AS sh
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |inv AS (
       |  SELECT doc_id, ${h60Sql("g")} AS hs
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM base)),
       |first AS (SELECT hs, min(doc_id) AS first_doc FROM inv GROUP BY hs),
       |seen AS (
       |  SELECT i.doc_id, count(*)::BIGINT AS n_sh,
       |         sum(CASE WHEN f.first_doc < i.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_sn
       |  FROM inv i JOIN first f USING (hs) GROUP BY i.doc_id)
       |SELECT d.doc_id,
       |  coalesce(s.n_sh, 0) AS n_shingles,
       |  coalesce(s.n_sn, 0) AS n_seen,
       |  CASE WHEN coalesce(s.n_sh, 0) > 0
       |    THEN (s.n_sh - s.n_sn)::DOUBLE / s.n_sh ELSE 1.0 END AS novelty
       |FROM documents d LEFT JOIN seen s USING (doc_id)""".stripMargin
  }

  /** Max absolute edit distance for [[editPairs]]. Sized to the corpus:
    * docs average ~300 chars, so 40 edits ≈ 13% of a document — the
    * "template with local edits" band that shingle-set measures (Jaccard,
    * containment) blur but character-level edit distance pins exactly.
    */
  val MaxEdit = 40

  /** Q-DEDUP-EDIT: edit-distance-verified near-dup pairs — the
    * character-level dedup verdict (catches reorderings, small
    * insertions and substitutions as *counted edits*, where the
    * shingle-set measures only see set overlap). Candidates come from
    * the same MinHash band-collision blocking as [[minhashPairs]] (the
    * reference's dedup delegate has no equivalent; this is the fuzzy
    * text-join every curation pipeline runs before training); each
    * candidate is verified with the banded Levenshtein kernel
    * (`levenshtein(a, b, threshold)` — O(threshold·min(len)) instead of
    * O(len²), returns -1 past the cutoff so non-dups exit early), after
    * a free `|len_a − len_b| ≤ threshold` necessary-condition prefilter.
    *
    * `edit_sim = 1 − dist/max(len)` is the normalized similarity a
    * keep/drop policy thresholds on; one int division pair → double,
    * bit-equal across engines.
    *
    * Shape at 100 TB: identical to [[minhashPairs]] — the all-pairs
    * product never forms; candidates come from [[bandPairs]]' one
    * aggregate over the (doc_id, int64) band rows, keeping only the
    * pair key, document text joins in only for the candidate set,
    * and the verify is map-side with the banded kernel. Recall is the
    * LSH trade ([[lshAudit]] measures it); the oracle recomputes the
    * identical deterministic bands, so the scale path itself is
    * hash-gated.
    *
    * ORACLE CONTRACT — ASCII only: Spark's `levenshtein` counts
    * code-point edits while DuckDB's counts BYTE edits, and `length`/
    * the `|Δlen| ≤ threshold` prefilter mix the same units. The two
    * agree iff the corpus is single-byte (ASCII), which the test
    * fixture is (DedupSpec asserts it loudly). The Spark side keeps
    * the code-point semantics — the correct unit for text dedup; a
    * multi-byte corpus changes only the ORACLE, not this plan.
    */
  def editPairs(s: SparkSession, d: String): DataFrame = {
    // bandPairs' pairs are grouped, so already distinct
    val cand = bandPairs(minhashBands(s, d)).select(col("doc_a"), col("doc_b"))
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), length(col("text")).cast(LongType).as("len"))
    cand
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .filter(abs(col("da.len") - col("db.len")) <= MaxEdit)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("da.text"), col("db.text"), MaxEdit).cast(LongType).as("edit_dist"),
        greatest(col("da.len"), col("db.len")).as("max_len"))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        (lit(1.0) - col("edit_dist").cast(DoubleType) / col("max_len").cast(DoubleType))
          .as("edit_sim"))
  }

  val editPairsSql: String =
    s"""WITH b0 AS ($minhashBandsSql),
       |b AS (${capBucketsSql("b0")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id),
       |d AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM documents),
       |lev AS (
       |  -- compute the quadratic edit distance ONCE per length-filtered
       |  -- candidate (repeating the call in SELECT and WHERE is not
       |  -- reliably CSE'd and triples the dominant cost)
       |  SELECT doc_a, doc_b, greatest(da.len, db.len) AS max_len,
       |    levenshtein(da.text, db.text)::BIGINT AS edit_dist
       |  FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
       |  WHERE abs(da.len - db.len) <= $MaxEdit)
       |SELECT doc_a, doc_b, edit_dist,
       |  1.0 - edit_dist::DOUBLE / max_len::DOUBLE AS edit_sim
       |FROM lev WHERE edit_dist <= $MaxEdit""".stripMargin

  /** Q-DEDUP-URL: URL-canonicalization dedup — the metadata dedup axis
    * every crawl pipeline runs BEFORE content dedup (CommonCrawl-style:
    * the same page is fetched under host-case, trailing-slash,
    * tracking-param, param-order, and fragment variants; canonicalizing
    * the URL collapses them for free, no shingles needed). URLs are
    * synthesized deterministically from `doc_id` with all five noise
    * classes; the canonical form is: lowercase host, trailing slash
    * stripped, fragment dropped, `utm_*` params dropped, remaining
    * params sorted.
    *
    * The oracle derives the canonical URL in CLOSED FORM from `doc_id`
    * (the `q_fn_url` pattern) — an independent derivation that
    * cross-checks the whole parse_url/split/filter/sort chain rather
    * than re-running it.
    *
    * Shape at 100 TB: canonicalization is a per-row codegen'd
    * expression chain (parse_url + regexp + array ops, no UDF); the
    * rollup shuffles (canonical, compact stats) with map-side combine.
    * This is the cheapest dedup in the file — which is the point: it
    * runs first and shrinks what MinHash has to see.
    */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val k = expr("doc_id div 3")
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://example.com/p/"), k, lit("?id="), k, lit("&ref=home")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://EXAMPLE.com/p/"), k, lit("/?ref=home&id="), k,
          lit("&utm_source=mail")))
      .otherwise(
        concat(lit("https://example.com/p/"), k, lit("/?id="), k,
          lit("&ref=home#sec2")))
    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val host = lower(parse_url(noFrag, lit("HOST")))
    val path = regexp_replace(parse_url(noFrag, lit("PATH")), "/$", "")
    val params = array_join(
      array_sort(filter(split(parse_url(noFrag, lit("QUERY")), "&"),
        p => !p.startsWith("utm_"))), "&")
    val canonical = concat(lit("https://"), host, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
    Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), canonical.as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("doc_id")).as("keeper_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  val urlDedupSql: String =
    """SELECT 'https://example.com/p/' || (doc_id // 3) || '?id=' || (doc_id // 3)
      |    || '&ref=home' AS canonical,
      |  count(*)::BIGINT AS n_variants,
      |  min(doc_id) AS keeper_doc,
      |  max(doc_id) AS max_doc
      |FROM documents GROUP BY 1""".stripMargin

  /** Prefix width (tokens) for [[prefixGroups]]. */
  val PrefixW = 8

  /** Q-DEDUP-19: PREFIX dedup — documents sharing their first
    * [[PrefixW]] tokens (truncation/re-crawl/pagination near-dups:
    * same page cut at different lengths — a class the symmetric
    * shingle measures under-weigh and edit distance prices linearly).
    * Groups by the prefix hash; per document: its group id (min
    * doc_id), group size, and the keep bit (longest doc wins, doc_id
    * tie-break — truncations drop, the fullest copy survives).
    *
    * Shape at 100 TB: one map pass hashes the 8-token prefix (the
    * payload never shuffles — only (doc_id, prefix_h, n_chars)); one
    * group-keyed window elects the keeper. Short docs (< [[PrefixW]]
    * tokens) are their own group (prefix = all tokens, zero-padded
    * width marker) — never cross-matched with longer docs.
    */
  def prefixGroups(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("n_chars"),
        h60(concat_ws(" ",
          slice(col("toks"), 1, PrefixW),
          least(size(col("toks")), lit(PrefixW)).cast("string"))).as("prefix_h"))
    val w = Window.partitionBy(col("prefix_h"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .withColumn("group_id", min(col("doc_id")).over(
        Window.partitionBy(col("prefix_h"))))
      .withColumn("group_size", count(lit(1)).over(
        Window.partitionBy(col("prefix_h"))))
      .withColumn("is_keeper", col("doc_id") === first(col("doc_id")).over(w))
      .select(col("doc_id"), col("group_id"), col("group_size"), col("is_keeper"))
  }

  val prefixGroupsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, n_chars, ${tokensSql("text")} AS toks FROM documents),
       |p AS (
       |  SELECT doc_id, n_chars,
       |    ${h60Sql(s"array_to_string(toks[1:$PrefixW], ' ') || ' ' || least(len(toks), $PrefixW)::VARCHAR")} AS prefix_h
       |  FROM t)
       |SELECT doc_id,
       |  min(doc_id) OVER (PARTITION BY prefix_h) AS group_id,
       |  count(*) OVER (PARTITION BY prefix_h)::BIGINT AS group_size,
       |  doc_id = first_value(doc_id) OVER (PARTITION BY prefix_h
       |    ORDER BY n_chars DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_keeper
       |FROM p""".stripMargin

  // --------------------------------------------------------------- CDC

  /** CDC gram width (rolling window) and boundary divisor (expected
    * chunk length ≈ divisor chars). */
  val CdcK = 8
  val CdcDiv = 32

  /** Q-DEDUP-CDC: content-defined chunking dedup (the rsync/LBFS/
    * restic boundary scheme applied to text): a chunk boundary falls
    * after position i whenever the rolling hash of the last [[CdcK]]
    * chars satisfies `h % CdcDiv == 0`, so boundaries survive
    * insertions/deletions — unlike fixed-width blocks, a one-char edit
    * reshapes at most the chunk it lands in. Chunks are content-hashed
    * and deduplicated across the corpus; the per-doc report gives the
    * chunk-level containment that whole-doc hashing misses (partial
    * overlap from boilerplate headers, quoted replies, re-crawls).
    *
    * Shape at 100 TB: chunking is a map-only codegen'd expression per
    * doc (no UDF), and the text is scanned ONCE — postings collapse to
    * the compact (chunk_hash, doc_id) pair table first (map-side
    * partial agg), the doc-frequency comes from a chash-partitioned
    * window over those pairs (one row per pair ⇒ count(*) IS the
    * distinct-doc df), and only 24-byte rows ever shuffle. The naive
    * df-rollup-then-join form reads the corpus twice.
    */
  def cdc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = length(col("text"))
    // boundary positions: i in [CdcK, L] where h60 of the trailing
    // K-gram divides CdcDiv; guarded — Spark's sequence(K, L) counts
    // DOWN when L < K, so short docs get the empty boundary list.
    val bnds = when(L >= CdcK,
        filter(sequence(lit(CdcK), L), i =>
          h60(col("text").substr(i - (CdcK - 1), lit(CdcK))) % CdcDiv === 0))
      .otherwise(array().cast("array<int>"))
    val cuts = concat(array(lit(0)), bnds, array(L))
    val chunks = filter(
      transform(sequence(lit(1), size(col("cuts")) - 1), j =>
        col("text").substr(element_at(col("cuts"), j) + 1,
          element_at(col("cuts"), j + 1) - element_at(col("cuts"), j))),
      c => length(c) > 0)
    val pairs = Tables.par(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), cuts.as("cuts"))
      .select(col("doc_id"), explode(chunks).as("chunk"))
      .select(col("doc_id"), h60(col("chunk")).as("chash"),
        length(col("chunk")).cast(LongType).as("clen"))
      .groupBy(col("chash"), col("doc_id"))
      .agg(count(lit(1)).as("k"), sum(col("clen")).as("chars"))
    pairs
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("chash"))))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_chunks"),
        coalesce(sum(when(col("df") >= 2, col("k"))), lit(0L)).as("n_shared"),
        coalesce(sum(when(col("df") >= 2, col("chars"))), lit(0L)).as("shared_chars"),
        sum(col("chars")).as("total_chars"))
  }

  val cdcSql: String = {
    val gram = h60Sql(s"substr(text, i - ${CdcK - 1}, $CdcK)")
    s"""WITH base AS (SELECT doc_id, text, len(text) AS L FROM documents),
       |cut AS (
       |  SELECT doc_id, text,
       |    list_concat(list_concat([0],
       |      CASE WHEN L >= $CdcK
       |           THEN list_filter(generate_series($CdcK, L), i -> $gram % $CdcDiv = 0)
       |           ELSE [] END), [L]) AS cuts
       |  FROM base),
       |ch AS (
       |  SELECT doc_id,
       |    unnest(list_filter(list_transform(generate_series(1, len(cuts) - 1),
       |      j -> substr(text, cuts[j] + 1, cuts[j + 1] - cuts[j])),
       |      c -> len(c) > 0)) AS chunk
       |  FROM cut),
       |post AS (
       |  SELECT doc_id, ${h60Sql("chunk")} AS chash, len(chunk)::BIGINT AS clen
       |  FROM ch),
       |df AS (SELECT chash, count(DISTINCT doc_id) AS df FROM post GROUP BY 1)
       |SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |  count(*) FILTER (WHERE df >= 2)::BIGINT AS n_shared,
       |  coalesce(sum(clen) FILTER (WHERE df >= 2), 0)::BIGINT AS shared_chars,
       |  sum(clen)::BIGINT AS total_chars
       |FROM post JOIN df USING (chash)
       |GROUP BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_dedup_cdc", cdc, Some(cdcSql)),
    Q("q_dedup_prefix", prefixGroups, Some(prefixGroupsSql)),
    Q("q_dedup_exact", exact, Some(exactSql)),
    Q("q_dedup_ngram", ngramJaccard, Some(ngramJaccardSql)),
    Q("q_dedup_containment", containment, Some(containmentSql)),
    Q("q_dedup_minhash", minhashBands, Some(minhashBandsSql)),
    Q("q_dedup_minhash_pairs", minhashPairs, Some(minhashPairsSql)),
    Q("q_dedup_incremental", incremental, Some(incrementalSql)),
    Q("q_dedup_edit", editPairs, Some(editPairsSql)),
    Q("q_dedup_lsh_audit", lshAudit, Some(lshAuditSql)),
    Q("q_dedup_lsh_gate", lshGate, Some(lshGateSql)),
    Q("q_dedup_simhash", simhash, Some(simhashSql)),
    Q("q_dedup_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    Q("q_dedup_cosine", cosinePairs, Some(cosinePairsSql)),
    Q("q_dedup_cosine_blocked", cosineBlocked, Some(cosineBlockedSql)),
    Q("q_dedup_semantic", semantic, Some(semanticSql)),
    Q("q_dedup_clusters", clusters, Some(clustersSql)),
    Q("q_dedup_keep_best", keepBest, Some(keepBestSql)),
    Q("q_dedup_spans", spans, Some(spansSql)),
    Q("q_dedup_novelty", novelty, Some(noveltySql)),
    Q("q_dedup_url", urlDedup, Some(urlDedupSql)))
}
