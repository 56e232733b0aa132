package graft.llm

import graft.Tables
import graft.queries.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import Portable._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  *   - brute-force cosine top-k: the exact baseline. Queries are a small
  *     set → **broadcast** against the vector corpus; scoring is a
  *     map-only codegen'd fold; per-query top-k is a windowed rank (at
  *     100 TB: per-partition heaps via TakeOrdered semantics, only k
  *     rows per query cross the network).
  *   - random-hyperplane LSH bucketing: the scale path. 16 deterministic
  *     hyperplanes → 16-bit bucket per vector; search only compares
  *     vectors sharing the query's bucket (or neighboring buckets) —
  *     candidates shrink ~2^16× while the bucket assignment itself is a
  *     map-only pass.
  *   - IVF (inverted-file) assignment: nearest-of-c centroids per
  *     vector, the k-means-style coarse quantizer — probe only the
  *     query's cell at search time.
  *
  * All scoring folds are bit-identical to the DuckDB oracle (see
  * [[Portable]]).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes: 16 planes × 64 dims via an
    * LCG — c(p,d) = ((1103515245·(64p+d) + 12345) mod 2001 − 1000)/1000.
    * Reproducible in plain SQL, so the oracle can re-derive them.
    */
  val NumPlanes = 16
  val Dim = 64
  def planeCoef(p: Int, d: Int): Double =
    (((1103515245L * (p * Dim + d) + 12345L) % 2001L) - 1000L) / 1000.0

  /** Q-SIM-1: brute-force cosine top-10 per query vector (every 50th
    * vector is a query; self excluded). Exact, deterministic tiebreak.
    */
  def topK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  val topKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, vec_id, ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM e JOIN q ON vec_id <> q_id)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin

  /** Q-SIM-16: max-inner-product search (MIPS) with the norm-
    * augmentation reduction gate. Recommendation/retrieval scoring
    * ranks by RAW inner product, which no metric index serves
    * directly; the standard reduction (Bachrach et al., RecSys'14)
    * augments each corpus vector to [x; √(M²−|x|²)] (M = max corpus
    * norm) and each query to [q; 0], making augmented COSINE rank
    * exactly like inner product — so every cosine index in this module
    * (LSH, IVF, PQ) serves MIPS unchanged. The augmented cosine is
    * ip/(M·|q|) (the query's extra coordinate is 0), a per-query
    * monotone transform; the in-row `agree` gate pins rank-by-ip ==
    * rank-by-augmented-cosine on every emitted row, which is the whole
    * correctness content of the reduction.
    *
    * Shape at 100 TB: M is a 1-row aggregate broadcast onto the scan;
    * queries broadcast; scoring is the same map-only vec_dot fold as
    * [[topK]]; per-query top-k ranks keyed windows. The scale path —
    * augmented vectors through LSH/IVF — reuses those serving plans.
    */
  def mips(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val m = e.agg(max(col("nrm")).as("m_nrm"))
    val q = e.filter(col("vec_id") % 53 === 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val wIp = Window.partitionBy("q_id").orderBy(col("ip").desc, col("vec_id"))
    val wAug = Window.partitionBy("q_id").orderBy(col("aug_cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .crossJoin(broadcast(m))
      .select(col("q_id"), col("vec_id"),
        dot(col("embedding"), col("q_emb")).as("ip"),
        (dot(col("embedding"), col("q_emb")) / (col("m_nrm") * col("q_nrm"))).as("aug_cos"))
      .withColumn("rank", row_number().over(wIp))
      .withColumn("rank_aug", row_number().over(wAug))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"), col("ip"), col("aug_cos"),
        col("rank"), (col("rank") === col("rank_aug")).as("agree"))
  }

  val mipsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm FROM embeddings),
       |m AS (SELECT max(nrm) AS m_nrm FROM e),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id % 53 = 2),
       |scored AS (
       |  SELECT q_id, e.vec_id, ${dotSql("e.embedding", "q_emb")} AS ip,
       |    ${dotSql("e.embedding", "q_emb")} / (m_nrm * q_nrm) AS aug_cos
       |  FROM e JOIN q ON e.vec_id <> q_id, m),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) AS rank,
       |    row_number() OVER (PARTITION BY q_id ORDER BY aug_cos DESC, vec_id) AS rank_aug
       |  FROM scored)
       |SELECT q_id, vec_id, ip, aug_cos, CAST(rank AS INT) AS rank,
       |  rank = rank_aug AS agree
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** The 16-bit hyperplane code of an embedding column — shared by the
    * bucket query and the blocked-cosine dedup path ([[Dedup]]).
    */
  def bucketCol(embedding: Column): Column =
    (0 until NumPlanes).map { p =>
      val plane = typedLit((0 until Dim).map(planeCoef(p, _)))
      when(dot(embedding, plane) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** DuckDB rendering of [[bucketCol]]. */
  def bucketSqlExpr(embedding: String): String = {
    def dotPlane(p: Int) =
      s"""list_reduce(list_transform(generate_series(0, ${Dim - 1}), d ->
         |  $embedding[d + 1]::DOUBLE * (((1103515245 * (${p * Dim} + d) + 12345) % 2001 - 1000) / 1000.0)),
         |  (x, y) -> x + y)""".stripMargin
    (0 until NumPlanes).map(p =>
      s"CASE WHEN (${dotPlane(p)}) > 0 THEN ${1L << p}::BIGINT ELSE 0::BIGINT END").mkString(" + ")
  }

  /** Q-SIM-2: random-hyperplane LSH bucket per vector (16-bit code).
    * Map-only; this is the blocking key for ANN at 100 TB.
    */
  def lshBuckets(s: SparkSession, d: String): DataFrame =
    Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), bucketCol(col("embedding")).as("bucket"))

  val lshBucketsSql: String =
    s"SELECT vec_id, label, (${bucketSqlExpr("embedding")}) AS bucket FROM embeddings"

  /** Nearest-centroid argmin against a broadcast centroid table,
    * WITHOUT a rank window. The window form shuffles every one of the
    * N·c scored rows (hash-partition by vec_id, then sort) just to keep
    * rank 1 per vector — with the corpus-scaled cell count that is
    * 156M rows at sf10 and N²/256 asymptotically, and it was the single
    * biggest superlinear term the sf10 probe surfaced. The argmin is a
    * plain aggregate: `min(struct(dist2, centroid_id))` is the
    * lexicographic (dist2 ASC, centroid_id ASC) minimum — exactly the
    * rank-1 row of the window it replaces, bit-identical — and Spark
    * reduces it map-side (partial min per vector inside each scan
    * task), so the exchange carries ONE 24-byte row per vector instead
    * of c. The scored frame stays narrow on purpose (id, centroid_id,
    * dist2): callers that need the vector itself rejoin on `id` — an
    * N-row equi-join is noise next to an N·c-row sort.
    *
    * `e` must carry (`id`, `vec`); `c` must carry (centroid_id, c_emb).
    * Output: (`id`, centroid_id, dist2). Oracle SQL is unchanged — the
    * rank-1 window there reads the same argmin off ~256-row cells.
    */
  private[llm] def nearestCentroid(e: DataFrame, c: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    e.crossJoin(broadcast(c))
      .select(col(id), col("centroid_id"),
        dist2(col(vec), col("c_emb")).as("dist2"))
      .groupBy(col(id))
      .agg(min(struct(col("dist2"), col("centroid_id"))).as("m"))
      .select(col(id), col("m.centroid_id").as("centroid_id"),
        col("m.dist2").as("dist2"))

  /** Q-SIM-3: IVF coarse quantizer — assign each vector to its nearest
    * seed centroid (L2²; seeds = the [[Portable.nCells]] lowest vec_ids
    * for determinism). The cell count is CORPUS-SCALED —
    * c = max(8, ceil(N/[[Portable.CellTarget]])) — so expected cell
    * population stays ≈256 at any N and every within-cell pair consumer
    * (SemDeDup, k-NN graph, hard negatives, range search) stays linear
    * in the corpus; see [[Portable.CellTarget]] for the full contract.
    * Centroids broadcast; assignment is map-only + a map-side argmin
    * ([[nearestCentroid]] — the N·c scored rows never cross a shuffle).
    */
  def ivfAssign(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding"))
    val c = e.filter(col("vec_id") < nCells(s, d))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    nearestCentroid(e, c)
  }

  val ivfAssignSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |scored AS (SELECT vec_id, centroid_id, $d2 AS dist2 FROM e, c)
       |SELECT vec_id, centroid_id, dist2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, centroid_id) AS rn
       |  FROM scored) WHERE rn = 1""".stripMargin
  }

  /** Q-SIM-4: IVF probe-side search — cosine top-5 per query restricted
    * to the query's own IVF cell (single-probe). The scale win: each
    * query scores |cell| ≈ N/c vectors instead of N; the trade is
    * recall at cell boundaries (raise nprobe for more). Exact and
    * oracle-checkable because the cell assignment is deterministic.
    */
  def ivfSearch(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssign(s, d).select(col("vec_id"), col("centroid_id"))
    // persisted: `e` feeds BOTH the query side and the corpus side of
    // the cell join, and its subtree contains the N·c assignment —
    // unpersisted it computed twice (the quantIvfSearch/lshSearch
    // convention, reclaimed by Tables.releaseCaches; r17)
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .join(assign, Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("centroid_id").as("q_cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    e.join(broadcast(q), col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val ivfSearchSql: String =
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT emb.vec_id, emb.embedding, ${l2normSql("emb.embedding")} AS nrm, a.centroid_id
       |  FROM embeddings emb JOIN assign a ON emb.vec_id = a.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS q_cell
       |      FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id, ${dotSql("e.embedding", "q_emb")} / (e.nrm * q_nrm) AS cosine
       |  FROM e JOIN q ON e.centroid_id = q_cell AND e.vec_id <> q_id)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Q-SIM-5: multi-probe LSH search — each query probes its own
    * bucket plus the 16 single-bit-flip neighbors (17 probes), then
    * scores candidates exactly and keeps top-5. Multi-probe is the
    * standard recall repair for single-table LSH (Lv et al., VLDB'07):
    * probing Δ-neighbor buckets recovers near-misses that land across
    * a hyperplane, for 17× candidate cost instead of 2^16× — still
    * ~N·17/2^16 work per query at 100 TB, shuffled as an equi-join on
    * the 16-bit probe key. A vector matches at most one probe (probe
    * codes are distinct), so no candidate dedup pass is needed.
    */
  def lshSearch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
        bucketCol(col("embedding")).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = array(col("bucket") +: (0 until NumPlanes)
      .map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), explode(probes).as("probe"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    e.join(broadcast(q), col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val lshSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm,
       |  (${bucketSqlExpr("embedding")}) AS bucket FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
       |    unnest(list_prepend(bucket,
       |      list_transform(generate_series(0, ${NumPlanes - 1}), i -> xor(bucket, 1::BIGINT << i)))) AS probe
       |  FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id, ${dotSql("e.embedding", "q_emb")} / (e.nrm * q_nrm) AS cosine
       |  FROM e JOIN q ON e.bucket = q.probe AND e.vec_id <> q_id)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Q-SIM-6: int8 symmetric quantization + integer dot scoring — the
    * memory-bandwidth scale play: 64 dims × 1 byte instead of 4, the
    * candidate scan reads 4× less and scores in exact integer
    * arithmetic (`q = round(x·127/absmax)`, score = Σ qa·qb, rescaled
    * by the two absmax factors). Rank by the rescaled approximate
    * cosine, top-5 per query — the standard quantize-then-rescore
    * pattern with the int dot deterministic on both engines (integer
    * sums; the rounding is pinned half-away-from-zero in both).
    * This unblocked form is the labeled exact baseline; the scale path
    * is [[quantIvfSearch]], which bounds candidates by IVF cell.
    */
  def quantSearch(s: SparkSession, d: String): DataFrame = {
    val absmax = aggregate(col("embedding"), lit(0.0),
      (a, x) => greatest(a, abs(x.cast(DoubleType))))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), absmax.as("mx"))
      .select(col("vec_id"), col("mx"),
        transform(col("embedding"), x =>
          round(x.cast(DoubleType) * 127.0 / col("mx")).cast("long")).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("mx").as("q_mx"))
    val idot = Portable.idot(col("qv"), col("q_qv"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), idot.as("int_dot"),
        (idot.cast(DoubleType) * col("mx") * col("q_mx") / (127.0 * 127.0)).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val quantSearchSql: String = {
    val absmax = "list_reduce(list_prepend(0.0, list_transform(embedding, x -> abs(x::DOUBLE))), (a, b) -> greatest(a, b))"
    val idot = "list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len(qv)), i -> qv[i] * q_qv[i])), (a, b) -> a + b)"
    s"""WITH e AS (
       |  SELECT vec_id, mx,
       |    list_transform(embedding, x -> round(x::DOUBLE * 127.0 / mx)::BIGINT) AS qv
       |  FROM (SELECT vec_id, embedding, $absmax AS mx FROM embeddings)),
       |q AS (SELECT vec_id AS q_id, qv AS q_qv, mx AS q_mx FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id, $idot AS int_dot,
       |    $idot::DOUBLE * e.mx * q_mx / (127.0 * 127.0) AS score
       |  FROM e, q WHERE e.vec_id <> q_id)
       |SELECT q_id, vec_id, int_dot, score, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-8: blocked quantized search — int8 scoring over IVF-cell
    * candidates. [[quantSearch]] demonstrates the 4× bandwidth win but
    * still scans all N per query; composing it with the IVF coarse
    * quantizer bounds candidates to the query's cell (≈ N/c), which is
    * how a quantized index actually runs at 100 TB: the blocking key
    * prunes, the int8 payload shrinks what the survivors read. The
    * join is an equi-join on the cell id — PlanSpec gates that no
    * all-pairs (nested-loop/cartesian) plan sneaks back in.
    */
  def quantIvfSearch(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssign(s, d).select(col("vec_id"), col("centroid_id"))
    val absmax = aggregate(col("embedding"), lit(0.0),
      (a, x) => greatest(a, abs(x.cast(DoubleType))))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), absmax.as("mx"))
      .select(col("vec_id"), col("mx"),
        transform(col("embedding"), x =>
          round(x.cast(DoubleType) * 127.0 / col("mx")).cast("long")).as("qv"))
      .join(assign, Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("mx").as("q_mx"), col("centroid_id").as("q_cell"))
    val idot = Portable.idot(col("qv"), col("q_qv"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(q), col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), idot.as("int_dot"),
        (idot.cast(DoubleType) * col("mx") * col("q_mx") / (127.0 * 127.0)).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val quantIvfSearchSql: String = {
    val absmax = "list_reduce(list_prepend(0.0, list_transform(embedding, x -> abs(x::DOUBLE))), (a, b) -> greatest(a, b))"
    val idot = "list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, len(qv)), i -> qv[i] * q_qv[i])), (a, b) -> a + b)"
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT b.vec_id, b.mx, b.qv, a.centroid_id
       |  FROM (SELECT vec_id, mx,
       |          list_transform(embedding, x -> round(x::DOUBLE * 127.0 / mx)::BIGINT) AS qv
       |        FROM (SELECT vec_id, embedding, $absmax AS mx FROM embeddings)) b
       |  JOIN assign a ON b.vec_id = a.vec_id),
       |q AS (SELECT vec_id AS q_id, qv AS q_qv, mx AS q_mx, centroid_id AS q_cell
       |      FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id, $idot AS int_dot,
       |    $idot::DOUBLE * e.mx * q_mx / (127.0 * 127.0) AS score
       |  FROM e JOIN q ON e.centroid_id = q_cell AND e.vec_id <> q_id)
       |SELECT q_id, vec_id, int_dot, score, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-7: multi-probe IVF search (nprobe=2) — each query scans its
    * TWO nearest cells instead of one, recovering the cell-boundary
    * recall loss for 2× candidate cost (per-query work ≈ 2N/c). The
    * vector corpus side stays single-assigned; only the probe side
    * fans out — the standard IVF recall/latency dial.
    *
    * Shape: corpus assignment is the shared map-side argmin
    * ([[nearestCentroid]]); the nprobe=2 ranking only ever exists for
    * the QUERY side, which is filtered to N/50 vectors BEFORE scoring —
    * the previous form ranked all N vectors' distance lists through two
    * full N·c windows behind a persisted (N·c)-row cache, which is what
    * the sf10 probe measured at 395 s. The remaining window sorts
    * (N/50)·c narrow rows — 3.1M at sf10.
    */
  def ivfMultiprobe(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding"))
    val c = e.filter(col("vec_id") < nCells(s, d))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val assign = nearestCentroid(e, c).select(col("vec_id"), col("centroid_id"))
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        l2norm(col("embedding")).as("nrm"))
    val qe = e.filter(col("vec_id") % 50 === 0)
    val wAssign = Window.partitionBy("vec_id").orderBy(col("dist2"), col("centroid_id"))
    val probes = qe.crossJoin(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        dist2(col("embedding"), col("c_emb")).as("dist2"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        l2norm(col("embedding")).as("q_nrm"), col("centroid_id").as("probe"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    assign.join(broadcast(probes),
        col("centroid_id") === col("probe") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val ivfMultiprobeSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |dists AS (
       |  SELECT vec_id, embedding, centroid_id, $d2 AS dist2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY $d2, centroid_id) AS rn
       |  FROM e, c),
       |assign AS (SELECT vec_id, embedding, centroid_id, ${l2normSql("embedding")} AS nrm
       |           FROM dists WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, embedding AS q_emb, ${l2normSql("embedding")} AS q_nrm,
       |             centroid_id AS probe
       |           FROM dists WHERE rn <= 2 AND vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, a.vec_id, ${dotSql("a.embedding", "q_emb")} / (a.nrm * q_nrm) AS cosine
       |  FROM assign a JOIN probes p ON a.centroid_id = p.probe AND a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-10: binary-sketch (sign) Hamming search — the extreme
    * bandwidth end of the quantization ladder (float32 → int8 →
    * 1 bit/dim): each vector compresses to its 64-bit sign mask
    * (split into two int32 words so neither engine touches the int64
    * sign bit), and candidate ranking is XOR + popcount — 8 bytes
    * read per vector vs 256 for the raw floats, 32× less than the
    * int8 path. Top-5 per query by (hamming asc, vec_id): the
    * standard sketch-then-rescore first stage; composes with IVF/LSH
    * blocking exactly like `q_sim_quant_ivf` when N is too large for
    * even the 8-byte scan.
    */
  /** DuckDB twin of one 32-bit sign word of [[binarySketch]] —
    * shared by both binary-search oracles so the sketch rule is
    * defined once per engine.
    */
  private def wordSql(col: String, lo: Int): String =
    (0 until 32).map(b => s"(CASE WHEN $col[${lo + b + 1}] > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("(", " + ", ")")

  def binarySketch(embedding: Column): (Column, Column) = {
    // two 32-bit words cover exactly 64 dims; a silent Dim change would
    // otherwise truncate the sketch (out-of-range element_at → null →
    // the `when` maps it to 0) in BOTH engines — fail loudly instead
    require(Dim == 64,
      s"binarySketch packs exactly 2×32 sign bits; Dim=$Dim needs ceil(Dim/32) words")
    def word(lo: Int): Column =
      (0 until 32).map { b =>
        when(element_at(embedding, lo + b + 1) > 0f, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
    (word(0), word(32))
  }

  def binarySearch(s: SparkSession, d: String): DataFrame = {
    val (lo, hi) = binarySketch(col("embedding"))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), lo.as("lo"), hi.as("hi"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    val w = Window.partitionBy("q_id").orderBy(col("hamming"), col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  val binarySearchSql: String = {
    s"""WITH e AS (
       |  SELECT vec_id, ${wordSql("embedding", 0)}::BIGINT AS lo,
       |         ${wordSql("embedding", 32)}::BIGINT AS hi
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    (bit_count(xor(lo, q_lo)) + bit_count(xor(hi, q_hi)))::BIGINT AS hamming
       |  FROM e JOIN q ON vec_id <> q_id)
       |SELECT q_id, vec_id, hamming, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id)::BIGINT AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-11: IVF-blocked binary search — [[binarySearch]] with
    * candidates restricted to the query's IVF cell (same coarse
    * quantizer as every `*_ivf` query): each query XORs |cell| ≈ N/c
    * sketches instead of N. The full serving shape for the 1-bit
    * path: 8 bytes/vector × cell-bounded candidates.
    */
  def binaryIvfSearch(s: SparkSession, d: String): DataFrame = {
    val (lo, hi) = binarySketch(col("embedding"))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), lo.as("lo"), hi.as("hi"))
      .join(ivfAssign(s, d).select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"),
        col("hi").as("q_hi"), col("centroid_id").as("q_cell"))
    val w = Window.partitionBy("q_id").orderBy(col("hamming"), col("vec_id"))
    e.join(broadcast(q), col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  val binaryIvfSearchSql: String = {
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT em.vec_id, ${wordSql("embedding", 0)}::BIGINT AS lo,
       |         ${wordSql("embedding", 32)}::BIGINT AS hi, a.centroid_id
       |  FROM embeddings em JOIN assign a ON em.vec_id = a.vec_id),
       |q AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi, centroid_id AS q_cell
       |      FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id,
       |    (bit_count(xor(e.lo, q_lo)) + bit_count(xor(e.hi, q_hi)))::BIGINT AS hamming
       |  FROM e JOIN q ON e.centroid_id = q_cell AND e.vec_id <> q_id)
       |SELECT q_id, vec_id, hamming, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id)::BIGINT AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-9: deterministic random projection (Achlioptas 2001 /
    * Johnson–Lindenstrauss): project the 64-dim embeddings onto
    * [[ProjK]] ±1 directions, scaled by 1/√k — the standard
    * dimensionality-reduction step in front of brute-force or LSH
    * search when the raw dimension (not N) is the bandwidth cost.
    *
    * The sign matrix is derived from md5 parity of the (row, col)
    * coordinates, so BOTH engines re-derive it independently — the
    * Spark side folds the signs to plan-time literals (computed with
    * the same md5-parity rule in Scala), the oracle recomputes them
    * with SQL `md5` and DuckDB's constant folding. The projection
    * itself is a fixed-coefficient multiply–add chain in declared
    * index order (left-associated in both engines ⇒ bit-identical
    * doubles), fully inside whole-stage codegen.
    *
    * At 100 TB: a map-only scan — no shuffle, no UDF, no runtime
    * hashing; coefficients live in the plan. Downstream exact cosine
    * in 8 dims reads 8× less than in 64.
    */
  val ProjK = 8

  /** Parity of the first 60 bits of md5("p<i>_<j>") — the Scala twin
    * of `('0x' || substr(md5('p<i>_<j>'), 1, 15))::BIGINT % 2`.
    */
  private[graft] def projSign(i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"p${i}_$j".getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /** The p0..p(k-1) projection columns — THE single Scala definition
    * of the JL sign matrix, shared by [[project]] and [[projectSearch]]
    * (the SQL side reuses `projectSql` as a CTE for the same reason).
    */
  private def projCols: Seq[Column] =
    (0 until ProjK).map { j =>
      (1 to Dim).map { i =>
        element_at(col("embedding"), i).cast(DoubleType) * lit(projSign(i, j).toDouble)
      }.reduceLeft(_ + _)./(sqrt(lit(ProjK.toDouble))).as(s"p$j")
    }

  def project(s: SparkSession, d: String): DataFrame = {
    val dims = projCols
    Tables.embeddings(s, d).select(col("vec_id") +: dims: _*)
  }

  val projectSql: String = {
    def signSql(i: Int, j: Int) =
      s"(CASE WHEN ('0x' || substr(md5('p${i}_$j'), 1, 15))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END)"
    val dims = (0 until ProjK).map { j =>
      (1 to Dim).map(i => s"embedding[$i]::DOUBLE * ${signSql(i, j)}")
        .mkString("(", " + ", s") / sqrt(${ProjK}.0) AS p$j")
    }
    s"SELECT vec_id, ${dims.mkString(", ")} FROM embeddings"
  }

  /** Q-SIM-12: projected-space search — the JL projection
    * ([[project]]) used as a search stage: shortlist top-[[ProjShortlist]]
    * per query by cosine in the 8-dim projected space (8× less data
    * scanned per candidate), then exact 64-dim rescore of the
    * shortlist only. The classic coarse-then-exact two-stage retrieval
    * with a dimensionality-reduction (not partition-blocking) first
    * stage — complements the IVF/LSH/1-bit families.
    */
  val ProjShortlist = 20

  def projectSearch(s: SparkSession, d: String): DataFrame = {
    val dims = projCols
    val pnrm = sqrt((0 until ProjK).map(j => col(s"p$j") * col(s"p$j")).reduceLeft(_ + _))
    val e = Tables.par(Tables.embeddings(s, d))
      .select(Seq(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm")) ++ dims: _*)
      .withColumn("pnrm", pnrm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0).select(
      Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("pnrm").as("q_pnrm")) ++
        (0 until ProjK).map(j => col(s"p$j").as(s"qp$j")): _*)
    val pdot = (0 until ProjK).map(j => col(s"p$j") * col(s"qp$j")).reduceLeft(_ + _)
    // COARSE SHORTLIST as a bounded per-query top-k aggregate
    // ([[graft.functions.TopKAggregator]], the domainTopK shape)
    // instead of a rank window: the coarse pass scores ALL N candidates
    // per query BY DESIGN (JL cuts per-pair cost, not candidate count),
    // so the window form shuffled and sorted N·|queries| rows — 800M at
    // sf10, where one 32-partition sort exhausted execution memory
    // (SparkOutOfMemoryError, r17 sf10 probe). The aggregate keeps at
    // most [[ProjShortlist]] rows per (input partition, query) map-side
    // and O(k) state per query on the reduce side; only vec_ids ride —
    // no embedding payloads in the coarse pass at all. Order is
    // bit-identical to the window's (pcos DESC, vec_id ASC): the key is
    // −pcos under TotalOrdering (−0.0/0.0 preserved; NaN — reachable
    // only from a zero projection norm, which poisons the exact cosine
    // identically — maps to −∞ = the window's NaN-first DESC position).
    // The NaN→−∞ mapping WOULD collide with a genuine pcos = +∞
    // candidate (both key −∞, tie-broken by vec_id, whereas the window
    // ordered NaN strictly before +∞) — unreachable here because pcos
    // is finite-or-NaN by construction: every term is a finite-vector
    // dot over finite inputs divided by a finite norm product, which
    // can overflow only to NaN via 0/0, never to ±∞ at 64 dims of
    // unit-scale doubles. Documented per ADVICE r17 rather than
    // "fixed": a sub-−∞ sentinel does not exist in doubles.
    val topk = udaf(
      new graft.functions.TopKAggregator(ProjShortlist, Ordering.Double.TotalOrdering))
    val qNarrow = q.select(
      Seq(col("q_id"), col("q_pnrm")) ++ (0 until ProjK).map(j => col(s"qp$j")): _*)
    val pcos = pdot / (col("pnrm") * col("q_pnrm"))
    val key = when(isnan(pcos), lit(Double.NegativeInfinity)).otherwise(-pcos)
    val short = e
      .select(Seq(col("vec_id"), col("pnrm")) ++ (0 until ProjK).map(j => col(s"p$j")): _*)
      .join(broadcast(qNarrow), col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(topk(key, col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c").getField("_2").as("vec_id"))
    val wExact = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    short
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("q_emb"), col("q_nrm"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= 5)
  }

  val projectSearchSql: String = {
    val pdot = (0 until ProjK).map(j => s"e.p$j * q.p$j").mkString(" + ")
    val pnrm = (0 until ProjK).map(j => s"p$j * p$j").mkString(" + ")
    s"""WITH proj AS ($projectSql),
       |e AS (
       |  SELECT em.vec_id, em.embedding, ${l2normSql("em.embedding")} AS nrm,
       |         sqrt($pnrm) AS pnrm, ${(0 until ProjK).map(j => s"p$j").mkString(", ")}
       |  FROM embeddings em JOIN proj USING (vec_id)),
       |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
       |coarse AS (
       |  SELECT q.vec_id AS q_id, e.vec_id, e.embedding, e.nrm,
       |    q.embedding AS q_emb, q.nrm AS q_nrm,
       |    ($pdot) / (e.pnrm * q.pnrm) AS pcos
       |  FROM e JOIN q ON e.vec_id <> q.vec_id),
       |short AS (
       |  SELECT q_id, vec_id, embedding, nrm, q_emb, q_nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS crank
       |    FROM coarse) WHERE crank <= $ProjShortlist),
       |exact AS (
       |  SELECT q_id, vec_id, ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM short)
       |SELECT q_id, vec_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)::BIGINT AS rank
       |  FROM exact) WHERE rank <= 5""".stripMargin
  }

  /** Q-SIM-13, recall MATRIX — the evaluation harness as an operator:
    * per (method, query) recall@5 vs the exact brute-force top-5 for
    * every blocked search family sharing the exact query set. This is
    * the tuning dashboard an index owner reads when trading nprobe /
    * bands / projection dims against recall at scale — at 100 TB you
    * can't eyeball results; you sample queries, run every path, and
    * track exactly this join. Each method's predictions are the
    * REGISTERED query's own plan (not a re-implementation), so the
    * matrix can never drift from what the engine actually serves; the
    * exact side is computed once and reused across methods, and hit
    * counting is an inner join + count on compact (q_id, vec_id)
    * pairs — payloads never move. (The single-path `q_sim_recall` of
    * rounds 6–7 was exactly this matrix's `method = 'ivf'` slice and
    * is retired in its favor.)
    */
  def recallMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Register the shared N·c coarse assignment as a cache BEFORE the
    // method builders run: ivfSearch's cached corpus frame and
    // ivfMultiprobe's corpus side each contain this exact logical
    // subtree, so the CacheManager substitutes both at plan time and
    // the assignment (the family's dominant compute — ~156M vec_dist2
    // calls per evaluation at sf10 geometry) materializes ONCE inside
    // the matrix instead of twice. The registered q_sim_ivf_search /
    // q_sim_ivf_multiprobe plans are untouched — this cache exists only
    // for the matrix's composition and is released by
    // Tables.releaseCaches like every other per-query persist (§5).
    val sharedAssign = ivfAssign(s, d)
      .select(col("vec_id"), col("centroid_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = topK(s, d).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val methods = Seq(
      "ivf" -> ivfSearch(s, d),
      "ivf_multiprobe" -> ivfMultiprobe(s, d),
      "lsh" -> lshSearch(s, d),
      "jl_project" -> projectSearch(s, d))
    val preds = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("q_id"), col("vec_id"))
    }.reduce(_ union _)
    // per-method top-k rows are unique on (q_id, vec_id): the inner
    // join yields exactly one row per true hit
    val hits = preds.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("method"), col("q_id")).agg(count(lit(1)).as("n_hit"))
    val tot = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    tot.crossJoin(methods.map(_._1).toDF("method"))
      .join(hits, Seq("method", "q_id"), "left")
      .select(col("method"), col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("n_exact"))
          .as("recall_at_5"))
  }

  val recallMatrixSql: String =
    s"""WITH exact AS (
       |  SELECT q_id, vec_id FROM ($topKSql) WHERE rank <= 5),
       |tot AS (SELECT q_id, count(*)::BIGINT AS n_exact FROM exact GROUP BY q_id),
       |preds AS (
       |  SELECT 'ivf' AS method, q_id, vec_id FROM ($ivfSearchSql)
       |  UNION ALL SELECT 'ivf_multiprobe', q_id, vec_id FROM ($ivfMultiprobeSql)
       |  UNION ALL SELECT 'lsh', q_id, vec_id FROM ($lshSearchSql)
       |  UNION ALL SELECT 'jl_project', q_id, vec_id FROM ($projectSearchSql)),
       |hits AS (
       |  SELECT p.method, e.q_id, count(*)::BIGINT AS n_hit
       |  FROM exact e JOIN preds p ON p.q_id = e.q_id AND p.vec_id = e.vec_id
       |  GROUP BY p.method, e.q_id),
       |m AS (SELECT unnest(['ivf', 'ivf_multiprobe', 'lsh', 'jl_project']) AS method)
       |SELECT m.method, t.q_id, t.n_exact,
       |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |  coalesce(h.n_hit, 0)::DOUBLE / t.n_exact AS recall_at_5
       |FROM m CROSS JOIN tot t
       |LEFT JOIN hits h ON h.method = m.method AND h.q_id = t.q_id""".stripMargin

  val ProtoM = 5

  /** Q-SIM-14: cluster-balanced prototype (coreset) selection — per IVF
    * cell, keep the [[ProtoM]] members CLOSEST to the centroid plus the
    * cell's population and kept-set radius. This is the
    * prototypes/herding-style data-pruning recipe (and SemDeDup's
    * "keep the most typical" dual): a balanced coreset that covers
    * every region of embedding space instead of oversampling the dense
    * head, sized |cells|·m regardless of corpus size.
    *
    * `keep_frac` (m/|cell| capped at 1) is the per-cell sampling rate a
    * downstream weighted loss would reweight by. All ranks are over the
    * bit-deterministic (dist2, vec_id) order (dist2 via the native
    * [[graft.functions.VecDist2]] codegen kernel = the oracle's ordered
    * double fold), so the kept set is engine- and partitioning-exact.
    *
    * Shape at 100 TB: assignment is map-only against K broadcast
    * centroids; the per-cell top-m is a cell-keyed window (sort-based,
    * streams through the sorter — or the bounded
    * [[graft.functions.TopKAggregator]] when cells are huge and only
    * the kept rows matter); output is |cells|·m rows — driver-trivial
    * however large the corpus.
    */
  def prototypes(s: SparkSession, d: String): DataFrame = {
    // persisted intermediate consumed by the RETURNED lazy plan (the
    // shared convention — harness releases via Tables.releaseCaches):
    // both the kept set and the cell sizes branch from the assignment,
    // which is THE corpus pass and must not run twice
    val assign = ivfAssign(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = assign.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_cell"))
    val w = Window.partitionBy(col("centroid_id")).orderBy(col("dist2"), col("vec_id"))
    val kept = assign
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ProtoM)
    val wCell = Window.partitionBy(col("centroid_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    kept
      .withColumn("radius", max(col("dist2")).over(wCell))
      .join(broadcast(sizes), Seq("centroid_id"))
      .select(col("centroid_id"), col("rk"), col("vec_id"), col("dist2"),
        col("n_cell"), col("radius"),
        least(lit(ProtoM).cast(DoubleType) / col("n_cell").cast(DoubleType), lit(1.0))
          .as("keep_frac"))
  }

  val prototypesSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |assign AS (
       |  SELECT vec_id, centroid_id, dist2 FROM (
       |    SELECT vec_id, centroid_id, $d2 AS dist2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY $d2, centroid_id) AS rn
       |    FROM e, c) WHERE rn = 1),
       |sz AS (SELECT centroid_id, count(*)::BIGINT AS n_cell FROM assign GROUP BY centroid_id),
       |kept AS (
       |  SELECT centroid_id, vec_id, dist2,
       |    row_number() OVER (PARTITION BY centroid_id ORDER BY dist2, vec_id)::BIGINT AS rk
       |  FROM assign QUALIFY rk <= $ProtoM)
       |SELECT centroid_id, rk, vec_id, dist2, n_cell,
       |  max(dist2) OVER (PARTITION BY centroid_id) AS radius,
       |  least($ProtoM::DOUBLE / n_cell::DOUBLE, 1.0::DOUBLE) AS keep_frac
       |FROM kept JOIN sz USING (centroid_id)""".stripMargin
  }

  /** Q-SIM-15: IVF index health audit — the report an index build job
    * publishes before the index serves traffic: per cell, population,
    * its share of the corpus, and mean quantization error (mean L2² to
    * the centroid), plus the global cell count and the balance factor
    * `max|cell| · K / N` (1 = perfectly balanced; recall and tail
    * latency degrade as it grows — the signal to retrain or split
    * cells).
    *
    * Float discipline: populations are exact int64; `mean_qerr` sums
    * dist2 through decimal(27,12) (order-independent, partition-count
    * independent) and divides once; the share/balance divisions are
    * single correctly-rounded double ops.
    *
    * Shape at 100 TB: map-only assignment against K broadcast
    * centroids, one K-row aggregate, a K-row window — the audit costs
    * one corpus pass regardless of K.
    */
  def indexStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val assign = ivfAssign(s, d)
    val per = assign.groupBy(col("centroid_id")).agg(
      count(lit(1)).as("n_cell"),
      sum(col("dist2").cast(DecimalType(27, 12))).as("qsum"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("n_total", sum(col("n_cell")).over(wAll))
      .withColumn("n_cells", count(lit(1)).over(wAll))
      .withColumn("n_max", max(col("n_cell")).over(wAll))
      .select(col("centroid_id"), col("n_cell"), col("n_cells"),
        (col("n_cell").cast(DoubleType) / col("n_total").cast(DoubleType)).as("share"),
        // round(…, 9): the sf1 probe caught a 1-ulp divergence here —
        // one row's dist2 can quantize differently at the 12th decimal
        // between the engines' double→decimal casts, shifting qsum by
        // 1e-12 and the mean by ~1 ulp at 2400-row cells. round() on
        // near-identical doubles is pinned half-away-from-zero in both
        // engines (the q_sim_quant discipline); 9 decimals keeps every
        // meaningful digit of a ~1.6 qerr.
        round(col("qsum").cast(DoubleType) / col("n_cell").cast(DoubleType), 9)
          .as("mean_qerr"),
        ((col("n_max") * col("n_cells")).cast(DoubleType) /
          col("n_total").cast(DoubleType)).as("balance"))
  }

  val indexStatsSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |assign AS (
       |  SELECT vec_id, centroid_id, dist2 FROM (
       |    SELECT vec_id, centroid_id, $d2 AS dist2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY $d2, centroid_id) AS rn
       |    FROM e, c) WHERE rn = 1),
       |per AS (
       |  SELECT centroid_id, count(*)::BIGINT AS n_cell,
       |    sum(dist2::DECIMAL(27,12)) AS qsum
       |  FROM assign GROUP BY centroid_id),
       |g AS (
       |  SELECT *, sum(n_cell) OVER ()::BIGINT AS n_total,
       |    count(*) OVER ()::BIGINT AS n_cells,
       |    max(n_cell) OVER ()::BIGINT AS n_max
       |  FROM per)
       |SELECT centroid_id, n_cell, n_cells,
       |  n_cell::DOUBLE / n_total::DOUBLE AS share,
       |  round(qsum::DOUBLE / n_cell::DOUBLE, 9) AS mean_qerr,
       |  (n_max * n_cells)::DOUBLE / n_total::DOUBLE AS balance
       |FROM g""".stripMargin
  }

  /** Q-SIM-25: hard-negative mining — the contrastive-training data op:
    * for each anchor, the top-3 most-similar vectors carrying a
    * DIFFERENT label (the "looks like X, isn't X" pairs a retrieval /
    * embedding trainer mines between epochs; in-batch negatives are too
    * easy, brute all-pairs too expensive). Candidates are restricted to
    * the anchor's IVF cell under the shared corpus-scaled quantizer
    * ([[ivfAssign]]) — the same single-probe blocking as [[ivfSearch]],
    * so each anchor scores ≈[[Portable.CellTarget]] vectors at any
    * corpus size, and the label filter rides the join.
    *
    * Shape at 100 TB: cell assignment is the broadcast-K map pass;
    * anchors broadcast onto the cell-partitioned index side; ranks are
    * anchor-keyed windows — nothing global.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val assign = ivfAssign(s, d).select(col("vec_id"), col("centroid_id"))
    // persisted: anchor side + index side both read `e`, whose subtree
    // contains the N·c assignment — unpersisted it computed twice (r17)
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
      .join(assign, Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 53 === 7)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        col("centroid_id").as("q_cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    e.join(broadcast(q),
        col("centroid_id") === col("q_cell") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  val hardNegativesSql: String =
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT emb.vec_id, emb.label, emb.embedding,
       |    ${l2normSql("emb.embedding")} AS nrm, a.centroid_id
       |  FROM embeddings emb JOIN assign a ON emb.vec_id = a.vec_id),
       |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb,
       |        nrm AS q_nrm, centroid_id AS q_cell
       |      FROM e WHERE vec_id % 53 = 7),
       |scored AS (
       |  SELECT q_id, q_label, e.vec_id, e.label,
       |    ${dotSql("e.embedding", "q_emb")} / (e.nrm * q_nrm) AS cosine
       |  FROM e JOIN q ON e.centroid_id = q_cell AND e.label <> q_label)
       |SELECT q_id, q_label, vec_id, label, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin

  /** Q-SIM-24: incremental IVF maintenance — the index-UPDATE half of
    * the ANN story: a serving index is trained once and then ingests
    * arrival deltas, so the operational questions are (a) where do the
    * new vectors land against the FROZEN quantizer, and (b) has the
    * data drifted past what the index was built for. Vectors with
    * `vec_id % 10 == 9` play the arrival delta; the rest are the
    * indexed base. Per cell: base/new populations, the new-arrival
    * share, and the drift signal — arrivals landing BEYOND the base
    * cell's max radius (dist2 > the stored per-cell max), i.e. points
    * the trained cell never covered. A rising `n_beyond` is the
    * retrain trigger.
    *
    * Shape at 100 TB: the delta pass touches ONLY the arrival
    * partition (map-only against the broadcast seed table + one K-row
    * aggregate); the base per-cell stats (population, max radius) are
    * the index's stored metadata — recomputed here only because the
    * oracle must derive them from the same parquet.
    */
  def ivfIncremental(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding"))
    val c = e.filter(col("vec_id") < nCells(s, d))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    def assignTo(part: DataFrame): DataFrame = nearestCentroid(part, c)
    val base = assignTo(e.filter(col("vec_id") % 10 =!= 9))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_base"), max(col("dist2")).as("max_d2_base"))
    val delta = assignTo(e.filter(col("vec_id") % 10 === 9))
    base.join(delta, Seq("centroid_id"), "left")
      .groupBy(col("centroid_id"))
      .agg(first(col("n_base")).as("n_base"),
        first(col("max_d2_base")).as("max_d2_base"),
        count(col("vec_id")).as("n_new"),
        count(when(col("dist2") > col("max_d2_base"), 1)).as("n_beyond"))
      .select(col("centroid_id"), col("n_base"), col("n_new"), col("n_beyond"),
        (col("n_new").cast(DoubleType) / col("n_base").cast(DoubleType))
          .as("new_share"),
        col("max_d2_base"))
  }

  val ivfIncrementalSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |assign AS (
       |  SELECT vec_id, centroid_id, dist2 FROM (
       |    SELECT e.vec_id, centroid_id, $d2 AS dist2,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $d2, centroid_id) AS rn
       |    FROM e, c) WHERE rn = 1),
       |base AS (
       |  SELECT centroid_id, count(*)::BIGINT AS n_base, max(dist2) AS max_d2_base
       |  FROM assign WHERE vec_id % 10 <> 9 GROUP BY centroid_id),
       |delta AS (SELECT * FROM assign WHERE vec_id % 10 = 9)
       |SELECT b.centroid_id, b.n_base,
       |  count(d.vec_id)::BIGINT AS n_new,
       |  count(CASE WHEN d.dist2 > b.max_d2_base THEN 1 END)::BIGINT AS n_beyond,
       |  count(d.vec_id)::DOUBLE / b.n_base::DOUBLE AS new_share,
       |  b.max_d2_base
       |FROM base b LEFT JOIN delta d USING (centroid_id)
       |GROUP BY b.centroid_id, b.n_base, b.max_d2_base""".stripMargin
  }

  /** Q-SIM-22: matryoshka (MRL-style) two-stage retrieval — coarse
    * ranking on the FIRST [[MrlPrefix]] dimensions (matryoshka
    * representation learning trains nested prefixes to be usable
    * embeddings on their own; Kusupati et al., NeurIPS'22), then exact
    * full-dimension rerank of the per-query top-[[MrlCand]] survivors,
    * with an in-row audit flag marking whether each served row is in
    * the TRUE full-dim top-10 (the brute baseline joined on the side).
    *
    * Shape at 100 TB: stage 1 reads PrefixDim/Dim of the vector bytes
    * (with a column layout that stores the prefix separately it is a
    * narrower scan, the whole point of MRL serving) and is the same
    * broadcast-queries map-only fold as [[topK]]; stage 2 touches only
    * C·|Q| candidate rows — window ranks are q_id-keyed, nothing is
    * globally sorted. The audit brute side is the labeled exact
    * baseline (1-pass bench tier), not the serving path.
    */
  val MrlPrefix = 16
  val MrlCand = 50

  def matryoshka(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("nrm"),
        l2norm(slice(col("embedding"), 1, MrlPrefix)).as("pnrm"))
    val q = e.filter(col("vec_id") % 47 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("pnrm").as("q_pnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"), col("q_emb"),
        col("nrm"), col("q_nrm"),
        (dot(slice(col("embedding"), 1, MrlPrefix), slice(col("q_emb"), 1, MrlPrefix)) /
          (col("pnrm") * col("q_pnrm"))).as("pcos"))
    val wc = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= MrlCand)
    val wr = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    val rer = cand
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wr)).filter(col("rank") <= 10)
    val wb = Window.partitionBy("q_id").orderBy(col("bcos").desc, col("vec_id"))
    val brute = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("bcos"))
      .withColumn("brank", row_number().over(wb)).filter(col("brank") <= 10)
      .select(col("q_id"), col("vec_id"), lit(true).as("in_brute10"))
    rer.join(brute, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rank"),
        coalesce(col("in_brute10"), lit(false)).as("in_brute10"))
  }

  val matryoshkaSql: String = {
    def pdot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, $MrlPrefix), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE), (x, y) -> x + y)"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${l2normSql("embedding")} AS nrm,
       |    sqrt(${pdot("embedding", "embedding")}) AS pnrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, pnrm AS q_pnrm
       |      FROM e WHERE vec_id % 47 = 3),
       |coarse AS (
       |  SELECT q_id, vec_id, e.embedding, q_emb, nrm, q_nrm,
       |    ${pdot("e.embedding", "q_emb")} / (pnrm * q_pnrm) AS pcos
       |  FROM e JOIN q ON vec_id <> q_id),
       |cand AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS crank
       |    FROM coarse) WHERE crank <= $MrlCand),
       |rer AS (SELECT * FROM (
       |    SELECT q_id, vec_id,
       |      ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) AS cosine,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) DESC, vec_id) AS rank
       |    FROM cand) WHERE rank <= 10),
       |brute AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY ${dotSql("e.embedding", "q_emb")} / (nrm * q_nrm) DESC, vec_id) AS brank
       |    FROM e JOIN q ON vec_id <> q_id) WHERE brank <= 10)
       |SELECT r.q_id, r.vec_id, r.cosine, CAST(r.rank AS INT) AS rank,
       |  b.vec_id IS NOT NULL AS in_brute10
       |FROM rer r LEFT JOIN brute b ON r.q_id = b.q_id AND r.vec_id = b.vec_id""".stripMargin
  }

  /** Q-SIM-23: embedding OUTLIER / OOD detection — the curation gate
    * that drops mis-embedded or off-distribution vectors before they
    * poison retrieval or training mixes: each vector's squared
    * distance to its NEAREST IVF centroid (the quantization residual),
    * flagged when the residual ranks in the top 5% corpus-wide. The
    * threshold is an EXACT order statistic (rank > ceil(0.95·n)), not
    * an approximate quantile — computed via the shared
    * [[graft.plans.BucketedOrder]] range-bucketed decomposition, so no
    * partition-less window ever plans.
    *
    * Shape at 100 TB: centroids broadcast (k-bounded), the residual is
    * a map-only codegen'd fold + the map-side argmin
    * ([[nearestCentroid]]), and the global rank is two bucketed
    * passes — every stage hash-partitioned. The count rides the same
    * bucket table (no second scan of the corpus for `n`).
    */
  def outliers(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d)).select(col("vec_id"), col("embedding"))
    val c = e.filter(col("vec_id") < nCells(s, d))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    // persisted: the N·c assignment feeds BucketedOrder (which reads its
    // input three times) AND the `n` count — unpersisted it computed 4×
    // (r17; BucketedOrder also persists internally, which dedupes to
    // this same cache entry)
    val assigned = nearestCentroid(e, c)
      .select(col("vec_id"), col("centroid_id").as("cell"), col("dist2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = graft.plans.BucketedOrder.withOrderStats(
      assigned, rangeKey = col("dist2"),
      order = Seq(col("dist2").asc, col("vec_id").asc), rankCol = "rk")
    val n = assigned.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(col("vec_id"), col("cell"), col("dist2"),
        col("rk").cast("int").as("residual_rank"),
        (col("rk") > ceil(col("__n") * 0.95)).as("is_outlier"))
  }

  val outliersSql: String = {
    val d2 =
      """list_reduce(list_transform(generate_series(1, len(embedding)), i ->
        |  (embedding[i]::DOUBLE - c_emb[i]::DOUBLE) * (embedding[i]::DOUBLE - c_emb[i]::DOUBLE)),
        |  (x, y) -> x + y)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM e WHERE vec_id < ${cellCountSql()}),
       |assigned AS (SELECT vec_id, centroid_id AS cell, dist2 FROM (
       |  SELECT vec_id, centroid_id, $d2 AS dist2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY $d2, centroid_id) AS rn
       |  FROM e, c) WHERE rn = 1),
       |n AS (SELECT count(*) AS nn FROM assigned)
       |SELECT vec_id, cell, dist2,
       |  CAST(row_number() OVER (ORDER BY dist2, vec_id) AS INT) AS residual_rank,
       |  row_number() OVER (ORDER BY dist2, vec_id) > ceil(nn * 0.95) AS is_outlier
       |FROM assigned, n""".stripMargin
  }

  /** Q-SIM-24: embedding DISTRIBUTION DRIFT monitor — the production
    * guard for encoder-version skew / arrival drift: split the corpus
    * into two slices (here vec_id parity — the stand-in for "last
    * index build" vs "new arrivals"; at 100 TB the slice key is the
    * ingestion epoch partition column) and compare per-dimension
    * means. A drifted encoder shifts dimensions systematically, which
    * invalidates a frozen IVF/PQ quantizer long before recall decays
    * visibly — this audit is the retrain trigger
    * `q_sim_ivf_incremental`'s beyond-radius signal can't see (a
    * uniform shift moves all cells together).
    *
    * Determinism: values are quantized to integer micros
    * (`round(x·1e6)` — round() on identical doubles is pinned
    * half-away-from-zero in both engines, the `q_sim_quant`
    * discipline), so slice sums are exact integers; the mean shift is
    * compared cross-multiplied in int64 (no division), and the
    * reported double shift divides identical integers (correctly
    * rounded → identical bits).
    *
    * Shape at 100 TB: one narrow (dim, slice, qx) projection off the
    * vector scan, one map-side-combined rollup to the D-row dimension
    * table. No join, no window, one shuffle of D×|slices| partials.
    */
  val DriftTauMicro = 2000L // flag |mean_new − mean_old| > 0.002

  def drift(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast(IntegerType).as("dim"),
        (col("vec_id") % 2 === 0).as("is_old"),
        round(col("x").cast(DoubleType) * 1e6).cast(LongType).as("qx"))
    ex.groupBy(col("dim"))
      .agg(
        count(when(col("is_old"), 1)).as("n_old"),
        count(when(!col("is_old"), 1)).as("n_new"),
        sum(when(col("is_old"), col("qx")).otherwise(0L)).as("qsum_old"),
        sum(when(!col("is_old"), col("qx")).otherwise(0L)).as("qsum_new"))
      .select(col("dim"), col("n_old"), col("n_new"),
        col("qsum_old"), col("qsum_new"),
        (col("qsum_new").cast(DoubleType) / col("n_new") -
          col("qsum_old").cast(DoubleType) / col("n_old")).as("shift_micro"),
        // DECIMAL(38,0) cross-multiply: qsum ~ N·1e6, so qsum·n
        // overflows int64 around a few million vectors (scanDrift
        // already widens for this reason; DuckDB computes in HUGEINT)
        (abs(col("qsum_new").cast(DecimalType(38, 0)) * col("n_old") -
          col("qsum_old").cast(DecimalType(38, 0)) * col("n_new")) >
          lit(DriftTauMicro).cast(DecimalType(38, 0)) *
            col("n_old") * col("n_new")).as("drifted"))
  }

  val driftSql: String =
    s"""WITH ex AS (
       |  SELECT dd::INT AS dim, vec_id % 2 = 0 AS is_old,
       |    round(embedding[dd]::DOUBLE * 1000000.0)::BIGINT AS qx
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(dd))
       |SELECT dim,
       |  count(*) FILTER (WHERE is_old)::BIGINT AS n_old,
       |  count(*) FILTER (WHERE NOT is_old)::BIGINT AS n_new,
       |  coalesce(sum(qx) FILTER (WHERE is_old), 0)::BIGINT AS qsum_old,
       |  coalesce(sum(qx) FILTER (WHERE NOT is_old), 0)::BIGINT AS qsum_new,
       |  (coalesce(sum(qx) FILTER (WHERE NOT is_old), 0)::DOUBLE
       |     / count(*) FILTER (WHERE NOT is_old)
       |   - coalesce(sum(qx) FILTER (WHERE is_old), 0)::DOUBLE
       |     / count(*) FILTER (WHERE is_old)) AS shift_micro,
       |  (abs(coalesce(sum(qx) FILTER (WHERE NOT is_old), 0)
       |         * count(*) FILTER (WHERE is_old)
       |       - coalesce(sum(qx) FILTER (WHERE is_old), 0)
       |         * count(*) FILTER (WHERE NOT is_old))
       |   > $DriftTauMicro * count(*) FILTER (WHERE is_old)
       |       * count(*) FILTER (WHERE NOT is_old)) AS drifted
       |FROM ex GROUP BY dim""".stripMargin

  // ------------------------------------------------------- k-NN graph

  /** Neighbors kept per node in [[knnGraph]]. */
  val KnnGraphK = 3

  /** Q-SIM-22: k-NN GRAPH construction — every vector's top-
    * [[KnnGraphK]] nearest neighbors (exact cosine, deterministic
    * tie-break) among its IVF-cell mates: the build step for
    * graph-based ANN serving (NSW/HNSW layers), graph clustering, and
    * label propagation. Candidates come from the shared corpus-scaled
    * coarse quantizer ([[ivfAssign]]: c = max(8, ceil(N/256)), so the
    * pair space is Σ|cell|² ≈ N·[[Portable.CellTarget]] — LINEAR in the
    * corpus, never all-pairs; cross-cell edges are the recall trade the
    * multiprobe queries quantify.
    *
    * Shape at 100 TB: one equi-join on `centroid_id` (AQE handles the
    * cell-size skew), then a per-node top-k window over compact
    * (src, dst, cosine) triples — embeddings never shuffle twice; the
    * output is K·N edges, linear in the corpus.
    */
  def knnGraph(s: SparkSession, d: String): DataFrame = {
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .join(ivfAssign(s, d).select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    e.as("a").join(e.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnGraphK)
  }

  val knnGraphSql: String =
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT em.vec_id, em.embedding, ${l2normSql("em.embedding")} AS nrm, a.centroid_id
       |  FROM embeddings em JOIN assign a ON em.vec_id = a.vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM e a JOIN e b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT src, dst, cosine,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
       |  FROM pairs)
       |SELECT src, dst, cosine, rank FROM r WHERE rank <= $KnnGraphK""".stripMargin

  /** Edge-admission cosine for [[graphClusters]] (tighter than the
    * graph's top-k membership, so clusters are genuine neighborhoods).
    */
  val GraphClusterTau = 0.4

  /** Q-SIM-23: embedding CLUSTER DISCOVERY — connected components over
    * the [[knnGraph]] edges with cosine ≥ [[GraphClusterTau]]: the
    * unsupervised grouping step (topic islands, near-duplicate
    * neighborhoods, modality clusters) a curation run reports from,
    * distinct from [[Dedup.semantic]]'s drop decision. Reuses the SAME
    * distributed CC operator as alias resolution and near-dup
    * clustering ([[graft.state.IdentityResolver.components]]) — one
    * operator, three domains. Every vector gets its cluster's min
    * vec_id as the label (singletons label themselves).
    *
    * Shape at 100 TB: edges are K·N (graph-bounded, never pairs);
    * component state is one (id, label) pair per CLUSTERED vector; the
    * corpus side joins the component dimension broadcast.
    */
  def graphClusters(s: SparkSession, d: String): DataFrame = {
    val edges = knnGraph(s, d)
      .filter(col("cosine") >= GraphClusterTau)
      .select(
        format_string("%010d", col("src")).as("src"),
        format_string("%010d", col("dst")).as("dst"))
    val comp = graft.state.IdentityResolver.components(s, edges)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(broadcast(comp),
        format_string("%010d", col("vec_id")) === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("canonical").cast(LongType), col("vec_id")).as("cluster_id"))
      .withColumn("is_rep", col("vec_id") === col("cluster_id"))
  }

  val graphClustersSql: String =
    s"""WITH RECURSIVE g AS ($knnGraphSql),
       |ed AS (SELECT src AS a, dst AS b FROM g WHERE cosine >= $GraphClusterTau
       |       UNION SELECT dst, src FROM g WHERE cosine >= $GraphClusterTau),
       |reach(a, b) AS (
       |  SELECT a, b FROM ed
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
       |canon AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
       |          FROM reach GROUP BY a)
       |SELECT em.vec_id,
       |  coalesce(c.cluster_id, em.vec_id) AS cluster_id,
       |  em.vec_id = coalesce(c.cluster_id, em.vec_id) AS is_rep
       |FROM embeddings em LEFT JOIN canon c USING (vec_id)""".stripMargin

  /** Radius for [[rangeSearch]]. */
  val RangeTau = 0.3

  /** Q-SIM-24: RANGE search — all neighbors within cosine ≥
    * [[RangeTau]] per query vector (the ANN API complement of top-k:
    * "everything this similar", not "the k most similar"), candidates
    * restricted to the query's IVF cell (cross-cell recall is
    * [[ivfMultiprobe]]'s dial). Emits one row per (query, match) with
    * the exact cosine.
    *
    * Shape at 100 TB: queries broadcast with their probe cells;
    * candidates are a cell equi-join; output is result-sized.
    */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    // persisted: query side + candidate side both read `e`, whose
    // subtree contains the N·c assignment — unpersisted it computed
    // twice (r17)
    val e = Tables.par(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .join(ivfAssign(s, d).select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("centroid_id").as("q_cell"))
    e.join(broadcast(q),
        col("centroid_id") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("cosine"))
      .filter(col("cosine") >= RangeTau)
  }

  val rangeSearchSql: String =
    s"""WITH assign AS ($ivfAssignSql),
       |e AS (
       |  SELECT em.vec_id, em.embedding, ${l2normSql("em.embedding")} AS nrm, a.centroid_id
       |  FROM embeddings em JOIN assign a ON em.vec_id = a.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, centroid_id
       |      FROM e WHERE vec_id % 50 = 0)
       |SELECT q.q_id, e.vec_id,
       |  ${dotSql("e.embedding", "q.q_emb")} / (e.nrm * q.q_nrm) AS cosine
       |FROM e JOIN q ON e.centroid_id = q.centroid_id AND e.vec_id <> q.q_id
       |WHERE ${dotSql("e.embedding", "q.q_emb")} / (e.nrm * q.q_nrm) >= $RangeTau""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_sim_range_search", rangeSearch, Some(rangeSearchSql)),
    Q("q_sim_graph_clusters", graphClusters, Some(graphClustersSql)),
    Q("q_sim_knn_graph", knnGraph, Some(knnGraphSql)),
    Q("q_sim_topk", topK, Some(topKSql)),
    Q("q_sim_mips", mips, Some(mipsSql)),
    Q("q_sim_lsh", lshBuckets, Some(lshBucketsSql)),
    Q("q_sim_ivf", ivfAssign, Some(ivfAssignSql)),
    Q("q_sim_ivf_search", ivfSearch, Some(ivfSearchSql)),
    Q("q_sim_lsh_search", lshSearch, Some(lshSearchSql)),
    Q("q_sim_quant", quantSearch, Some(quantSearchSql)),
    Q("q_sim_quant_ivf", quantIvfSearch, Some(quantIvfSearchSql)),
    Q("q_sim_ivf_multiprobe", ivfMultiprobe, Some(ivfMultiprobeSql)),
    Q("q_sim_project", project, Some(projectSql)),
    Q("q_sim_binary", binarySearch, Some(binarySearchSql)),
    Q("q_sim_binary_ivf", binaryIvfSearch, Some(binaryIvfSearchSql)),
    Q("q_sim_project_search", projectSearch, Some(projectSearchSql)),
    Q("q_sim_recall_matrix", recallMatrix, Some(recallMatrixSql)),
    Q("q_sim_prototypes", prototypes, Some(prototypesSql)),
    Q("q_sim_index_stats", indexStats, Some(indexStatsSql)),
    Q("q_sim_matryoshka", matryoshka, Some(matryoshkaSql)),
    Q("q_sim_outliers", outliers, Some(outliersSql)),
    Q("q_sim_ivf_incremental", ivfIncremental, Some(ivfIncrementalSql)),
    Q("q_sim_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Q("q_sim_drift", drift, Some(driftSql)))
}
