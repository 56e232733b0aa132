package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Cross-engine-portable primitives for the LLM-data-pipeline operators.
  *
  * Every hash / fold here is defined so that Spark (Catalyst built-ins,
  * whole-stage codegen) and the DuckDB oracle compute **bit-identical**
  * values:
  *
  *   - `h60`: a 60-bit integer hash = first 15 hex chars of md5 — both
  *     engines have md5 over UTF-8 bytes; 60 bits always fits a signed
  *     int64, so no unsigned edge cases.
  *   - double folds always start from an explicit 0.0 accumulator on the
  *     Spark side; DuckDB's `list_reduce` starts from the first element.
  *     Since `0.0 + x == x` exactly in IEEE-754, the two fold orders
  *     produce identical bits.
  *   - all modular arithmetic keeps intermediates < 2^63 (documented at
  *     each use site), so wrap-around can never differ between engines.
  *
  * Scale note: everything here is a pure Catalyst expression tree
  * (built-ins, higher-order functions over arrays, and the native
  * kernels in [[graft.functions]] for the hot loops the interpreted
  * higher-order functions would box) — no UDFs, no serialization
  * boundary, and embarrassingly parallel per row. At 100 TB the
  * per-document work is O(tokens × constants) with zero shuffle; only
  * the candidate-pair joins (LSH band join, shingle join) shuffle, and
  * those shuffle compact keys, not documents.
  */
object Portable {

  /** 60-bit md5-based hash of a string column (fits int64, positive). */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast(LongType)

  /** DuckDB rendering of [[h60]]. */
  def h60Sql(x: String): String = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** Whitespace tokens, empty-safe. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** DuckDB rendering of [[tokens]]. */
  def tokensSql(x: String): String =
    s"list_filter(string_split_regex($x, '\\s+'), t -> len(t) > 0)"

  /** A native expression from [[graft.functions.GraftExtensions]].
    * Best-effort registration into the active session for ad-hoc/test
    * columns; query paths are guaranteed registration via Tables.t with
    * their own session.
    */
  private def native(name: String, args: Column*): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftExtensions.register)
    call_function(name, args: _*)
  }

  /** Distinct word 3-shingles of a text (first-occurrence order), the
    * unit for n-gram Jaccard / MinHash: the native
    * [[graft.functions.WordShingles3]] over [[tokens]]' whitespace
    * split. Empty when the text has fewer than 3 tokens or is null.
    */
  def wordShingles3(text: Column): Column = native("word_shingles3", text)

  /** The 8 MinHash LSH band hashes of a shingle array, as the native
    * [[graft.functions.MinHashBands]] (constants in [[Dedup]]).
    */
  def minhashBands(sh: Column): Column = native("minhash_bands", sh)

  /** DuckDB rendering of the word 3-shingles given a token-list
    * expression: `wordShingles3(text)` ≡ `shingles3Sql(tokensSql(text))`.
    */
  def shingles3Sql(toks: String): String =
    s"list_distinct(list_transform(generate_series(1, len($toks) - 2), i -> array_to_string(($toks)[i:i+2], ' ')))"

  /** Exact left-fold dot product of two float-array columns, in double.
    * Same accumulation order as the oracle ⇒ bit-identical result.
    *
    * Runs as the native [[graft.functions.VecDot]] expression (HOF
    * `aggregate`/`zip_with` are CodegenFallback — interpreted lambda +
    * boxing per element; the native form is a primitive loop inside
    * whole-stage codegen). Registered lazily into the active session.
    */
  def dot(a: Column, b: Column): Column = native("vec_dot", a, b)

  /** DuckDB rendering of [[dot]] (64-dim embeddings). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE), (x, y) -> x + y)"

  /** Squared euclidean distance — native twin of [[dot]] (same fold
    * contract, `(aᵢ−bᵢ)²` terms). The IVF/k-means assignment kernel.
    */
  def dist2(a: Column, b: Column): Column = native("vec_dist2", a, b)

  /** Exact INTEGER dot product over `array<bigint>` — the int8-quant
    * scoring kernel, as the native [[graft.functions.VecIDot]]
    * expression (same codegen rationale as [[dot]]; int64 arithmetic
    * is exact, so this is identical to the HOF fold it replaces).
    */
  def idot(a: Column, b: Column): Column = native("vec_idot", a, b)

  /** DuckDB rendering of [[dist2]]. */
  def dist2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> " +
      s"(($a)[i]::DOUBLE - ($b)[i]::DOUBLE) * (($a)[i]::DOUBLE - ($b)[i]::DOUBLE)), (x, y) -> x + y)"

  /** L2 norm of a float-array column (same fold as [[dot]]). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def l2normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Per-cell size target for the IVF coarse quantizer shared by the
    * whole ANN/blocked-dedup family ([[graft.llm.Similarity.ivfAssign]],
    * SemDeDup, k-NN graph, hard negatives, range search, IVF-PQ,
    * cross-modal search). The cell count SCALES WITH THE CORPUS:
    *
    *   c = max(8, ceil(N / CellTarget))
    *
    * so expected cell population stays ≈ [[CellTarget]] however large N
    * grows, which keeps every Σ|cell|² consumer (all-pairs WITHIN a
    * cell) LINEAR in the corpus — Σ|cell|² ≈ N·CellTarget — instead of
    * the N²/c a frozen cell count degrades to. The max(8, ·) floor
    * pins the small-fixture behavior (every committed oracle at
    * N ≤ 2048 sees exactly the historical 8 cells), so the mechanism
    * scales while the fixtures stay bit-stable.
    *
    * 256 is a power of two on purpose: `N / 256.0` is exact in binary
    * floating point, so Spark's `ceil(count / 256.0)` and DuckDB's
    * `CEIL(COUNT(*) / 256.0)` can never round differently.
    *
    * Assignment cost is N·c distance evaluations against a broadcast
    * seed table (c·dim·4 B — 400 KB at N=200k, still only ~25 MB at
    * N=10M). The N²/256 compute is a real cliff past ~1e8 vectors, but
    * the two-level (coarse √c × residual) assignment earlier rounds
    * sketched as the production fix was MEASURED in r17 and rejected:
    * on this corpus (uniform random unit vectors, the isotropic
    * worst case) triangle-inequality pruning is void — at sf10
    * (c=782, g=28 coarse groups over the seed centroids) the group
    * radii are ≈1.31 while query→coarse distances are ≈1.41, so the
    * bound max(0, d−r) ≤ min(d+r) admits 28 of 28 groups for EVERY
    * sampled vector, making the exact two-level N·(g+c) — strictly
    * slower than the flat N·c. An approximate two-level (descend to the
    * nearest coarse group only) changes the emitted cell ids, i.e. the
    * operator's results, which is an index-quality trade for the
    * index-build contract to make explicitly — not a transparent
    * optimization this oracle-gated operator may take. Production
    * guidance past 1e8 vectors: train the quantizer on a sample (the
    * k-means operator already bounds its iterations that way) or adopt
    * an explicitly approximate assignment with its recall measured by
    * the recall-matrix operator, and accept the changed cell ids.
    */
  val CellTarget = 256

  /** Memoized per-(session, dir) embeddings row count backing the
    * corpus-scaled cell count. One tiny count job per dir per JVM —
    * metered like every driver-side materialization (8 bytes).
    */
  private val embCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Corpus-scaled IVF cell count for the embeddings table under `d`. */
  def nCells(s: org.apache.spark.sql.SparkSession, d: String): Long = {
    val n = embCounts.computeIfAbsent(d, _ => {
      graft.HeapWatermark.record("ivf_cell_count", 8L)
      graft.Tables.embeddings(s, d).count()
    })
    math.max(8L, math.ceil(n.toDouble / CellTarget).toLong)
  }

  /** DuckDB rendering of the corpus-scaled cell count (a scalar
    * subquery, so the oracle derives c from the same table the Spark
    * side counted). `src` must be the UNFILTERED embeddings relation
    * the Spark side sized against.
    */
  def cellCountSql(src: String = "embeddings"): String =
    s"(SELECT GREATEST(8, CAST(CEIL(COUNT(*) / $CellTarget.0) AS BIGINT)) FROM $src)"
}
