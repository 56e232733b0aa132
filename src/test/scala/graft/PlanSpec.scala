package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gates: the plan SHAPES that make these
  * operators hold at 100 TB, asserted so a refactor can't silently
  * reintroduce a scan without pushdown, a shuffle join where a
  * broadcast belongs, a UDF in a codegen hot path, or a global sort
  * where a top-k heap belongs. (The spot checks a human would do with
  * `.explain("formatted")` after each change, made permanent.)
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter queries push predicates and prune columns at the parquet scan") {
    val p = plan(SparkEntry.queries("q_filt_lineitem")(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("PushedFilters: []"), "no predicates reached the scan")
    // projection narrowing: the scan must not read all 16 lineitem columns
    assert(p.contains("ReadSchema"), p.take(500))
  }

  test("dimension joins broadcast (snapshot join, TPC-H Q3, flag groups)") {
    for (q <- Seq("q_pipe_snapshot", "q_tpch_q3", "q_flag_groups")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its broadcast:\n${p.take(1500)}")
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_sort_top100")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("flag filter backfill is one codegen'd map stage: no UDF, no SHA1, no shuffle") {
    val df = SparkEntry.queries("q_flag_filters")(spark, sf)
    val p = plan(df)
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "a UDF broke whole-stage codegen in the flag path")
    assert(!p.contains("Exchange"), "map-only backfill should not shuffle")
    assert(p.contains("*(1)"), p.take(800)) // the whole-stage-codegen stage marker
    // 100% rollouts fold away the bucket → no SHA1 in the plan
    assert(!p.toLowerCase.contains("flag_bucket"), "literal-foldable rollout still buckets")
  }

  test("flag variants use the NATIVE bucket expression (codegen), not a UDF") {
    val p = plan(SparkEntry.queries("q_flag_variants")(spark, sf))
    assert(p.toLowerCase.contains("flag_bucket"), p.take(1500))
    assert(!p.toLowerCase.contains("scalaudf"), "bucket fell back to the UDF")
  }

  test("text/signature operators stay UDF-free map passes") {
    for (q <- Seq("q_text_stats", "q_text_winnow", "q_dedup_minhash", "q_sim_lsh",
        "q_dedup_spans")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("scalaudf"), s"$q grew a UDF")
    }
  }

  test("random projection is a map-only codegen scan: no shuffle, literal signs") {
    val p = plan(SparkEntry.queries("q_sim_project")(spark, sf))
    assert(!p.contains("Exchange"), "projection must not shuffle")
    assert(!p.toLowerCase.contains("scalaudf"), "projection grew a UDF")
    assert(!p.toLowerCase.contains("md5"), "sign matrix must fold to plan-time literals")
  }

  test("sessionization reuses ONE user-keyed shuffle for windows and rollup") {
    val p = plan(SparkEntry.queries("q_prod_sessions")(spark, sf))
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges == 1, s"expected exactly 1 shuffle, saw $exchanges:\n${p.take(1500)}")
  }

  test("span dedup never self-joins: no cartesian, counts via one keyed window") {
    val p = plan(SparkEntry.queries("q_dedup_spans")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("Window"), p.take(1500))
  }

  test("bounded mix keeps run as ObjectHashAggregate, not a rank window") {
    val p = plan(SparkEntry.queries("q_text_mix_topk")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    // the doc-keep path must not sort whole languages; the only Window
    // allowed is the |langs|-row totals fold
    assert(!p.contains("row_number"), "keeps regressed to a rank window")
  }

  test("round-6 additions stay UDF-free with no accidental cartesian") {
    for (q <- Seq("q_dedup_novelty", "q_sim_binary", "q_text_mix",
        "q_prod_correlation", "q_flag_experiment", "q_fn_morton",
        "q_pipe_asof_state", "q_prod_session_funnel", "q_join_asof_fwd")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("scalaudf"), s"$q grew a UDF")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n${p.take(1200)}")
    }
  }

  test("simhash is a single hash-aggregate pass with partial (map-side) aggregation") {
    val p = plan(SparkEntry.queries("q_dedup_simhash")(spark, sf))
    assert(p.contains("HashAggregate"), p.take(1000))
    // partial_sum before the shuffle = map-side combine
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(2000))
  }

  test("blocked cosine joins on the bucket key, never a cross product") {
    val p = plan(SparkEntry.queries("q_dedup_cosine_blocked")(spark, sf))
    assert(!p.contains("CartesianProduct"), "blocked path degenerated to all-pairs")
  }

  test("blocked quantized search joins on the IVF cell, never all-pairs") {
    val p = plan(SparkEntry.queries("q_sim_quant_ivf")(spark, sf))
    assert(!p.contains("CartesianProduct"), "quantized search degenerated to all-pairs")
    // the candidate join must be the equi-join on the cell id (the
    // only sanctioned nested loop is the constant-8-centroid
    // assignment stage inside ivfAssign)
    assert(p.contains("BroadcastHashJoin [centroid_id"),
      "cell probe lost its hash join:\n" + p.take(1500))
  }

  test("selection scores shuffle compact keys only: map-side partials, no cartesian") {
    for (q <- Seq("q_corpus_lm_score", "q_corpus_classifier")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q grew an all-pairs product")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side combine:\n${p.take(1500)}")
      assert(!p.toLowerCase.contains("scalaudf"), s"$q grew a UDF")
    }
  }

  test("domain top-k aggregate is window-free with map-side partials") {
    val p = plan(SparkEntry.queries("q_corpus_domain_topk")(spark, sf))
    assert(!p.contains("Window"),
      "the bounded top-k aggregate degenerated back to a rank window:\n" + p.take(1500))
    // ObjectHashAggregate with a partial stage = at most k rows per
    // (input partition, domain) enter the shuffle
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("partial_topkaggregator") || p.contains("partial_TopKAggregator") ||
      p.toLowerCase.contains("partial"), "top-k lost its map-side partial:\n" + p.take(2000))
  }

  test("ngram heavy hitters: two-level aggregate + TakeOrderedAndProject") {
    val p = plan(SparkEntry.queries("q_text_ngrams")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "ngram counts lost map-side combine:\n" + p.take(2000))
    assert(!p.toLowerCase.contains("scalaudf"))
  }

  test("chunking is a shuffle-free codegen'd map pass") {
    val p = plan(SparkEntry.queries("q_text_chunks")(spark, sf))
    // one Exchange is sanctioned: Tables.par's split-spreading repartition
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"chunking grew $exchanges shuffles:\n" + p.take(1500))
    assert(!p.toLowerCase.contains("scalaudf"))
  }

  test("PQ ADC search scores codes via a broadcast lookup join, no cartesian, no UDF") {
    for (q <- Seq("q_sim_pq", "q_sim_pq_ivf")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q: ADC scoring degenerated to all-pairs")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the distance lookup table lost its broadcast:\n" + p.take(1500))
      assert(!p.toLowerCase.contains("scalaudf"), s"$q grew a UDF")
    }
  }

  test("search top-k plans as TakeOrderedAndProject over the filtered postings") {
    val p = plan(SparkEntry.queries("q_text_search")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("range join stays an equi-join on (user, bin): no nested loop, no cartesian") {
    val p = plan(SparkEntry.queries("q_prod_range_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), "range join degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate leaked into the join condition as a nested loop:\n" + p.take(1500))
  }

  test("beyond broadcast sizes, fact-table joins pick up a runtime bloom filter") {
    // Past the broadcast threshold, a selectively-filtered dimension
    // falls back to a shuffle join — the regime where Spark's
    // InjectRuntimeFilter should plant a bloom `might_contain` on the
    // fact side's join key, pruning the 100 TB shuffle by the
    // dimension's surviving key population. Gated on the TPC-H Q3
    // shape (filtered customer → orders → lineitem): the rule tracks
    // key lineage through Project/Filter/Join, so the star-schema
    // join is exactly where it applies (explode/aggregate-derived
    // keys, e.g. the decontam shingle index, are out of its reach —
    // that operator broadcasts instead, asserted above). Thresholds
    // are floored because the gate runs on KB-scale test parquet.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val p = plan(SparkEntry.queries("q_tpch_q3")(spark, sf))
      assert(p.contains("might_contain"),
        "no runtime bloom filter injected on the shuffled fact join:\n" + p.take(2000))
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("vocab encode broadcasts the elected vocabulary (no shuffled dictionary join)") {
    val p = plan(SparkEntry.queries("q_text_vocab")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "vocab join lost its broadcast:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("bloom decontamination probes the sketch map-side (might_contain, no cartesian)") {
    val p = plan(SparkEntry.queries("q_corpus_decontam_bloom")(spark, sf))
    assert(p.contains("might_contain"), "sketch probe missing from plan:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.toLowerCase.contains("scalaudf"), "bloom path grew a UDF")
  }

  test("session intake (S9) is a map-only codegen pass: no shuffle, no UDF") {
    val p = plan(SparkEntry.queries("q_ingest_session")(spark, sf))
    assert(!p.contains("Exchange"), "snapshot intake must not shuffle:\n" + p.take(1500))
    assert(!p.toLowerCase.contains("scalaudf"), "session intake grew a UDF")
  }

  test("round-8 additions: one lang shuffle for token budget, top-k dict election, no cartesian") {
    val tb = plan(SparkEntry.queries("q_corpus_token_budget")(spark, sf))
    assert(!tb.contains("CartesianProduct"), tb.take(1500))
    // both windows (running sum + language total) must share ONE
    // lang-keyed exchange; the only other exchange is Tables.par's
    // input spread
    val langExchanges = "hashpartitioning\\(lang".r.findAllIn(tb).size
    assert(langExchanges == 1, s"expected 1 lang-keyed exchange, got $langExchanges:\n" + tb.take(2000))

    val sh = plan(SparkEntry.queries("q_text_shuffle")(spark, sf))
    assert(!sh.contains("CartesianProduct"), sh.take(1500))

    // the corpus-sized stage of BPE is the dict election — it must be
    // the per-partition top-k merge, not a range-partitioned global sort
    val elect = plan(graft.llm.Bpe.electDict(spark, sf))
    assert(elect.contains("TakeOrderedAndProject"),
      "dict election should be a bounded top-k, not a global sort:\n" + elect.take(1500))
    // the encode+gate side runs over the already-collected dict: a
    // local relation with zero exchanges (a second corpus scan or any
    // shuffle here would be rebuilding 1500 held rows from 100 TB)
    val bpe = plan(SparkEntry.queries("q_text_bpe")(spark, sf))
    assert(bpe.contains("LocalTableScan"), bpe.take(1500))
    assert(!bpe.contains("Exchange"), bpe.take(1500))
    assert(!bpe.contains("CartesianProduct"), bpe.take(1500))

    // DSIR: the selection threshold must be a bounded top-k broadcast
    // back map-side — never a global sort or rank window over the pool
    val dsir = plan(SparkEntry.queries("q_corpus_dsir")(spark, sf))
    assert(dsir.contains("TakeOrderedAndProject"),
      "dsir threshold should be a bounded top-k:\n" + dsir.take(1500))
    assert(!dsir.contains("CartesianProduct"), dsir.take(1500))
    assert(!dsir.contains("Window"), "dsir must not rank the whole pool:\n" + dsir.take(1500))

    // CCNet: the tercile window rides ONE lang-keyed exchange
    val cc = plan(SparkEntry.queries("q_corpus_ccnet")(spark, sf))
    assert(!cc.contains("CartesianProduct"), cc.take(1500))
    val ccLang = "hashpartitioning\\(lang".r.findAllIn(cc).size
    assert(ccLang == 1, s"expected 1 lang-keyed exchange, got $ccLang:\n" + cc.take(2000))

    // epoch replication is map-only: the sole exchange is the input
    // spread; the replication itself is a codegen'd explode
    val ep = plan(SparkEntry.queries("q_corpus_epochs")(spark, sf))
    val epExchanges = "Exchange".r.findAllIn(ep).size
    assert(epExchanges == 1 && ep.contains("RoundRobinPartitioning"),
      s"epochs should shuffle nothing beyond the input spread:\n" + ep.take(2000))
    assert(ep.contains("Generate explode"), ep.take(1500))

    // stratified shards: one stratum-keyed exchange feeds the rank window
    val st = plan(SparkEntry.queries("q_corpus_strat_shards")(spark, sf))
    assert(!st.contains("CartesianProduct"), st.take(1500))
    val stEx = "hashpartitioning\\(lang".r.findAllIn(st).size
    assert(stEx == 1, s"expected 1 stratum-keyed exchange, got $stEx:\n" + st.take(2000))
  }

  test("LSH admission gate: compact-key shuffles only, no pairs, co-partitioned verdict join") {
    val g = plan(SparkEntry.queries("q_dedup_lsh_gate")(spark, sf))
    assert(!g.contains("CartesianProduct"), g.take(1500))
    // bucket state is min(doc_id) per (band, band_hash): partial+final
    // aggregate on the band keys, never a doc×doc candidate product
    assert(g.contains("partial_min"), "bucket firsts should map-side combine:\n" + g.take(1500))
    // the verdict join keys on the bucket (band, band_hash) — broadcast
    // when the firsts side fits (this sf), else both sides co-partition
    // on the bucket key; anything else (nested loop, doc-keyed shuffle
    // before the join) would be a plan regression
    val bucketExchanges = "hashpartitioning\\(band".r.findAllIn(g).size
    val broadcastForm = g.contains("BroadcastHashJoin [band")
    assert(broadcastForm || bucketExchanges == 2,
      s"verdict join neither broadcast nor bucket-co-partitioned ($bucketExchanges band exchanges):\n" +
        g.take(2000))
  }

  test("round-10 additions: bounded top-k sample, combined tf rollup, no cartesian audits") {
    // priority sample: map-only priorities into a bounded top-k — the
    // whole corpus never sorts and never shuffles
    val ws = plan(SparkEntry.queries("q_corpus_weighted_sample")(spark, sf))
    assert(ws.contains("TakeOrderedAndProject"), ws.take(1500))
    assert(!ws.toLowerCase.contains("scalaudf"))
    // keywords: (doc, term) counts must map-side combine before the
    // shuffle — the pairs stream is the corpus-sized stage
    val kw = plan(SparkEntry.queries("q_text_keywords")(spark, sf))
    assert(kw.contains("partial_count"), "tf rollup lost map-side combine:\n" + kw.take(2000))
    assert(!kw.contains("CartesianProduct"))
    // CUPED: one user-keyed rollup with partials, native bucket (no
    // UDF), and only broadcast joins for the 1-row global/control sides
    val cu = plan(SparkEntry.queries("q_flag_cuped")(spark, sf))
    assert(cu.contains("partial_sum"), "per-user spend rollup lost partials:\n" + cu.take(2000))
    assert(!cu.toLowerCase.contains("scalaudf"), "CUPED grew a UDF")
    assert(!cu.contains("CartesianProduct"),
      "the 1-row global join should broadcast (BNLJ), not cartesian:\n" + cu.take(1500))
    // audits: assignment against broadcast centroids, never all-pairs
    for (q <- Seq("q_sim_prototypes", "q_sim_index_stats")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: centroid side lost its broadcast:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$q degenerated to a cartesian")
    }
    // langid eval: prediction stays a UDF-free map pass; the matrix agg
    // map-side combines so the shuffle carries cells, not documents
    val le = plan(SparkEntry.queries("q_text_langid_eval")(spark, sf))
    assert(!le.toLowerCase.contains("scalaudf"))
    assert(le.contains("partial_count"), "confusion cells lost map-side combine:\n" + le.take(2000))
    // lsh audit: candidate and truth sides stay compact-key equi-joins
    val la = plan(SparkEntry.queries("q_dedup_lsh_audit")(spark, sf))
    assert(!la.contains("CartesianProduct"), "audit degenerated to all-pairs:\n" + la.take(1500))
  }

  test("edit pairs and bootstrap: banded candidates, post-agg fan-out, no cartesian, no UDF") {
    // edit-distance dedup: candidates must come from the band equi-join
    // (never an all-pairs product) and the levenshtein verify is a
    // built-in, not a UDF
    val ed = plan(SparkEntry.queries("q_dedup_edit")(spark, sf))
    assert(!ed.contains("CartesianProduct"), "edit pairs degenerated to all-pairs:\n" + ed.take(1500))
    assert(!ed.toLowerCase.contains("scalaudf"), "edit verify grew a UDF")
    // bootstrap: the replicate explode (Generate) must run on the
    // per-user AGGREGATE, not the raw event stream — the event rollup
    // keeps map-side partials, the B-fan-out never multiplies events;
    // the 1-row control/lift sides broadcast (BNLJ), never cartesian
    val bs = plan(SparkEntry.queries("q_flag_bootstrap")(spark, sf))
    assert(bs.contains("partial_sum"), "per-user spend rollup lost partials:\n" + bs.take(2000))
    assert(bs.contains("Generate"), "replicate fan-out missing:\n" + bs.take(1500))
    val gen = bs.indexOf("Generate")
    assert(bs.indexOf("HashAggregate", gen) >= 0 || bs.indexOf("partial_sum", gen) >= 0,
      "no aggregate upstream of the replicate explode (fan-out hits raw events?)")
    assert(!bs.toLowerCase.contains("scalaudf"), "bootstrap grew a UDF (bucket must stay native)")
    assert(!bs.contains("CartesianProduct"),
      "1-row sides should broadcast (BNLJ), not cartesian:\n" + bs.take(1500))
    // the events table is touched ONCE: the per-user spend cohort is
    // one partial-agg + one user-dimension exchange, then cached — the
    // replicate fan-out, CI ranks, and arm means all read the cache.
    // In the optimized LOGICAL plan the cache is a leaf
    // (InMemoryRelation), so any file scan OUTSIDE it means a consumer
    // re-derives the cohort from raw events.
    val bsLogical = SparkEntry.queries("q_flag_bootstrap")(spark, sf)
      .queryExecution.optimizedPlan
    val rawScans = bsLogical.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(rawScans.isEmpty,
      s"bootstrap re-scans events ${rawScans.size}x outside the cached spend cohort")
    assert(bsLogical.collect {
      case c: org.apache.spark.sql.execution.columnar.InMemoryRelation => c
    }.nonEmpty, "spend cohort lost its persist (every consumer re-derives it)")
    // winsor: same family — user-keyed rollup with partials, native
    // bucket, broadcast threshold/control sides (the pooled cap rank
    // comes from BucketedOrder since round 10 — no partition-less
    // window; the registry-wide gate below enforces that)
    val wz = plan(SparkEntry.queries("q_flag_winsor")(spark, sf))
    assert(wz.contains("partial_sum"), "per-user spend rollup lost partials:\n" + wz.take(2000))
    assert(!wz.toLowerCase.contains("scalaudf"), "winsor grew a UDF")
    assert(!wz.contains("CartesianProduct"),
      "threshold/control sides should broadcast, not cartesian:\n" + wz.take(1500))
    // column stats: two passes exactly (typed agg + compact-pair NDV
    // shuffle) — NEVER the multi-distinct Expand/SortAggregate rewrite
    // (sorts a 4x-expanded input while merging HLL buffers; measured
    // ~40x slower), no per-column re-scans, no UDF
    val cs = plan(SparkEntry.queries("q_scan_colstats")(spark, sf))
    assert(!cs.contains("Expand"), "colstats regressed to the multi-distinct Expand:\n" + cs.take(1500))
    // (a KEYLESS SortAggregate is fine — no grouping keys means it is a
    // streaming fold with partials, not a sort; the string min/max
    // buffer forces it off the hash path and that costs nothing)
    assert(!cs.toLowerCase.contains("scalaudf"), "colstats grew a UDF")
    assert("Scan parquet".r.findAllIn(cs).size <= 2,
      "colstats re-scans the table per column:\n" + cs.take(2000))
    // SRM + classifier eval: summary-row audits must stay UDF-free
    // with broadcast 1-row sides, never a cartesian
    for (q <- Seq("q_flag_srm", "q_corpus_classifier_eval")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.toLowerCase.contains("scalaudf"), s"$q grew a UDF")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n${p.take(1200)}")
    }
  }

  test("round-10 additions: codegen'd url canonicalization, bounded rerank join") {
    // url dedup: one map pass (parse_url/regexp/array chain, no UDF)
    // into a map-side-combined rollup — no window, no join at all
    val u = plan(SparkEntry.queries("q_dedup_url")(spark, sf))
    assert(!u.toLowerCase.contains("scalaudf"), "url canonicalization grew a UDF")
    assert(u.contains("partial_count") || u.contains("partial_min"),
      "url rollup lost map-side partials:\n" + u.take(1500))
    assert(!u.contains("Join"), "url dedup should be scan+agg only:\n" + u.take(1500))
    // rerank: candidate ids equi-join the embedding table, queries
    // broadcast; never a cartesian, no UDF (native vec kernels)
    val r = plan(SparkEntry.queries("q_sim_rerank")(spark, sf))
    assert(!r.toLowerCase.contains("scalaudf"), "rerank grew a UDF")
    assert(!r.contains("CartesianProduct"), s"rerank plans a cartesian:\n${r.take(1500)}")
    assert(r.contains("BroadcastHashJoin"),
      "rerank's query side should broadcast:\n" + r.take(1500))
  }

  test("round-11: cross-modal media search is predicate-filtered, broadcast, no cartesian") {
    val p = plan(SparkEntry.queries("q_media_search")(spark, sf))
    assert(!p.toLowerCase.contains("scalaudf"), "media search grew a UDF")
    assert(!p.contains("CartesianProduct"),
      s"media search degenerated to all-pairs:\n${p.take(1500)}")
    // the metadata predicate restricts the index side with an equi-join;
    // query set + centroids ride broadcasts
    assert(p.contains("BroadcastHashJoin"),
      "media search lost its broadcast query join:\n" + p.take(1500))
  }

  test("round-11: trends formula is one conditional-agg pass, no Expand, no series self-join") {
    val p = plan(SparkEntry.queries("q_prod_trends")(spark, sf))
    // a SINGLE distinct column keeps two-phase distinct planning; a
    // second distinct series would bring back the Expand+SortAggregate
    // trap (the 75x q_agg_approx lesson) — add series as conditional
    // aggregates, not new distincts
    assert(!p.contains("Expand"), s"trends grew an Expand:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"trends plans a cartesian:\n${p.take(1500)}")
    // the zero-fill grid is a 1-row aggregate exploded to days; it must
    // broadcast onto the daily rollup, not shuffle it
    assert(p.contains("BroadcastHashJoin"), s"grid join lost its broadcast:\n${p.take(1500)}")
  }

  test("round-11: shot detection reuses ONE doc-keyed exchange for lag, mean-jump, and rollup") {
    val p = plan(SparkEntry.queries("q_media_shots")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"shots plan a cartesian:\n${p.take(1500)}")
    // the lag window, the per-doc jump stats window, and the final
    // aggregate all key on doc_id — a correct plan shuffles the compact
    // signature rows exactly once
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"shots shuffle $exchanges times (want 1):\n${p.take(2000)}")
  }

  test("round-11: boilerplate removal — no Expand, no cartesian, partial aggregation") {
    val p = plan(SparkEntry.queries("q_text_boilerplate")(spark, sf))
    // one distinct column (doc per sentence) must keep two-phase
    // distinct planning; the hot-set probe is an equi-join
    assert(!p.contains("Expand"), s"boilerplate grew an Expand:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"boilerplate plans a cartesian:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"sentence rollup lost map-side partials:\n${p.take(1500)}")
  }

  test("round-11: breakdown election is bounded top-k, broadcast back, raw events scanned once") {
    val p = plan(SparkEntry.queries("q_prod_breakdown")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N election lost its bounded form:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"elected set must broadcast onto the rollup:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"breakdown plans a cartesian:\n${p.take(1500)}")
    // the raw events table feeds exactly one scan: the persisted
    // dimension-sized rollup serves both the election and the series
    assert(p.contains("InMemoryTableScan") || "Scan parquet".r.findAllIn(p).size <= 1,
      s"breakdown rescans events:\n${p.take(2000)}")
  }

  test("round-12 additions: dimension-sized windows, broadcast assigns, no cartesian") {
    // markov: the edge window partitions by from_type on the V²-row
    // edge aggregate; totals broadcast back
    val markov = plan(SparkEntry.queries("q_prod_paths_markov")(spark, sf))
    assert(!markov.contains("CartesianProduct"), markov.take(1500))
    assert(markov.contains("BroadcastHashJoin"), s"markov totals join lost its broadcast:\n${markov.take(1500)}")
    // trends compare: no window, no self-join of the series — the 1-row
    // bounds aggregate broadcasts onto the daily rollup
    val cmp = SparkEntry.queries("q_prod_trends_compare")(spark, sf)
    assert(cmp.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "trends_compare must not plan a window")
    assert(!plan(cmp).contains("CartesianProduct"))
    // incremental IVF: the only nested-loop is the 8-row broadcast
    // centroid table; no unbounded cartesian
    val inc = plan(SparkEntry.queries("q_sim_ivf_incremental")(spark, sf))
    assert(!inc.contains("CartesianProduct"), inc.take(1500))
    assert(inc.contains("BroadcastNestedLoopJoin") || inc.contains("BroadcastHashJoin"),
      s"centroid assign lost its broadcast:\n${inc.take(1500)}")
    // VAD: every window keys on doc_id (the registry-wide gate also
    // covers this; asserted here against the executed plan)
    val vad = SparkEntry.queries("q_media_vad")(spark, sf)
    val partless = vad.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(partless.isEmpty, "VAD planned a partition-less window")
  }

  test("round-13 additions: blocked candidate joins, broadcast extents, no cartesian") {
    // k-NN graph + semantic decontam: candidates are cell/bucket
    // equi-joins — the all-pairs product must never form
    for (q <- Seq("q_sim_knn_graph", "q_corpus_decontam_sem")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q degenerated to all-pairs:\n${p.take(1500)}")
    }
    // binned trends: the 1-row (lo, hi) extent broadcasts (BNLJ is the
    // legal plan for a 1-row cross join; a cartesian is not)
    val tb = plan(SparkEntry.queries("q_prod_trends_binned")(spark, sf))
    assert(!tb.contains("CartesianProduct"), tb.take(1500))
    assert(tb.contains("BroadcastNestedLoopJoin") || tb.contains("BroadcastHashJoin"),
      s"extent join lost its broadcast:\n${tb.take(1500)}")
    // group funnel: every post-attribution stage joins on the tiny
    // group dimension — broadcast, never shuffled-both-sides
    val fg = plan(SparkEntry.queries("q_prod_funnel_groups")(spark, sf))
    assert(!fg.contains("CartesianProduct"), fg.take(1500))
    assert(fg.contains("BroadcastHashJoin"),
      s"group-funnel stage join lost its broadcast:\n${fg.take(1500)}")
    // funnel IVM: user-keyed stages only; no cartesian anywhere
    val fi = plan(SparkEntry.queries("q_prod_funnel_incremental")(spark, sf))
    assert(!fi.contains("CartesianProduct"), fi.take(1500))
  }

  /** Queries whose partition-less window is PROVABLY bounded — now
    * maintained in MAIN ([[graft.plans.BoundedWindows]]) so the bench's
    * runtime warn-capture gate asserts against the very same list this
    * static gate uses (VERDICT r13 item 2).
    */
  private val boundedWindowJustification: Map[String, String] =
    graft.plans.BoundedWindows.justification

  /** Queries whose `collect_list`/`collect_set` buffers are bounded, each
    * with its per-group bound. Everything else buffers a whole group on
    * one executor — the unbounded state the session-wide 65,536-key
    * ObjectHashAggregate fallback threshold would otherwise hide. The
    * k-bounded typed aggregator (`TopKAggregator`) is not a collect and
    * needs no entry.
    */
  private val boundedCollects: Map[String, String] = {
    val buckets = s"BucketedOrder bucket table: <= ${graft.plans.BucketedOrder.DefaultBuckets} " +
      "(bucket, count, sums) structs per partition key"
    Seq("q_agg_skew_audit", "q_corpus_classifier_eval", "q_corpus_curriculum",
      "q_corpus_selection_curve", "q_flag_qte", "q_flag_winsor", "q_sim_outliers",
      "q_text_pack").map(_ -> buckets).toMap ++ Map(
      "q_text_vocab" -> "encode: one document's (pos, id) tokens per group — document length, not corpus size",
      "q_text_boilerplate" -> "one document's kept sentences per group — ceil(tokens / BoilerplateUnit)")
  }

  /** Queries with an `array_min` over an `array_transform`, each with
    * why it is not the interpreted per-permutation MinHash fold that
    * [[graft.functions.MinHashBands]] replaced.
    */
  private val minOverTransform: Map[String, String] = Map(
    "q_text_fingerprint" -> "one char-8-gram minimum per document, not a per-permutation fold")

  /** The registry queries whose plans band documents for LSH.
    * `q_dedup_clusters`, `q_dedup_keep_best` and `q_corpus_funnel` band
    * through `minhashPairs` too, but while their plan is built:
    * `IdentityResolver.components` collects the pair edges into a local
    * union-find, so their plans read a local relation and the
    * `q_dedup_minhash_pairs` entry covers their banding. The pair-forming
    * entries (`q_dedup_minhash_pairs`, `q_dedup_edit`) form their
    * candidates in `Dedup.bandPairs`' one aggregate; the gate after the
    * registry walk holds them to it.
    */
  private val bandingQueries: Set[String] = Set(
    "q_dedup_minhash", "q_dedup_minhash_pairs", "q_dedup_incremental", "q_dedup_edit",
    "q_dedup_lsh_audit", "q_dedup_lsh_gate")

  /** A registered query's optimized plan, walked once: its
    * partition-less windows, its `collect_*` aggregate functions, its
    * `array_min(array_transform(…))` count and whether it runs
    * `minhash_bands`. The last two also read the plans of the persisted
    * frames it scans, where the MinHash bands are computed.
    */
  private case class Walk(name: String, windows: Int, collects: Seq[String],
      minOverTransform: Int, bands: Boolean)

  /** Every expression of a logical plan, its subqueries and the plans
    * of the persisted frames it reads.
    */
  private def allExpressions(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    p.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        allExpressions(r.cacheBuilder.logicalPlan)
      case n => n.expressions
    }.flatten

  /** One pass over every registered query's optimized plan. Streaming
    * twins are skipped: they execute micro-batches on build (seconds
    * each, gated by their own StreamingSpec plan assertions), and their
    * batch-side plans are covered by the batch query they twin.
    */
  private lazy val registryWalk: Seq[Walk] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayMin, ArrayTransform}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) =>
        name.startsWith("q_stream_") || name == "q_pipe_stream_merge"
      }
      .map { case (name, fn) =>
        val p = fn(spark, sf).queryExecution.optimizedPlan
        val windows = p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.size
        val collects = p.collectWithSubqueries { case n => n.expressions }.flatten
          .flatMap(_.collect {
            case _: CollectList => "collect_list"
            case _: CollectSet => "collect_set"
          })
        val all = allExpressions(p)
        val folds = all.map(_.collect { case ArrayMin(_: ArrayTransform) => 1 }.size).sum
        val bands = all.exists(_.exists(_.isInstanceOf[graft.functions.MinHashBands]))
        Walk(name, windows, collects, folds, bands)
      }
  }

  test("registry-wide: no partition-less window over unbounded input") {
    // `OVER (ORDER BY …)` with no PARTITION BY plans a single task
    // sorting the entire input — correct at test SF, the job at 100 TB.
    // The exact-order-stat family (pack, winsor, QTE, classifier AUC,
    // selection curve) decomposes via BucketedOrder instead; this gate
    // keeps the pattern from re-entering anywhere in the registry.
    val offenders = registryWalk.collect {
      case w if w.windows > 0 && !boundedWindowJustification.contains(w.name) =>
        s"${w.name} (${w.windows} partition-less window(s))"
    }
    assert(offenders.isEmpty,
      "partition-less windows over potentially unbounded input — use " +
        "graft.plans.BucketedOrder or add a justified bound:\n  " +
        offenders.mkString("\n  "))
  }

  test("registry-wide: collect_* aggregates only where a per-group bound is listed") {
    val offenders = registryWalk.collect {
      case w if w.collects.nonEmpty && !boundedCollects.contains(w.name) =>
        s"${w.name} (${w.collects.mkString(", ")})"
    }
    assert(offenders.isEmpty,
      "collect_* buffers a whole group on one executor — use a bounded " +
        "aggregator or list the query with its per-group bound:\n  " +
        offenders.mkString("\n  "))
    // a stale entry would let a new unbounded collect into that query unseen
    val stale = boundedCollects.keySet -- registryWalk.collect { case w if w.collects.nonEmpty => w.name }
    assert(stale.isEmpty, s"bounded-collect entries with no collect_* left: $stale")
  }

  test("registry-wide: MinHash banding runs the native kernel, never the interpreted fold") {
    val folds = registryWalk.collect {
      case w if w.minOverTransform > 0 && !minOverTransform.contains(w.name) =>
        s"${w.name} (${w.minOverTransform} array_min over array_transform)"
    }
    assert(folds.isEmpty,
      "an interpreted per-permutation fold is back — use minhash_bands, or list the " +
        "query with why its minimum is not one:\n  " + folds.mkString("\n  "))
    val staleFolds = minOverTransform.keySet -- registryWalk.collect {
      case w if w.minOverTransform > 0 => w.name
    }
    assert(staleFolds.isEmpty, s"array_min entries with no array_min(array_transform) left: $staleFolds")
    val banding = registryWalk.collect { case w if w.bands => w.name }.toSet
    assert(banding == bandingQueries,
      s"banding queries without minhash_bands: ${bandingQueries -- banding}; " +
        s"unlisted queries with it: ${banding -- bandingQueries}")
  }
  test("MinHash pairs form in one (band, band_hash) aggregate; the cluster chain scans documents once") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // every node of the plan, its subqueries and the persisted frames it reads
    def nodes(p: LogicalPlan): Seq[LogicalPlan] = p.collectWithSubqueries {
      case r: InMemoryRelation => r +: nodes(r.cacheBuilder.logicalPlan)
      case n => Seq(n)
    }.flatten
    val bandKey = Set("band", "band_hash")
    def optimized(q: String) = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
    for (q <- Seq("q_dedup_minhash_pairs", "q_dedup_edit")) {
      val ns = nodes(optimized(q))
      val bandJoins = ns.collect {
        case j: Join if j.condition.exists(_.references.exists(a => bandKey(a.name))) => j
      }
      assert(bandJoins.isEmpty, s"$q joins on the band key:\n${bandJoins.mkString("\n")}")
      val bandAggs = ns.collect {
        case a: Aggregate if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet == bandKey => a
      }
      assert(bandAggs.size == 1, s"$q has ${bandAggs.size} (band, band_hash) aggregates, want 1")
    }
    for (q <- Seq("q_dedup_keep_best", "q_corpus_funnel")) {
      val scans = nodes(optimized(q)).collect {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _)
            if h.location.rootPaths.exists(_.getName == "documents.parquet") => h
      }
      assert(scans.size == 1, s"$q scans documents ${scans.size} times, want 1")
    }
  }
}
