package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-invariance gate: the float-discipline claim ("same bits on
  * 32 local threads or 1000 executors") made executable. Each query
  * runs under different shuffle parallelism; results must be
  * IDENTICAL — not approximately equal — because every float in the
  * engine is either a single correctly-rounded expression over exact
  * integers/decimals or a fold in an explicitly fixed order. A
  * regression to order-dependent double aggregation fails here
  * deterministically (different partition counts reorder reduction).
  */
class DeterminismSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  private val sf = "/root/testdata/sf0.001"

  private def runAt(parts: Int, q: String): Seq[String] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try SparkEntry.queries(q)(spark, sf).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    finally Tables.releaseCaches(spark)
  }

  test("float-bearing queries are bit-identical across shuffle parallelism") {
    // the queries whose floats come from aggregates (the partition-
    // sensitive kind), across the engine's families
    for (q <- Seq("q_corpus_lm_score", "q_text_search", "q_flag_experiment",
        "q_agg_q1", "q_text_mix", "q_prod_correlation", "q_sim_project_search",
        "q_text_mix_topk",
        // round-9 estimator/readout additions: bootstrap replicate
        // means, winsor moments, QTE order stats, AUC ranks, chi-square
        // folds, funnel latency stats — all float-bearing aggregates
        "q_flag_bootstrap", "q_flag_winsor", "q_flag_qte", "q_flag_srm",
        "q_corpus_classifier_eval", "q_text_shard_audit", "q_prod_funnel_time",
        "q_dedup_edit",
        // round-10: the BucketedOrder decomposition must place every row
        // identically regardless of parallelism (bucket offsets + within-
        // bucket ranks), and the rerank/frame floats are aggregate-fed
        "q_corpus_selection_curve", "q_text_pack", "q_win_frame",
        "q_sim_rerank", "q_flag_power", "q_win_nth",
        // round-11: cross-modal cosine scores (dot/norm folds) and the
        // trends ratio (count-fed division) are aggregate-fed floats
        "q_media_search", "q_prod_trends", "q_prod_funnel_daily", "q_sim_mips",
        "q_stream_trends",
        // round-12: breakdown-conversion / containment divides, MRL
        // two-stage cosine folds, and the outlier BucketedOrder ranks
        "q_prod_funnel_breakdown", "q_sim_matryoshka", "q_sim_outliers",
        "q_corpus_decontam_attr", "q_prod_paths_markov",
        "q_prod_trends_compare", "q_sim_ivf_incremental", "q_media_vad",
        "q_sim_hard_negatives", "q_agg_skew_audit", "q_prod_funnel_cohort",
        "q_prod_retention_cohort",
        // round-13: the drift monitor's mean-shift divide (integer-fed)
        // and the funnel-cohort-style conversion divide in trends_groups'
        // sibling sampled form are aggregate-fed
        "q_sim_drift", "q_prod_trends_sampled", "q_prod_bounce",
        // round-13b: the binned breakdown's global-extent bin arithmetic
        // and decimal sums, and the k-NN graph's cosine-ranked windows
        "q_prod_trends_binned", "q_sim_knn_graph",
        // curriculum: the BucketedOrder global rank must place every
        // row identically regardless of parallelism
        "q_corpus_curriculum",
        // graph clusters: CC labels over float-admitted edges must not
        // depend on the edge emission order
        "q_sim_graph_clusters",
        // range search: per-pair cosine floats (dot/norm folds)
        "q_sim_range_search")) {
      val a = runAt(2, q)
      val b = runAt(7, q)
      assert(a.nonEmpty, s"$q returned nothing")
      assert(a == b, s"$q is partition-dependent (first diff: ${
        a.zip(b).find { case (x, y) => x != y }.orElse(Some((a.length, b.length)))}")
    }
  }

  test("sketch-twin queries are partition-invariant (merge order must not leak)") {
    // the estimate-twin family: bloom (bitwise-OR merge), CMS (counter
    // sums), HLL (register max), GK quantile summaries (order-SENSITIVE
    // internally — the ±0.05-quantile gate must absorb it), plus the
    // vocab election whose rank-V cut depends on a total order
    // q_text_bpe and q_corpus_token_budget join for the same reason as
    // the vocab election: their keeps depend on a rank cut (dict cap /
    // budget exhaustion) that must come from a total order, not
    // partition luck
    // q_corpus_dsir (priority-sampling threshold = a rank-k cut) and
    // q_corpus_ccnet (per-language tercile boundary) are rank cuts too
    for (q <- Seq("q_agg_approx", "q_agg_approx_quantiles", "q_agg_sketch_rollup",
        "q_corpus_decontam_bloom", "q_text_ngrams_cms", "q_text_vocab",
        "q_text_bpe", "q_corpus_token_budget", "q_corpus_dsir", "q_corpus_ccnet",
        "q_agg_theta_overlap", "q_corpus_strat_shards")) {
      val a = runAt(2, q)
      val b = runAt(7, q)
      assert(a.nonEmpty, s"$q returned nothing")
      assert(a == b, s"$q is partition-dependent (first diff: ${
        a.zip(b).find { case (x, y) => x != y }.orElse(Some((a.length, b.length)))}")
    }
  }
}
