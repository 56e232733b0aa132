package graft

/** Plan-inspection utility: prints the formatted physical plan for the
  * named queries (or a default set of scale-critical ones). Used to
  * verify pushdown/pruning/broadcast decisions survive — the "is this
  * the plan you'd want at 100 TB" loop.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_filt_events", "q_join_multi", "q_join_bcast", "q_sort_top100",
        "q_agg_q1", "q_dedup_minhash_pairs", "q_sim_topk")
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
