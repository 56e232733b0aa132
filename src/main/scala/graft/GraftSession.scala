package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is configured. Every main and every spec
  * builds its session here, so the specs run under the settings the
  * registry is timed (`Bench`) and oracle-checked (`Verify`) under. A
  * caller that needs a different runtime setting sets it on the
  * returned session (`spark.conf.set`).
  */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local session on `cores` threads with one shuffle partition per
    * core. `maxFailures` is the task attempt limit; local mode reads it
    * only from the master string (`local[N, F]`) and defaults to 1, so
    * a caller that injects task failures must raise it here.
    */
  def apply(cores: Int, maxFailures: Int = 1): SparkSession =
    SparkSession.builder()
      .master(if (maxFailures == 1) s"local[$cores]" else s"local[$cores, $maxFailures]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // The 251-query registry plans ~3,300 wholestage-codegen units
      // per pass (measured r14; per-query counts are `codegen_compiles`
      // in the bench artifact). A cache
      // smaller than the working set is WORSE than useless under the
      // bench's cyclic access pattern: LRU over a 3,300-unit cycle with
      // 2,000 entries evicts every entry before its reuse — measured
      // 3,466/3,244/3,281 compiles across three passes, i.e. a ~0% hit
      // rate and tens of seconds of Janino per pass that CPU contention
      // amplifies (the r13 q_ingest_browser bimodality). 10k entries
      // covers the registry with headroom; class memory is trivial next
      // to the 128 GiB heap.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark 4's codegen cache key is (context classloader weakref,
      // source), and STREAMING queries execute under a per-query
      // artifact-isolation classloader — so every MemoryStream drive
      // recompiled its entire source set per pass (measured r15:
      // 20-29 identical-source Janino compiles per stream query per
      // pass, ~137/pass across the 7 drive-loop queries; CodegenDiff
      // q_stream_anomaly build2: 20 -> 0 with isolation off). This
      // session adds no per-session artifacts, so isolation buys
      // nothing here; a multi-tenant deployment that calls addArtifact
      // should leave the default and accept per-query recompiles.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // ObjectHashAggregate falls back to SORT-based aggregation once
      // its hash map holds this many distinct keys (default 128 — sized
      // for unbounded collect_list buffers). Every typed aggregator in
      // this engine is k-BOUNDED (TopKAggregator: O(k) per group by
      // construction), so the fallback only re-
      // introduces the full-input sort the aggregate exists to avoid —
      // at the sf10 probe, q_sim_project_search's 4 000 query groups
      // tripped the 128-key default and the "bounded" shortlist
      // degraded into an 800M-row sort (heap OOM). 64k keys × k-capped
      // buffers is ~MBs per task. Production sizes this the same way
      // (keys-per-task × bounded buffer, not the collect_list default).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
}
