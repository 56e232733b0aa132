package graft

import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** Per-query micro-batch meter, fed by the harness drive loops (the
  * MemoryStream loop in `StreamQueries`, `IdentityMerge.replayChunked`).
  * Bench resets it before each query and writes one [[snapshot]] after
  * into the artifact's `stream_data`, `stream_phases` and `stream_state`:
  *   - phase seconds: "data" wraps exactly the micro-batch execution
  *     (`processAllAvailable` / `processBatch`; wall − data is the
  *     MemoryStream/checkpoint floor, and `data_budgets` gate on it), plus
  *     `processBatch`'s resolve/components/plan/commit laps;
  *   - the batch count: each trigger that executed a batch, once by
  *     (run, batchId), plus each directly driven [[trigger]];
  *   - the engine's `durationMs` sums and state-operator times, in ms;
  *   - the state rows/bytes (and RocksDB SST bytes) high-waters across
  *     triggers — bounded when watermark/TTL eviction works.
  */
object StreamMeter {

  /** What the current query recorded since the last [[reset]]. */
  final case class Snapshot(seconds: Map[String, Double], batches: Long,
      ms: Map[String, Long], high: Map[String, Long])

  private val seconds = mutable.Map.empty[String, Double]
  private val ms = mutable.Map.empty[String, Long]
  private val high = mutable.Map.empty[String, Long]
  /** Last folded batchId per query run. */
  private val folded = mutable.Map.empty[java.util.UUID, Long]
  private var batches = 0L

  private def add(phase: String, s: Double): Unit = synchronized {
    seconds(phase) = seconds.getOrElse(phase, 0.0) + s
  }

  /** Run `f`, booking its seconds under `phase`. */
  def time[A](phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(phase, (System.nanoTime() - t0) / 1e9)
  }

  /** A lap clock: each call books the seconds since the previous call
    * (or since the clock was made) under the named phase.
    */
  def laps(): String => Unit = {
    var t0 = System.nanoTime()
    phase => { val t1 = System.nanoTime(); add(phase, (t1 - t0) / 1e9); t0 = t1 }
  }

  /** One batch driven without a streaming query (a direct
    * `processBatch`): timed as "data" and counted.
    */
  def trigger[A](f: => A): A = {
    val r = time("data")(f)
    synchronized { batches += 1 }
    r
  }

  /** Fold every trigger of `q` that executed a batch and is not folded
    * yet. Idle triggers (no batch ran: no `addBatch` duration) are skipped.
    */
  def record(q: StreamingQuery): Unit = synchronized {
    def sum(k: String, v: Long): Unit = ms(k) = ms.getOrElse(k, 0L) + v
    def hi(k: String, v: Long): Unit = high(k) = math.max(high.getOrElse(k, 0L), v)
    q.recentProgress.foreach { p =>
      if (p.durationMs.containsKey("addBatch") &&
          p.batchId > folded.getOrElse(p.runId, -1L)) {
        folded(p.runId) = p.batchId
        batches += 1
        p.durationMs.forEach((k, v) => sum(k, v.longValue))
        val ops = p.stateOperators.toSeq
        if (ops.nonEmpty) {
          ops.foreach { op =>
            sum("state_commitTime", op.commitTimeMs)
            sum("state_allUpdatesTime", op.allUpdatesTimeMs)
            sum("state_allRemovalsTime", op.allRemovalsTimeMs)
          }
          hi("rows", ops.map(_.numRowsTotal).sum)
          hi("bytes", ops.map(_.memoryUsedBytes).sum)
          val sst = ops.map(o => Option(o.customMetrics.get("rocksdbSstFileSize"))
            .map(_.longValue).getOrElse(0L)).sum
          if (sst > 0) hi("sst_bytes", sst)
        }
      }
    }
  }

  def reset(): Unit = synchronized {
    seconds.clear(); ms.clear(); high.clear(); folded.clear(); batches = 0L
  }

  def snapshot: Snapshot = synchronized {
    Snapshot(seconds.toMap, batches, ms.toMap, high.toMap)
  }
}
