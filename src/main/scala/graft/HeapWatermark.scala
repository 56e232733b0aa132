package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.StructType
import scala.reflect.ClassTag

/** The driver-heap contract: one budget, one bounded collect, one
  * registry of what each site retained.
  *
  * Every driver collect that is checked against the budget goes through
  * [[collectWithin]]. The caller names a per-row byte model; each task
  * sums its partition's model bytes and ships its rows only when they
  * fit its share of the budget (budget ÷ partitions), otherwise only the
  * sum. The driver returns the rows only when the TOTAL fits, so it
  * never holds more than [[Budget]] to learn that a dimension does not
  * fit. Sites that can run distributed degrade on `None`
  * (identity-merge dimensions, the resolver's local path); the harness
  * collects ([[collectMetered]]) fail loudly instead.
  *
  * The registry keeps, per site, the maximum model bytes a collect
  * retained (`record`/`recordRows` for sites bounded by their own
  * shape: point reads, fixed-size aggregates). Bench emits the per-site
  * maxima as `heap_watermarks` and the JVM heap pool peaks per pass;
  * scripts/sf1_report.py asserts each site under [[Budget]] on the 10×
  * probe.
  */
object HeapWatermark {

  /** Driver-heap budget of one bounded collect. The bound is on BYTES,
    * not rows: 5M edges of 8-char ids and 5M edges of 200-char ids are
    * very different driver loads.
    */
  val Budget: Long = 512L * 1024 * 1024

  private val peaks =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def record(site: String, bytes: Long): Unit =
    { peaks.merge(site, bytes, (a, b) => math.max(a, b)); () }

  /** Measured retained size of a collected driver-side value tree —
    * true string/array/map contents, not a pre-collect estimate
    * (object-header constants are approximations; contents are exact).
    */
  def sizeOf(v: Any): Long = v match {
    case null => 4L
    case s: String => 40L + 2L * s.length
    case b: Array[Byte] => 16L + b.length
    case a: Array[_] => 16L + a.foldLeft(0L)(_ + sizeOf(_))
    case seq: scala.collection.Seq[_] => 16L + seq.foldLeft(0L)(_ + sizeOf(_))
    case m: scala.collection.Map[_, _] =>
      16L + m.foldLeft(0L) { case (acc, (k, x)) => acc + sizeOf(k) + sizeOf(x) }
    case r: Row => 16L + r.toSeq.foldLeft(0L)(_ + sizeOf(_))
    case o: Option[_] => 16L + o.foldLeft(0L)(_ + sizeOf(_))
    case p: Product => 16L + p.productIterator.foldLeft(0L)(_ + sizeOf(_))
    case _: java.lang.Integer | _: java.lang.Float => 4L
    case _: java.lang.Boolean | _: java.lang.Byte => 1L
    case t: java.sql.Timestamp => { val _ = t; 12L }
    case _ => 8L // long / double / other fixed-width scalars
  }

  /** Meter rows a site already collected under its own bound (point
    * reads, small fixed-size aggregates):
    * records the MEASURED retained bytes and returns the rows unchanged
    * — wrap-in-place, `recordRows(site, df.collect())`.
    */
  def recordRows[T](site: String, rows: Array[T]): Array[T] = {
    record(site, rows.foldLeft(0L)(_ + sizeOf(_)))
    rows
  }

  /** Collect `rdd` to the driver iff the sum of `bytesOf` over its rows
    * fits `budget`; record that sum under `site` when it does. One job
    * decides and (when every partition fits its share) delivers; a
    * total that fits with some partition over its share costs one plain
    * second collect.
    */
  def collectWithin[T: ClassTag](site: String, rdd: RDD[T], bytesOf: T => Long,
      budget: Long = Budget): Option[Array[T]] = {
    val share = budget / math.max(1, rdd.getNumPartitions)
    val (total, shipped) = sumAndShip(rdd, bytesOf, share)
    if (total > budget) None
    else {
      record(site, total)
      Some(shipped.getOrElse(rdd.collect()))
    }
  }

  /** Total model bytes of `rdd`, and its rows when no partition exceeds
    * `share`. Each task drops its rows as soon as they pass the share.
    */
  private def sumAndShip[T: ClassTag](rdd: RDD[T], bytesOf: T => Long, share: Long)
    : (Long, Option[Array[T]]) = {
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
      var kept = Option(Array.newBuilder[T])
      var bytes = 0L
      it.foreach { t =>
        bytes += bytesOf(t)
        if (bytes > share) kept = None
        kept.foreach(_ += t)
      }
      (bytes, kept.map(_.result()))
    })
    (parts.iterator.map(_._1).sum,
      if (parts.forall(_._2.isDefined)) Some(parts.flatMap(_._2.get)) else None)
  }

  /** [[collectWithin]] for a DataFrame whose collect must fit: the
    * rows' measured [[sizeOf]] decides, and an over-budget result fails
    * here instead of pressuring the heap. The tasks ship the compact
    * internal rows; the driver converts them as `collect()` does.
    */
  def collectMetered(site: String, df: DataFrame, budget: Long = Budget): Array[Row] = {
    val rows = collectWithin(site, df.queryExecution.toRdd.map(_.copy()),
      new RowBytes(df.schema), budget)
    require(rows.isDefined,
      s"$site: driver collect exceeds its budget (measured rows against " +
        s"${budget >> 20} MiB) — this materialization must become distributed " +
        "at this scale")
    val toRow = RowBytes.deserializer(df.schema)
    rows.get.map(toRow)
  }

  /** [[sizeOf]] of an internal row as the external [[Row]] the driver
    * will hold; one deserializer per task.
    */
  private final class RowBytes(schema: StructType) extends (InternalRow => Long)
      with Serializable {
    @transient private lazy val toRow = RowBytes.deserializer(schema)
    def apply(r: InternalRow): Long = sizeOf(toRow(r))
  }

  private object RowBytes {
    def deserializer(schema: StructType): InternalRow => Row =
      ExpressionEncoder(schema).resolveAndBind().createDeserializer()
  }

  def reset(): Unit = peaks.clear()

  def snapshot: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    peaks.asScala.map { case (k, v) => k -> v.longValue() }.toMap
  }

  /** Max committed-use peak across the JVM's heap memory pools since
    * the last [[resetJvmPeaks]] — the whole-process watermark (in
    * local mode this includes execution memory, so it bounds the run,
    * while the per-site records above isolate the driver collects).
    */
  def jvmHeapPeakBytes: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .foldLeft(0L)(_ + _)
  }

  def resetJvmPeaks(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())
  }
}
