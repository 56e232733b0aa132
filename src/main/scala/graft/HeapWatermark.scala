package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
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
    * here instead of pressuring the heap. The tasks size and ship the
    * compact internal rows ([[rowBytes]]); the driver converts them as
    * `collect()` does.
    */
  def collectMetered(site: String, df: DataFrame, budget: Long = Budget): Array[Row] = {
    val rows = collectWithin(site, df.queryExecution.toRdd.map(_.copy()),
      rowBytes(df.schema), budget)
    require(rows.isDefined,
      s"$site: driver collect exceeds its budget (measured rows against " +
        s"${budget >> 20} MiB) — this materialization must become distributed " +
        "at this scale")
    val toRow = deserializer(df.schema)
    rows.get.map(toRow)
  }

  /** The internal row → external [[Row]] conversion `collect()` applies. */
  private[graft] def deserializer(schema: StructType): InternalRow => Row =
    ExpressionEncoder(schema).resolveAndBind().createDeserializer()

  /** [[sizeOf]] of the external [[Row]] an internal row of `schema`
    * becomes under [[deserializer]], read off the internal row by
    * schema, with no conversion: strings count their UTF-16 length
    * from the UTF-8 bytes, and a timestamp counts as the
    * `java.sql.Timestamp` or `Instant` the session's java8 API setting
    * makes of it.
    */
  private[graft] def rowBytes(schema: StructType): InternalRow => Long = {
    val tsBytes = if (SQLConf.get.datetimeJava8ApiEnabled) 8L else 12L
    val fields = schema.fields.map(f => valueBytes(f.dataType, tsBytes))
    (r: InternalRow) => structBytes(fields, r)
  }

  /** Bytes of a non-null value at an ordinal of a row or array. */
  private type ValueBytes = (SpecializedGetters, Int) => Long

  private def structBytes(fields: Array[ValueBytes], r: InternalRow): Long = {
    var n = 16L
    var i = 0
    while (i < fields.length) {
      n += (if (r.isNullAt(i)) 4L else fields(i)(r, i))
      i += 1
    }
    n
  }

  private def elementBytes(a: ArrayData, e: ValueBytes): Long = {
    var n = 0L
    var i = 0
    while (i < a.numElements()) {
      n += (if (a.isNullAt(i)) 4L else e(a, i))
      i += 1
    }
    n
  }

  private def valueBytes(dt: DataType, tsBytes: Long): ValueBytes = dt match {
    case _: StringType | _: CharType | _: VarcharType =>
      (g, i) => 40L + 2L * utf16Length(g.getUTF8String(i))
    case BinaryType => (g, i) => 16L + g.getBinary(i).length
    case IntegerType | FloatType => (_, _) => 4L
    case BooleanType | ByteType => (_, _) => 1L
    case TimestampType => (_, _) => tsBytes
    case ArrayType(et, _) =>
      val e = valueBytes(et, tsBytes)
      (g, i) => 16L + elementBytes(g.getArray(i), e)
    case MapType(kt, vt, _) =>
      val (k, v) = (valueBytes(kt, tsBytes), valueBytes(vt, tsBytes))
      (g, i) => {
        val m = g.getMap(i)
        16L + elementBytes(m.keyArray(), k) + elementBytes(m.valueArray(), v)
      }
    case st: StructType =>
      val fields = st.fields.map(f => valueBytes(f.dataType, tsBytes))
      (g, i) => structBytes(fields, g.getStruct(i, fields.length))
    case udt: UserDefinedType[_] => (g, i) => sizeOf(udt.deserialize(g.get(i, udt.sqlType)))
    case _ => (_, _) => 8L // long, double, short, date, decimal, interval, variant
  }

  /** UTF-16 length of valid UTF-8: one unit per code point, two for
    * the 4-byte (supplementary-plane) ones.
    */
  private def utf16Length(s: UTF8String): Int = {
    var units = 0
    var i = 0
    while (i < s.numBytes()) {
      val w = UTF8String.numBytesForFirstByte(s.getByte(i))
      units += (if (w == 4) 2 else 1)
      i += w
    }
    units
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
