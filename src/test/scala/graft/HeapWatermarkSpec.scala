package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** The bounded driver collect behind every budget-checked collect:
  * [[HeapWatermark.collectWithin]] returns the rows exactly when the
  * summed model bytes fit the budget, records that sum, decides in one
  * job, and never ships an over-share partition's rows to decide.
  */
class HeapWatermarkSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  /** A site name no other collect in the JVM records under. */
  private def site(what: String): String = s"spec.$what-${System.nanoTime()}"

  /** Each row's model bytes are its value. */
  private val valueBytes = (x: Long) => x

  test("the budget is inclusive: a sum equal to it comes back and is recorded; one byte more is refused") {
    val rdd = spark.sparkContext.parallelize(1L to 100L, 4)
    val total = (1L to 100L).sum
    val fits = site("fits")
    assert(HeapWatermark.collectWithin(fits, rdd, valueBytes, total).map(_.toSeq.sorted) ==
      Some(1L to 100L))
    assert(HeapWatermark.snapshot(fits) == total)
    // every partition fits alone; only the TOTAL is over by one byte
    val over = site("over")
    assert(HeapWatermark.collectWithin(over, rdd, valueBytes, total - 1).isEmpty)
    assert(!HeapWatermark.snapshot.contains(over))

    // the failing form: 100 one-long rows of measured sizeOf 24 B each
    val df = spark.range(0, 100, 1, 4).toDF("id")
    val rowBytes = 100L * HeapWatermark.sizeOf(df.head())
    assert(HeapWatermark.collectMetered(site("metered"), df, rowBytes).length == 100)
    val refused = site("metered-over")
    val e = intercept[IllegalArgumentException](
      HeapWatermark.collectMetered(refused, df, rowBytes - 1))
    assert(e.getMessage.contains(s"$refused: driver collect exceeds its budget"))
  }

  test("skew: a partition over its share with a total that fits still returns every row") {
    // partition 0 holds 90 of 93 bytes against a share of 100 / 4 = 25
    val rdd = spark.sparkContext
      .parallelize(Seq(Seq.fill(90)(1L), Seq(1L), Seq(1L), Seq(1L)), 4)
      .flatMap(identity)
    val skew = site("skew")
    var rows: Option[Array[Long]] = None
    val jobs = jobsDuring { rows = HeapWatermark.collectWithin(skew, rdd, valueBytes, 100L) }
    assert(rows.map(_.length) == Some(93))
    assert(HeapWatermark.snapshot(skew) == 93L)
    assert(jobs == 2) // the deciding job, then the plain second collect
  }

  test("the common case decides and delivers in exactly one Spark job") {
    val rdd = spark.sparkContext.parallelize(1L to 1000L, 4)
    var rows: Option[Array[Long]] = None
    val jobs = jobsDuring {
      rows = HeapWatermark.collectWithin(site("one-job"), rdd, valueBytes, HeapWatermark.Budget)
    }
    assert(rows.map(_.length) == Some(1000))
    assert(jobs == 1)
  }

  test("an over-share partition ships only its byte sum, not its rows") {
    // partition 0: 200 distinct strings of 1000 chars (~200 KB
    // serialized; distinct, so serialization cannot share one copy)
    val big = (0 until 200).map(i => f"$i%04d" + "x" * 996)
    val rdd = spark.sparkContext
      .parallelize(Seq(big, Seq("a"), Seq("b"), Seq("c")), 4)
      .flatMap(identity)
    val rowBytes = big.map(_.length.toLong).sum
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val resultSizes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    var rows: Option[Array[String]] = Some(Array.empty)
    listenDuring(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (probeTag(e).contains("probe")) e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        resultSizes.add(e.stageId -> e.taskMetrics.resultSize)
    }) {
      // over the total too: the deciding job is the only job
      rows = HeapWatermark.collectWithin(site("sum-only"), rdd,
        (s: String) => s.length.toLong, rowBytes)
    }
    assert(rows.map(_.length).isEmpty)
    import scala.jdk.CollectionConverters._
    val sizes = resultSizes.asScala.collect { case (st, n) if stages.contains(st) => n }.toSeq
    assert(sizes.size == 4)
    assert(sizes.max < rowBytes / 20, s"task result sizes $sizes against $rowBytes B of rows")
  }
  test("collectMetered sizes internal rows by schema exactly as sizeOf sizes the collected Row") {
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(StructField("k", StringType), StructField("ts", TimestampType),
      StructField("xs", ArrayType(IntegerType))))
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("i", IntegerType), StructField("l", LongType), StructField("sh", ShortType),
      StructField("b", BooleanType), StructField("f", FloatType), StructField("d", DoubleType),
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("dec", DecimalType(20, 4)),
      StructField("arr", ArrayType(StringType)), StructField("bins", ArrayType(BinaryType)),
      StructField("m", MapType(StringType, ArrayType(LongType))),
      StructField("st", inner), StructField("sts", ArrayType(inner))))
    val ts = java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")
    // supplementary-plane characters: 4 UTF-8 bytes, 2 UTF-16 units
    val grin = new String(Character.toChars(0x1F600))
    val clef = new String(Character.toChars(0x1D11E))
    val full = org.apache.spark.sql.Row(
      s"ascii, é, 中文 and $grin", Array[Byte](1, 2, 3), 7, 8L, 9.toShort, true, 1.5f, 2.5,
      ts, java.sql.Date.valueOf("2024-03-01"), new java.math.BigDecimal("12345.6789"),
      Seq("a", null, s"$clef clef"), Seq(Array[Byte](4), null),
      Map("k1" -> Seq(1L, 2L), "k2" -> null, grin -> Seq.empty[Long]),
      org.apache.spark.sql.Row("x", ts, Seq(1, null, 3)),
      Seq(org.apache.spark.sql.Row(null, null, null), null))
    val nulls = org.apache.spark.sql.Row.fromSeq(Seq.fill(schema.length)(null))
    val empties = org.apache.spark.sql.Row("", Array.emptyByteArray, 0, 0L, 0.toShort, false,
      0f, 0.0, ts, java.sql.Date.valueOf("1970-01-01"), java.math.BigDecimal.ZERO,
      Seq.empty, Seq.empty, Map.empty, org.apache.spark.sql.Row("", null, Seq.empty), Seq.empty)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(full, nulls, empties), 2), schema)
    val internal = df.queryExecution.toRdd.map(_.copy()).collect()
    val toRow = HeapWatermark.deserializer(schema)
    val model = HeapWatermark.rowBytes(schema)
    assert(internal.length == 3)
    internal.foreach(r => assert(model(r) == HeapWatermark.sizeOf(toRow(r)), s"row ${toRow(r)}"))
    // the non-BMP characters count two UTF-16 units each, as String.length does
    assert(toRow(internal.head).getString(0).length == 19)
    // and the metered collect records the same sum the Rows measure
    val metered = site("internal")
    val rows = HeapWatermark.collectMetered(metered, df)
    assert(HeapWatermark.snapshot(metered) == rows.map(HeapWatermark.sizeOf).sum)
  }
}
