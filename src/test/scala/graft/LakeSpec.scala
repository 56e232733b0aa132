package graft

import graft.ingest.Normalizer
import graft.ingest.Normalizer.IngestContext
import graft.sources.{Lake, Snapshots}
import graft.streaming.Streaming
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LakeSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def canonical(bodies: String*) = {
    import spark.implicits._
    Normalizer.ingest(bodies.toDF("body"), col("body"),
      IngestContext(now = to_timestamp(lit("2024-03-05 10:00:00"))))
      .select("uuid", "team_id", "source", "event", "distinct_id", "timestamp",
        "created_at", "properties", "api_key")
  }

  test("variant at-rest layout: probes agree with the string layout; malformed JSON survives as NULL variant") {
    import org.apache.spark.sql.types.VariantType
    val sdir = Files.createTempDirectory("lake_s").toString
    val vdir = Files.createTempDirectory("lake_v").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z","properties":{"k":7,"s":"x"}}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z","properties":{"k":9}}""")
    // the string layout is the canonical frame as ingested; the landed
    // layout is Lake.atRest — the comparison needs one of each
    Snapshots.commit(spark, sdir, events.dropDuplicates("uuid"))
    Snapshots.commit(spark, vdir, Lake.atRest(events.dropDuplicates("uuid")))
    val s = Snapshots.read(spark, sdir)
    val v = Snapshots.read(spark, vdir)
    // the payload column landed as a real parquet VariantType
    assert(v.schema("properties").dataType.isInstanceOf[VariantType],
      s"expected VariantType, got ${v.schema("properties").dataType}")
    // one probe spelling, either layout, same answers
    def probed(df: org.apache.spark.sql.DataFrame) = df.select(
        col("distinct_id"),
        Lake.probeJson(df, "properties", "$.k", "long").as("k"),
        Lake.probeJson(df, "properties", "$.s", "string").as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(probed(s) == probed(v))
    assert(probed(v) == Set(("d1", 7L, Some("x")), ("d2", 9L, None)))
    assert(v.filter(to_date(col("timestamp")) === "2024-03-01").count() == 1)
    // a malformed payload survives ingest as a NULL variant row
    val broken = events.limit(1)
      .withColumn("properties", lit("{not json"))
      .withColumn("uuid", lit("u-broken"))
    Snapshots.commit(spark, vdir, Lake.atRest(broken.dropDuplicates("uuid")))
    val vb = Snapshots.read(spark, vdir)
    assert(vb.count() == 3)
    assert(vb.filter(col("properties").isNull).count() == 1)
  }

  test("file-source stream lands in the lake: eventStream → streamCommitWriter") {
    val src = Files.createTempDirectory("lakesrc").toString
    val lake = Files.createTempDirectory("lakedst").toString
    val ckpt = Files.createTempDirectory("lakeck").toString
    val events = canonical(
      """{"event":"s1","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"s2","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}""")
    // the files an upstream collector would drop (createTempDirectory
    // made the dir, so the JSON write must overwrite it)
    events.write.mode("overwrite").json(src)
    def land(): Unit = Snapshots.streamCommitWriter(
      Lake.atRest(Streaming.eventStream(spark, src)), lake, ckpt)
      .start().awaitTermination(60000)
    land()
    val back = Snapshots.read(spark, lake)
    assert(back.count() == 2)
    assert(back.select("event").collect().map(_.getString(0)).toSet == Set("s1", "s2"))
    // second run over the same checkpoint: no new files → no new snapshot
    val landed = Snapshots.currentVersion(spark, lake)
    land()
    assert(Snapshots.currentVersion(spark, lake) == landed)
    assert(Snapshots.read(spark, lake).count() == 2)
  }

  test("bucketed layout: equi-join on the bucket key plans with ZERO shuffles") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucketed").toString
    val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("user_id", "event_id")
    val dim = (0L until 100L).map(u => (u, s"plan$u")).toDF("user_id", "plan")
    Lake.writeBucketed(facts, "b_facts", "user_id", buckets = 4, path = Some(s"$dir/facts"))
    Lake.writeBucketed(dim, "b_dim", "user_id", buckets = 4, path = Some(s"$dir/dim"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path: the point is the bucket layout
      // replacing the exchange, not a broadcast hiding it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_facts").join(spark.table("b_dim"), "user_id")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1500))
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n${p.take(1500)}")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dim")
    }
  }

  test("person serving layout: point lookup on the bucketed person table scans ONE bucket") {
    import spark.implicits._
    // the T9 debug endpoint / /decide state read at 100 TB: the
    // replayed person table lands bucketed on canonical_id, so a
    // point lookup prunes to a single bucket's files instead of a
    // full-table filter scan
    val dir = Files.createTempDirectory("persons_b").toString
    val ops = (1 to 500).map(i => graft.state.PersonOp(
      s"u${i % 120}", i.toLong, Map("plan" -> s"p${i % 3}"), Map.empty, Nil, None))
    val persons = graft.state.Replay.persons(spark, ops.toDS()).toDF()
    Lake.writeBucketed(persons, "persons_serve", "canonical_id",
      buckets = 8, path = Some(s"$dir/persons"))
    try {
      // DisableUnnecessaryBucketedScan sees no JOIN/AGG needing the
      // distribution and can turn the bucketed read off — but the
      // point-lookup benefit here is bucket PRUNING, so pin it on for
      // the serving path (a serving deployment sets this once)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val lookup = spark.table("persons_serve")
        .filter(col("canonical_id") === "u42")
      val scan = lookup.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no file scan in the point-lookup plan"))
      assert(scan.bucketedScan, "scan did not use the bucket layout")
      val selected = scan.optionalBucketSet
        .map(_.cardinality()).getOrElse(8)
      assert(selected == 1, s"point lookup scanned $selected of 8 buckets")
      // and the lookup actually serves the right record
      val got = lookup.collect()
      assert(got.length == 1 && got.head.getAs[String]("canonical_id") == "u42")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS persons_serve")
    }
  }

  test("observed ingest metrics ride the sink write: counts + missing-field totals") {
    val dir = Files.createTempDirectory("lakeobs").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d1","timestamp":"2024-03-02T00:00:00Z"}""",
      """{"event":"c","distinct_id":"d2"}""")
    val obs = Observation("landing")
    Snapshots.commit(spark, dir, Lake.atRest(events.dropDuplicates("uuid"))
      .observe(obs, Lake.LandingMetrics.head, Lake.LandingMetrics.tail: _*))
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("n_missing_did") == 0L)
    assert(m("n_missing_ts") == 1L)
    assert(m("n_approx_users") == 2L) // HLL exact at this cardinality
    assert(Snapshots.read(spark, dir).count() == 3)
  }

  test("streaming epochs carry observed metrics: per-epoch counts delivered at commit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("lake_obs_s").toString
    val ckpt = Files.createTempDirectory("lake_obs_ck").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}""",
      """{"event":"c","distinct_id":"d2"}""").collect()
    val ms = MemoryStream[String]
    ms.addData("tick")
    val stream = ms.toDF().select(lit(1).as("tick"))
      .crossJoin(spark.createDataFrame(spark.sparkContext.parallelize(events.toSeq),
        canonical("""{"event":"x","distinct_id":"d"}""").schema))
      .drop("tick")
    val q = Snapshots.streamCommitWriter(Lake.atRest(stream)
      .observe("landing", Lake.LandingMetrics.head, Lake.LandingMetrics.tail: _*), dir, ckpt)
      .start()
    q.awaitTermination()
    val seen = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("landing")).map(p.batchId -> _)).toMap
    assert(seen.contains(0L), s"no metrics delivered for epoch 0: $seen")
    val m = seen(0L)
    assert(m.getAs[Long]("n_rows") == 3L)
    assert(m.getAs[Long]("n_missing_ts") == 1L)
    assert(m.getAs[Long]("n_approx_users") == 2L)
    // and the epoch itself committed exactly once
    assert(Snapshots.read(spark, dir).count() == 3)
  }

  test("z-order rewrite clusters BOTH dimensions into tight per-file ranges") {
    import spark.implicits._
    // full 16x16 grid, one row per cell, shuffled arrival order
    val grid = new scala.util.Random(7).shuffle(
      for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong))
    val dir = Files.createTempDirectory("zorder").toString
    Lake.zorderWrite(grid.toDF("x", "y"), "x", "y", dir, files = 4, bits = 4)

    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4)
    val spans = files.map { f =>
      val rows = spark.read.parquet(f).collect()
      def span(i: Int) = rows.map(_.getLong(i)).max - rows.map(_.getLong(i)).min
      (span(0), span(1))
    }
    // z-order: every file is (approximately) one 8x8 quadrant — both
    // dimensions stay tight. A 1-D sort by x would leave y spanning 15
    // in EVERY file.
    spans.foreach { case (sx, sy) =>
      assert(sx <= 8 && sy <= 8, s"file spans x=$sx y=$sy; z-clustering lost")
    }
  }
}
