package graft

import graft.ingest.Normalizer
import graft.ingest.Normalizer.IngestContext
import graft.sources.Lake
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

  test("partitioned append + read-back + partition pruning layout") {
    val dir = Files.createTempDirectory("lake").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}""")
    Lake.writeEvents(events, dir)
    // hive-style partition dirs by event day
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("event_date=")).sorted
    assert(parts.toSeq == Seq("event_date=2024-03-01", "event_date=2024-03-02"))
    val back = Lake.readEvents(spark, dir)
    assert(back.count() == 2)
    // timestamp-less events partition by created_at (server now)
    Lake.writeEvents(canonical("""{"event":"c","distinct_id":"d3"}"""), dir)
    assert(Lake.readEvents(spark, dir)
      .filter(col("event_date") === "2024-03-05").count() == 1)
  }

  test("variant at-rest layout: probes agree with the string layout; malformed JSON survives as NULL variant") {
    import org.apache.spark.sql.types.VariantType
    val sdir = Files.createTempDirectory("lake_s").toString
    val vdir = Files.createTempDirectory("lake_v").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z","properties":{"k":7,"s":"x"}}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z","properties":{"k":9}}""")
    // string layout is now the explicit OPT-OUT (variant is the default
    // at-rest layout since r16); the comparison needs one of each
    Lake.writeEvents(events, sdir, variantAtRest = false)
    Lake.writeEventsVariant(events, vdir)
    val s = Lake.readEvents(spark, sdir)
    val v = Lake.readEvents(spark, vdir)
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
    // partition layout unchanged: pruning still works on the variant lake
    assert(v.filter(col("event_date") === "2024-03-01").count() == 1)
    // a malformed payload survives ingest as a NULL variant row
    import spark.implicits._
    val broken = events.limit(1)
      .withColumn("properties", lit("{not json"))
      .withColumn("uuid", lit("u-broken"))
    Lake.writeEventsVariant(broken, vdir)
    val vb = Lake.readEvents(spark, vdir)
    assert(vb.count() == 3)
    assert(vb.filter(col("properties").isNull).count() == 1)
  }

  test("idempotent replay: duplicate uuids dropped within an append") {
    val dir = Files.createTempDirectory("lake").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""")
    // same payload twice in one batch → same deterministic uuid → one row
    Lake.writeEvents(events.union(events), dir)
    assert(Lake.readEvents(spark, dir).count() == 1)
  }

  test("GDPR deletion sweep: subjects' rows gone, untouched partitions copied not rewritten, audit exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lake").toString
    val out = Files.createTempDirectory("lake_d").toString
    // d1 on two days, d2 on one of them, d3 alone on a third day
    Lake.writeEvents(canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-01T01:00:00Z"}""",
      """{"event":"c","distinct_id":"d1","timestamp":"2024-03-02T00:00:00Z"}""",
      """{"event":"d","distinct_id":"d3","timestamp":"2024-03-03T00:00:00Z"}"""), dir)
    def files(base: String, part: String) =
      new java.io.File(s"$base/event_date=$part").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val untouchedBefore = files(dir, "2024-03-03")
    val audit = Lake.deleteSweep(spark, dir, out, Seq("d1").toDF("distinct_id"))
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // audit: both affected days, exact deleted counts
    assert(audit.toSeq == Seq(
      ("2024-03-01", 2L, 1L, 1L), ("2024-03-02", 1L, 0L, 1L)))
    val back = Lake.readEvents(spark, out)
    assert(back.filter(col("distinct_id") === "d1").count() == 0)
    assert(back.count() == 2) // d2 + d3 survive
    // the untouched partition was COPIED (same file names), not rewritten
    assert(files(out, "2024-03-03") == untouchedBefore)
    // the affected-partition rewrite scan prunes on event_date
    val plan = spark.read.parquet(dir)
      .filter(col("event_date").isin("2024-03-01", "2024-03-02"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
  }

  test("compaction: many small appends → one file per date partition") {
    val dir = Files.createTempDirectory("lake").toString
    val out = Files.createTempDirectory("lake_c").toString
    // 3 appends into the same date → 3+ files in that partition
    (1 to 3).foreach { i =>
      Lake.writeEvents(canonical(
        s"""{"event":"e$i","distinct_id":"d$i","timestamp":"2024-03-01T0$i:00:00Z"}"""), dir)
    }
    def parquetFiles(base: String) =
      new java.io.File(s"$base/event_date=2024-03-01").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(dir) >= 3)
    Lake.compact(spark, dir, out, parallelism = 2)
    assert(parquetFiles(out) == 1)
    assert(Lake.readEvents(spark, out).count() == 3)
  }

  test("streaming epochs land in epoch_id dirs; replayed epochs overwrite, not append") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("lake_s").toString
    val events = canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}""").collect()

    def runOnce(checkpoint: String): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[String]
      ms.addData("tick")
      val stream = ms.toDF().select(lit(1).as("tick"))
        .crossJoin(spark.createDataFrame(spark.sparkContext.parallelize(events.toSeq),
          canonical("""{"event":"x","distinct_id":"d"}""").schema))
        .drop("tick")
      Lake.streamWriter(stream, dir, checkpoint).start().awaitTermination()
    }

    runOnce(Files.createTempDirectory("ck1").toString)
    assert(new java.io.File(dir).listFiles().exists(_.getName == "epoch_id=0"))
    assert(Lake.readEvents(spark, dir).count() == 2)
    // a FRESH checkpoint replays the same data as epoch 0 again — the
    // overwrite converges instead of duplicating (at-least-once → idempotent)
    runOnce(Files.createTempDirectory("ck2").toString)
    assert(Lake.readEvents(spark, dir).count() == 2)
    // compaction folds the epoch level away
    val out = Files.createTempDirectory("lake_sc").toString
    Lake.compact(spark, dir, out, parallelism = 2)
    assert(!Lake.readEvents(spark, out).columns.contains("epoch_id"))
    assert(Lake.readEvents(spark, out).count() == 2)
  }

  test("file-source stream lands in the lake: eventStream → streamWriter == batch") {
    val src = Files.createTempDirectory("lakesrc").toString
    val lake = Files.createTempDirectory("lakedst").toString
    val ckpt = Files.createTempDirectory("lakeck").toString
    val events = canonical(
      """{"event":"s1","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"s2","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}""")
    // the files an upstream collector would drop (createTempDirectory
    // made the dir, so the JSON write must overwrite it)
    events.write.mode("overwrite").json(src)
    val q = graft.sources.Lake.streamWriter(
      graft.streaming.Streaming.eventStream(spark, src), lake, ckpt).start()
    q.awaitTermination(60000)
    val back = spark.read.parquet(lake)
    assert(back.count() == 2)
    assert(back.select("event").collect().map(_.getString(0)).toSet == Set("s1", "s2"))
    // second run over the same checkpoint: no new files → no duplicates
    val q2 = graft.sources.Lake.streamWriter(
      graft.streaming.Streaming.eventStream(spark, src), lake, ckpt).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(lake).count() == 2)
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
    val m = Lake.writeEventsObserved(events, dir)
    assert(m.getAs[Long]("n_rows") == 3L)
    assert(m.getAs[Long]("n_missing_did") == 0L)
    assert(m.getAs[Long]("n_missing_ts") == 1L)
    assert(m.getAs[Long]("n_approx_users") == 2L) // HLL exact at this cardinality
    assert(Lake.readEvents(spark, dir).count() == 3)
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
    val seen = scala.collection.concurrent.TrieMap.empty[Long, org.apache.spark.sql.Row]
    Lake.streamWriterObserved(stream, dir, ckpt,
      (id, m) => seen.put(id, m)).start().awaitTermination()
    assert(seen.contains(0L), s"no metrics delivered for epoch 0: $seen")
    val m = seen(0L)
    assert(m.getAs[Long]("n_rows") == 3L)
    assert(m.getAs[Long]("n_missing_ts") == 1L)
    assert(m.getAs[Long]("n_approx_users") == 2L)
    // and the epoch itself landed idempotently, like plain streamWriter
    assert(Lake.readEvents(spark, dir).count() == 3)
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

  test("partition filter prunes at scan (PartitionFilters in plan)") {
    val dir = Files.createTempDirectory("lake").toString
    Lake.writeEvents(canonical(
      """{"event":"a","distinct_id":"d1","timestamp":"2024-03-01T00:00:00Z"}""",
      """{"event":"b","distinct_id":"d2","timestamp":"2024-03-02T00:00:00Z"}"""), dir)
    val q = Lake.readEvents(spark, dir).filter(col("event_date") === "2024-03-01")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan)
  }
}
