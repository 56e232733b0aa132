package graft

import graft.ingest.{Codecs, Normalizer}
import graft.ingest.Normalizer.IngestContext
import graft.sources.{Lake, Snapshots}
import graft.state.{PersonOp, PersonOpExtract, Replay}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end replay (the analogue of the reference's
  * `tests/pipeline_e2e.rs`): a synthetic PostHog payload log — mixed
  * endpoints, compressed bodies, batches — through the full chain:
  * decode → normalize → lake append → person/group replay → snapshot
  * assertions on the landed tables.
  */
class EndToEndSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  test("q_agg_approx: in-row HLL accuracy gate true for every group") {
    // the rel-error gate now lives IN the query result (est_within_5pct)
    // so the driver oracle checks it too; this spec asserts the same
    // thing at sf0.001 where the driver doesn't run
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_agg_approx")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0, s"${r.getString(0)}: empty group")
      assert(r.getAs[Boolean]("est_within_5pct"),
        s"${r.getString(0)}: estimate outside 5% of exact")
    }
  }

  test("registerViews: raw spark.sql over the plain table names, same plan as the DataFrame path") {
    val sf = "/root/testdata/sf0.001"
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS u
        |FROM events WHERE event_type IN ('view', 'click')
        |GROUP BY event_type""".stripMargin)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val viaDf = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(viaSql.nonEmpty && viaSql.sameElements(viaDf))
    // the SQL surface reaches every table, including the vector side
    assert(spark.sql("SELECT count(*) FROM embeddings").head().getLong(0) > 0)
    assert(spark.sql(
      "SELECT vec_dot(embedding, embedding) FROM embeddings LIMIT 1")
      .head().getDouble(0) > 0.0)
  }

  test("q_agg_sketch_rollup: unioned daily sketches bound the exact total distinct") {
    val sf = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("q_agg_sketch_rollup")(spark, sf).collect().head
    val exact = row.getAs[Long]("exact_total_users")
    assert(exact > 0)
    assert(row.getAs[Boolean]("est_within_5pct"),
      s"sketch union estimate outside 5% of exact=$exact")
    // the point of sketches: summed daily distincts OVERCOUNT the true total
    assert(row.getAs[Long]("sum_daily_users") >= exact)
  }

  test("payload log → canonical lake → person/group state") {
    import spark.implicits._

    // the request log a worker would see (9 canonical events, like
    // pipeline_e2e.rs's 9 persisted events)
    val plain = Seq(
      """{"event":"page_view","distinct_id":"anon-1","properties":{"path":"/","$set":{"ref":"ad"}},"timestamp":"2024-06-01T10:00:00Z"}""",
      """{"type":"identify","distinct_id":"user-1","$anon_distinct_id":"anon-1","properties":{"email":"u1@x.com"}}""",
      """{"batch":[
           {"event":"click","distinct_id":"user-1","properties":{"$groups":{"company":"acme"}}},
           {"type":"groupidentify","group_type":"company","group_key":"acme","properties":{"tier":"gold"}},
           {"distinct_id":"user-1","alias":"anon-1"}
         ],"api_key":"phc_batch"}""".replaceAll("\n\\s*", ""),
      """{"event":"purchase","distinct_id":"user-1","properties":{"value":"9.99","$set_once":{"first_buy":"9.99"}}}""",
      """{"distinct_id":"user-1","$set":{"plan":"pro"},"$unset":["ref"]}""",
      """{"event":"$snapshot","distinct_id":"session-recording","properties":{"chunk":"1"}}""")

    // a third of bodies arrive gzip- or zlib-compressed (unlabeled)
    val log = plain.zipWithIndex.map { case (body, i) =>
      i % 3 match {
        case 0 => body
        case 1 => new String(Codecs.decodeAuto(Codecs.gzipCompress(body.getBytes("UTF-8")), null), "UTF-8")
        case _ => new String(Codecs.decodeAuto(Codecs.zlibCompress(body.getBytes("UTF-8")), null), "UTF-8")
      }
    }

    val ctx = IngestContext(now = to_timestamp(lit("2024-06-01 12:00:00")))
    val canonical = Normalizer.ingest(
      log.zipWithIndex.toDF("body", "bidx"), col("body"), ctx)

    // ---- event-level assertions (the landed rows)
    val byKind = canonical.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind == Map("capture" -> 4L, "identify" -> 1L, "group_identify" -> 1L,
      "alias" -> 1L, "engage" -> 1L))
    assert(canonical.count() == 8)

    // lake round-trip
    val dir = Files.createTempDirectory("e2e").toString
    Snapshots.commit(spark, dir, Lake.atRest(canonical.dropDuplicates("uuid")))
    assert(Snapshots.read(spark, dir).count() == 8)

    // ---- person replay from the REAL extraction over the landed events
    // (T1: no hand-built ops — ingest output drives the state machine)
    val ops = PersonOpExtract
      .fromCanonical(canonical, col("bidx").cast("long") * 100 + col("item_idx"))
      .as[PersonOp]
    val persons = Replay.persons(spark, ops).collect()
    assert(persons.length == 1)
    val p = persons.head
    assert(p.canonical_id == "user-1")
    assert(p.distinct_ids == Seq("anon-1", "user-1"))
    assert(p.properties == Map("email" -> "u1@x.com", "plan" -> "pro")) // ref unset
    assert(Replay.mergedProperties(p)("first_buy") == "9.99")

    // ---- group replay
    val groups = Replay.groups(spark, Seq(
      graft.state.GroupOp("company", "acme", 3, Map("tier" -> "gold"))).toDS()).collect()
    assert(groups.head.properties == Map("tier" -> "gold"))

    // ---- flag evaluation over the replayed person (read path)
    val flagCtx = graft.flags.FlagContext("user-1",
      personProperties = Replay.mergedProperties(p).view.mapValues(graft.flags.JStr(_)).toMap)
    val flag = graft.flags.FeatureFlag(key = "pro-only",
      conditions = Seq(graft.flags.FlagCondition(properties = Seq(
        graft.flags.PropertyFilter("plan", graft.flags.JStr("pro"))))))
    assert(graft.flags.FlagEval.evaluateFlag(flag, flagCtx).value == graft.flags.JBool(true))
  }
}
