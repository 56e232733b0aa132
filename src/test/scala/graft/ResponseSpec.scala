package graft

import graft.flags._
import graft.ingest.Normalizer
import graft.ingest.Normalizer.IngestContext
import graft.state.{PersonOp, Replay}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F7 response shaping, S9 session intake, T9 debug snapshot —
  * mirroring `lib.rs:1053-1226` and `feature_flags.rs:170-204`.
  */
class ResponseSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private val results = Seq(
    FlagResult("on", JBool(true), Some(JStr("pay")), active = true, "match", None),
    FlagResult("off", JBool(false), None, active = true, "out_of_rollout", None),
    FlagResult("dead", JBool(false), None, active = false, "disabled", None),
    FlagResult("ab", JStr("test"), None, active = true, "match", Some(1)))

  test("to_maps: v2 hides inactive flags; payloads only when present") {
    val (flags, payloads) = FlagResponse.toMaps(results, 2)
    assert(flags.keySet == Set("on", "off", "ab")) // 'dead' hidden in v2
    assert(flags("ab") == JStr("test"))
    assert(payloads == Map("on" -> JStr("pay")))
    val (v1flags, _) = FlagResponse.toMaps(results, 1)
    assert(v1flags.keySet == Set("on", "off", "dead", "ab")) // v1 shows all
  }

  test("flag details: enabled/variant/reason/condition_index/metadata") {
    val details = FlagResponse.toFlagDetails(results,
      Seq(FeatureFlag(key = "ab", id = Some(7), version = Some(2))))
    val ab = details("ab").asInstanceOf[JObj].v
    assert(ab("enabled") == JBool(true)) // variant string ⇒ enabled
    assert(ab("variant") == JStr("test"))
    assert(ab("reason").asInstanceOf[JObj].v("code") == JStr("match"))
    assert(ab("reason").asInstanceOf[JObj].v("condition_index") == JNum(1))
    assert(ab("metadata").asInstanceOf[JObj].v("id") == JNum(7))
    val off = details("off").asInstanceOf[JObj].v
    assert(off("enabled") == JBool(false))
    assert(!off.contains("variant"))
  }

  test("/decide response: config token, maps, session recording block") {
    val r = FlagResponse.decideResponse(results, 2, Some("phc_tok"), Some("https://rec"))
    val m = r.v
    assert(m("config").asInstanceOf[JObj].v("apiToken") == JStr("phc_tok"))
    assert(m("featureFlags").asInstanceOf[JObj].v.keySet == Set("on", "off", "ab"))
    val sr = m("sessionRecording").asInstanceOf[JObj].v
    assert(sr("endpoint") == JStr("https://rec") && sr("proxy") == JBool(true))
    // renders to well-formed JSON (parse back through the same model)
    assert(JsonV.parse(FlagResponse.render(r)).isInstanceOf[JObj])
  }

  test("/flags response: details + config block gated by ?config=") {
    val withCfg = FlagResponse.flagsResponse(results, Nil, 2, includeConfig = true,
      "req-1", 1717243200000L, Some("https://rec")).v
    assert(withCfg("supportedCompression") == JArr(Seq(JStr("gzip"), JStr("gzip-js"))))
    assert(withCfg("requestId") == JStr("req-1"))
    assert(withCfg("evaluatedAt") == JNum(1717243200000L.toDouble))
    val noCfg = FlagResponse.flagsResponse(results, Nil, 2, includeConfig = false,
      "req-2", 0L, None).v
    assert(!noCfg.contains("supportedCompression") && !noCfg.contains("sessionRecording"))
  }

  test("session intake: JSON-pointer distinct_id with fallbacks (S9)") {
    import spark.implicits._
    val bodies = Seq(
      """{"data":{"metadata":{"distinct_id":"deep-user"}},"token":"phc_s"}""",
      """{"distinct_id":"flat-user","data":{}}""",
      """{"data":{"snapshot":"bytes"}}""").toDF("body")
    val out = Normalizer.sessionIntake(bodies, col("body"), IngestContext()).collect()
    assert(out.map(_.getAs[String]("distinct_id")).toSeq ==
      Seq("deep-user", "flat-user", "session-recording"))
    assert(out.forall(_.getAs[String]("event") == "$snapshot"))
    assert(out(0).getAs[String]("api_key") == "phc_s")
    assert(out(2).getAs[String]("properties").contains("snapshot"))
  }

  test("person debug snapshot resolves via any known distinct_id (T9)") {
    import spark.implicits._
    val persons = Replay.persons(spark, Seq(
      PersonOp("anon-7", 1, Map("k" -> "v"), Map.empty, Nil, None),
      PersonOp("u7", 2, Map.empty, Map.empty, Nil, Some("anon-7"))).toDS(),
      id => concat(when(id.startsWith("anon-"), lit("1")).otherwise(lit("0")), lit("|"), id))
    val byAlias = Replay.personSnapshot(persons, "anon-7")
    val byCanonical = Replay.personSnapshot(persons, "u7")
    assert(byAlias.isDefined && byAlias == byCanonical)
    assert(byAlias.get.canonical_id == "u7")
    assert(Replay.personSnapshot(persons, "nobody").isEmpty)
  }
}
