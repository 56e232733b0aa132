package graft

import graft.flags._
import graft.flags.FlagColumns.FlagFrame
import graft.functions.GraftExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scalar (serving) ↔ vectorized (backfill) agreement: the SAME flag
  * configs evaluated per-row by [[FlagEval]] and as Column logic by
  * [[FlagColumns]] over hundreds of synthetic contexts must produce
  * identical (enabled, variant) — including SHA1 rollout boundaries,
  * condition ordering, variant walks, and group-typed hashing. This is
  * the guarantee that a bulk cohort backfill assigns exactly what the
  * serving path would.
  */
class FlagAgreementSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def vectorized(flag: FeatureFlag, rows: Seq[(String, Map[String, String])])
    : Map[String, (Boolean, Option[String])] = {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = rows.toDF("distinct_id", "props")
    val frame = FlagFrame(col("distinct_id"), col("props"))
    df.select(col("distinct_id"), FlagColumns.resultCol(frame, flag).as("r"))
      .select(col("distinct_id"), col("r.enabled"), col("r.variant"))
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), Option(r.getString(2))))
      .toMap
  }

  private def scalar(flag: FeatureFlag, props: Map[String, String], id: String)
    : (Boolean, Option[String]) =
    FlagEval.evaluateFlag(flag, FlagContext(id, props.view.mapValues(JStr(_)).toMap)) match {
      case FlagResult(_, JBool(b), _, _, _, _) => (b, None)
      case FlagResult(_, JStr(v), _, _, _, _) => (true, Some(v))
      case other => throw new MatchError(other)
    }

  test("multivariate config: 300 ids agree across rollout and walk boundaries") {
    val flag = FlagQueries.variantsConfig.head
    val rows = (0 until 300).map { i =>
      val tier = i % 3 match { case 0 => "gold"; case 1 => "silver"; case _ => "bronze" }
      (s"user-$i", Map("tier" -> tier))
    }
    val vec = vectorized(flag, rows)
    rows.foreach { case (id, props) =>
      assert(vec(id) == scalar(flag, props, id), s"disagreement for $id props=$props")
    }
  }

  test("partial-rollout boolean flags agree at the SHA1 boundary") {
    val flag = FlagStore.fromJson(
      """{"flags":[{"key":"part","conditions":[
        |  {"properties":[{"key":"seg","value":"a"}], "rollout_percentage": 37}]}]}"""
        .stripMargin).head
    val rows = (0 until 300).map(i => (s"id-$i", Map("seg" -> (if (i % 2 == 0) "a" else "b"))))
    val vec = vectorized(flag, rows)
    rows.foreach { case (id, props) =>
      assert(vec(id) == scalar(flag, props, id), s"disagreement for $id")
    }
  }

  test("q_flag_decide registry row (scalar serving path) == vectorized backfill, row-for-row") {
    // The registry's /decide point-lookup batch runs the SCALAR
    // evaluator executor-side; the backfill runs the SAME store through
    // FlagColumns. Every (id, flag) cell must agree — this is the
    // agreement fuzz above, but over the real registry query and the
    // real person dimension instead of synthetic contexts.
    val sf = "/root/testdata/sf0.001"
    val decided = FlagQueries.flagDecide(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getBoolean(2), Option(r.getString(3))))
      .toMap
    assert(decided.nonEmpty, "decide batch selected no ids")
    GraftExtensions.register(spark)
    val vec = FlagQueries.flagFilters(spark, sf)
      .filter(col("c_custkey") % 101 === 7)
      .collect()
      .flatMap { r =>
        FlagQueries.config.map(f =>
          (r.getLong(0), f.key) -> (r.getBoolean(r.fieldIndex(f.key)), None: Option[String]))
      }.toMap
    assert(decided.keySet == vec.keySet,
      s"cell sets diverge: ${decided.keySet.diff(vec.keySet).take(5)} / ${vec.keySet.diff(decided.keySet).take(5)}")
    decided.foreach { case (cell, r) =>
      assert(r == vec(cell), s"scalar/vectorized disagreement at $cell: $r vs ${vec(cell)}")
    }
  }

  test("group-typed flag: vectorized group hashing/filters match the scalar context") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val flag = FlagStore.fromJson(
      """{"flags":[{"key":"g","group_type":"company","rollout_percentage": 50,
        |  "conditions":[{"properties":[
        |    {"key":"region","operator":"lte","value":2,"type":"group","group_type":"company"}],
        |    "rollout_percentage": 50}]}]}""".stripMargin).head
    val rows = (0 until 200).map { i =>
      (s"user-$i", s"org-${i % 23}", Map("region" -> (i % 5).toString))
    }
    val df = rows.toDF("distinct_id", "gkey", "gprops")
    val frame = FlagFrame(col("distinct_id"), typedLit(Map.empty[String, String]),
      groupKeys = Map("company" -> col("gkey")),
      groupProps = Map("company" -> col("gprops")))
    val vec = df.select(col("distinct_id"), FlagColumns.enabledCol(frame, flag).as("e"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    rows.foreach { case (id, gkey, gprops) =>
      val sc = FlagEval.evaluateFlag(flag, FlagContext(id,
        groups = Map("company" -> gkey),
        groupProperties = Map("company" -> gprops.view.mapValues(JStr(_)).toMap)))
      assert(vec(id) == (sc.value == JBool(true)), s"disagreement for $id group=$gkey")
    }
    // a row with NO group key: scalar resolve_hash_id → None → no_match;
    // vectorized: null hash id → disabled
    val noKey = Seq(("solo", null.asInstanceOf[String], Map("region" -> "0")))
      .toDF("distinct_id", "gkey", "gprops")
    val e = noKey.select(FlagColumns.enabledCol(FlagFrame(col("distinct_id"),
      typedLit(Map.empty[String, String]),
      groupKeys = Map("company" -> col("gkey")),
      groupProps = Map("company" -> col("gprops"))), flag).as("e"))
      .collect().head.getBoolean(0)
    assert(!e)
    // same with a FULL (literal-folded) rollout: the missing group key
    // must still gate (scalar: resolve_hash_id → None → no_match)
    val full = FlagStore.fromJson(
      """{"flags":[{"key":"g2","group_type":"company","conditions":[]}]}""").head
    val e2 = noKey.select(FlagColumns.enabledCol(FlagFrame(col("distinct_id"),
      typedLit(Map.empty[String, String]),
      groupKeys = Map("company" -> col("gkey")),
      groupProps = Map("company" -> col("gprops"))), full).as("e"))
      .collect().head.getBoolean(0)
    assert(!e2)
  }

  test("unbound group evaluation fails loudly at plan build") {
    val flag = FlagStore.fromJson(
      """{"flags":[{"key":"g","group_type":"company","conditions":[]}]}""").head
    val frame = FlagFrame(col("distinct_id"), col("props"))
    intercept[IllegalArgumentException] {
      FlagColumns.enabledCol(frame, flag)
    }
  }

  test("F2 env/key filtering changes the evaluated set identically in scalar and vectorized") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val flags = FlagStore.fromJson(
      """{"flags":[
        |  {"key":"prod_only", "evaluation_environments":["production"],
        |   "conditions":[{"properties":[{"key":"seg","value":"a"}]}]},
        |  {"key":"stg_only", "evaluation_environments":["staging"],
        |   "conditions":[{"properties":[]}]},
        |  {"key":"everywhere", "evaluation_environments":[],
        |   "conditions":[{"properties":[]}]},
        |  {"key":"untagged",
        |   "conditions":[{"properties":[{"key":"seg","value":"b"}]}]}
        |]}""".stripMargin)
    val opts = FlagEvalOptions(evaluationEnvironments = Some(Set("production")))

    // the filter DROPS stg_only and KEEPS untagged + empty-list flags —
    // and both paths must agree on that set, not just on values
    val selected = FlagEval.selectFlags(flags, opts).map(_.key)
    assert(selected == Seq("prod_only", "everywhere", "untagged"))

    // key filter composes with env filter
    val keyed = FlagEvalOptions(flagKeys = Some(Set("untagged", "stg_only")),
      evaluationEnvironments = Some(Set("production")))
    assert(FlagEval.selectFlags(flags, keyed).map(_.key) == Seq("untagged"))

    // value agreement over the filtered set: scalar evaluate() vs
    // vectorized resultCols() row by row
    val rows = (0 until 50).map(i => (s"id-$i", Map("seg" -> (if (i % 2 == 0) "a" else "b"))))
    val df = rows.toDF("distinct_id", "props")
    val frame = FlagFrame(col("distinct_id"), col("props"))
    val cols = FlagColumns.resultCols(frame, flags, opts)
    // the vectorized path emits one column per selected flag, in order
    assert(df.select(cols: _*).columns.toSeq == selected)
    val vec = df.select(col("distinct_id") +: cols: _*)
      .select(col("distinct_id") +: selected.map(k => col(k).getField("enabled")): _*)
      .collect().map(r => r.getString(0) -> (1 until 4).map(r.getBoolean)).toMap
    rows.foreach { case (id, props) =>
      val sc = FlagEval.evaluate(flags,
        FlagContext(id, props.view.mapValues(JStr(_)).toMap), opts)
      assert(sc.map(_.key) == selected, s"scalar evaluated set diverged for $id")
      assert(vec(id) == sc.map(_.value == JBool(true)), s"disagreement for $id")
    }
  }
}
