package graft.flags

import graft.functions.GraftExtensions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Vectorized flag evaluation for bulk backfills: the same F3–F6
  * semantics as [[FlagEval]], expressed as Column logic over a person
  * (or person×groups) table whose properties live in
  * `map<string,string>` columns (values = JSON scalar text, the
  * merged-person-properties view).
  *
  * Everything including the SHA1 bucket is codegen'd Catalyst: the
  * bucket is the native [[graft.functions.FlagBucket]] expression
  * (exact serving-path bytes, `FlagEval.bucketFor`, inlined into
  * whole-stage codegen) — callers must have run
  * [[GraftExtensions.register]] (or installed the session extension)
  * so `flag_bucket` resolves. Rollouts that clamp to 0/100 fold to
  * literals at plan build, so pure property-filter flags never touch
  * SHA1 at all.
  *
  * Group-based flags (`flag.group_type` set, or filters with
  * `type: "group"`): bind the group key / group properties columns via
  * [[FlagFrame.groupKeys]] / [[FlagFrame.groupProps]]. Evaluating a
  * group-typed flag without the binding throws at plan build — a bulk
  * backfill must fail loudly rather than silently bucket on
  * distinct_id (reference `resolve_hash_id`,
  * `/root/reference/src/feature_flags.rs` group handling).
  *
  * At 100 TB: a flag backfill is a map-only scan of the person table
  * with these predicates fused into whole-stage codegen — no shuffle,
  * no join, no state. (Group props, if needed, arrive via one
  * broadcast join keyed by the group slot before this projection.)
  */
object FlagColumns {

  /** Column bindings for one evaluation row: the person's distinct_id
    * and merged properties, plus (for group flags) per-group-type key
    * and property columns.
    */
  final case class FlagFrame(
      distinctId: Column,
      personProps: Column,
      groupKeys: Map[String, Column] = Map.empty,
      groupProps: Map[String, Column] = Map.empty)

  /** The codegen'd SHA1 bucket (see [[graft.functions.FlagBucket]]). */
  def bucket(salt: String, hashId: Column): Column =
    GraftExtensions.flagBucket(lit(salt), hashId)

  /** Numeric coercion ladder (string→double, bool→0/1); `try_cast` so
    * non-numeric strings become null (→ filter false), matching the
    * scalar path, instead of an ANSI cast error.
    */
  private def asNum(v: Column): Column =
    when(lower(trim(v)) === "true", 1.0)
      .when(lower(trim(v)) === "false", 0.0)
      .otherwise(v.try_cast(DoubleType))

  private def jstr(v: JsonV): String = v match {
    case JStr(s) => s
    case JNum(n) => if (n.isWhole) n.toLong.toString else n.toString
    case JBool(b) => b.toString
    case JNull => null
    case other => other.toString
  }

  /** The actual-value column a filter reads: person props by default,
    * the bound group-props map for `type: "group"` filters. A group
    * filter whose group_type has no bound column is a mis-configured
    * backfill → throw at plan build (never silently read person props).
    */
  private def actualFor(frame: FlagFrame, f: PropertyFilter): Column =
    f.propertyType.getOrElse("person") match {
      case "group" => f.groupType match {
        case None => lit(null).cast("string") // scalar path: no group_type → never matches
        case Some(gt) => frame.groupProps.get(gt) match {
          case Some(props) => element_at(props, f.key)
          case None => throw new IllegalArgumentException(
            s"flag filter on group-type '$gt' properties, but no groupProps column " +
              s"is bound for '$gt' in FlagFrame — refusing to evaluate against person props")
        }
      }
      case _ => element_at(frame.personProps, f.key)
    }

  /** One property filter → boolean Column. `actual` values are JSON
    * scalar text; absent key ⇒ false for every operator (reference
    * semantics).
    */
  def filterCol(frame: FlagFrame, f: PropertyFilter): Column = {
    val actual = actualFor(frame, f)
    val expectedS = jstr(f.value)
    val eq = (a: Column) =>
      a === lit(expectedS) || (asNum(a).isNotNull && asNum(a) === asNum(lit(expectedS)))
    val base: Column = f.operator.getOrElse("eq") match {
      case "is_set" => actual.isNotNull
      case "is_not" => !eq(actual)
      case "in" => f.value match {
        case JArr(items) => items.map(i => actual === lit(jstr(i)) ||
          (asNum(actual).isNotNull && asNum(actual) === asNum(lit(jstr(i)))))
          .reduceOption(_ || _).getOrElse(lit(false))
        case _ => lit(false)
      }
      case "not_in" => f.value match {
        case JArr(items) => !items.map(i => actual === lit(jstr(i)) ||
          (asNum(actual).isNotNull && asNum(actual) === asNum(lit(jstr(i)))))
          .reduceOption(_ || _).getOrElse(lit(false))
        case _ => lit(false)
      }
      case "contains" => actual.contains(lit(expectedS))
      case "regex" => actual.rlike(expectedS)
      case "gt" => asNum(actual) > asNum(lit(expectedS))
      case "gte" => asNum(actual) >= asNum(lit(expectedS))
      case "lt" => asNum(actual) < asNum(lit(expectedS))
      case "lte" => asNum(actual) <= asNum(lit(expectedS))
      case _ => eq(actual)
    }
    coalesce(actual.isNotNull && base, lit(false))
  }

  /** All of a condition's filters AND'ed. */
  def conditionCol(frame: FlagFrame, cond: FlagCondition): Column =
    cond.properties.map(filterCol(frame, _)).reduceOption(_ && _).getOrElse(lit(true))

  /** The id a flag buckets on: the bound group key for group-typed
    * flags (`resolve_hash_id`), else distinct_id. Unbound group type →
    * loud failure, mirroring [[actualFor]].
    */
  private def hashIdFor(frame: FlagFrame, flag: FeatureFlag): Column =
    flag.groupType match {
      case None => frame.distinctId
      case Some(gt) => frame.groupKeys.getOrElse(gt, throw new IllegalArgumentException(
        s"flag '${flag.key}' has group_type '$gt' but no groupKeys column is bound " +
          s"for '$gt' in FlagFrame — refusing to bucket on distinct_id"))
    }

  /** Full vectorized evaluation of one flag →
    * `struct<enabled: boolean, variant: string>`: first condition whose
    * property filters all match decides rollout AND variant (the Column
    * mirror of `evaluate_flag` + `evaluate_condition` + `pick_variant`).
    * Rollouts of 0/100 fold to literals (no SHA1); otherwise the native
    * codegen bucket is shared across the rollout gate and the
    * cumulative variant walk by codegen subexpression elimination.
    *
    * A group-typed flag row whose group key column is NULL evaluates to
    * disabled (scalar path: `resolve_hash_id` → None → no_match) — the
    * bucket expression is null-intolerant and the outer coalesce turns
    * the null result into false.
    */
  def resultCol(frame: FlagFrame, flag: FeatureFlag): Column = {
    val noVariant = lit(null).cast("string")
    val off = struct(lit(false).as("enabled"), noVariant.as("variant"))
    if (!flag.active) return off
    val salt = flag.salt.getOrElse(flag.key)
    // resolved EAGERLY: an unbound group type must fail at plan build
    // even for flags whose rollouts fold to literals
    val hashId = hashIdFor(frame, flag)
    lazy val bkt = bucket(salt, hashId)

    def rolloutOk(r: Option[Double]): Column = {
      val pct = math.min(math.max(
        r.orElse(flag.rolloutPercentage).getOrElse(100.0), 0.0), 100.0)
      // group-typed flags with a NULL group key never match, regardless
      // of rollout (`resolve_hash_id` → None → no_match) — the folded
      // 100% branch must keep that gate; the bucket branch gets it for
      // free from null-intolerance.
      if (pct >= 100.0) {
        if (flag.groupType.isDefined) hashId.isNotNull else lit(true)
      }
      else if (pct <= 0.0) lit(false)
      else bkt < lit(pct)
    }

    /** Cumulative rollout walk (`pick_variant`): first variant whose
      * running total exceeds the bucket; none → null (boolean true).
      */
    def variantWalk(variants: Seq[FlagVariant]): Column = {
      val (walk, _) = variants.foldLeft((when(lit(false), noVariant), 0.0)) {
        case ((acc, cum), v) =>
          val c2 = cum + math.max(v.rolloutPercentage, 0.0)
          (acc.when(bkt < lit(math.min(c2, 100.0)), lit(v.key)), c2)
      }
      if (variants.isEmpty) noVariant else walk.otherwise(noVariant)
    }

    def condResult(cond: FlagCondition): Column = {
      val ok = rolloutOk(cond.rolloutPercentage)
      val variants = if (cond.variants.nonEmpty) cond.variants else flag.variants
      val sel =
        if (flag.flagType == "multivariate" || variants.nonEmpty)
          cond.variant.map(v => lit(v): Column).getOrElse(variantWalk(variants))
        else noVariant
      struct(coalesce(ok, lit(false)).as("enabled"),
        when(coalesce(ok, lit(false)), sel).as("variant"))
    }

    if (flag.conditions.isEmpty)
      condResult(FlagCondition(Nil, flag.rolloutPercentage, flag.variants, None))
    else
      flag.conditions.foldLeft(when(lit(false), off)) { (acc, cond) =>
        acc.when(conditionCol(frame, cond), condResult(cond))
      }.otherwise(off)
  }

  /** Boolean enablement only (backfill cohort membership). */
  def enabledCol(frame: FlagFrame, flag: FeatureFlag): Column =
    resultCol(frame, flag).getField("enabled")

  /** One result column per SELECTED flag, aliased by flag key — the
    * vectorized twin of [[FlagEval.evaluate]]. Selection is
    * [[FlagEval.selectFlags]], so a bulk backfill evaluates exactly the
    * flag set the scalar serving loop would — `flag_keys` and
    * `evaluation_environments` filter the CONFIG once, before any
    * Column is built.
    */
  def resultCols(frame: FlagFrame, flags: Seq[FeatureFlag],
      options: FlagEvalOptions = FlagEvalOptions()): Seq[Column] =
    FlagEval.selectFlags(flags, options).map(f => resultCol(frame, f).as(f.key))
}
