package graft.flags

import java.security.MessageDigest

/** F3–F6: the deterministic flag interpreter — a direct transcription
  * of `/root/reference/src/feature_flags.rs:218-614` semantics:
  *
  *   - inactive → false ("disabled"); first condition whose property
  *     filters ALL match wins; none match → false ("no_match"); no
  *     conditions → implicit condition from flag-level rollout/variants
  *   - rollout: bucket = u64(first 8 BE bytes of SHA1(salt ":" id))
  *     % 100; allowed iff bucket < clamp(rollout, 0, 100); salt
  *     defaults to the flag key; hash id = group key when group_type
  *     is set, else distinct_id. **Bit-exactness matters** — this
  *     defines production flag assignment.
  *   - variants: cumulative rollout walk at the same bucket value;
  *     condition-level variants override flag-level; a fixed
  *     `condition.variant` short-circuits.
  *   - operators with string/number/bool coercion ladders.
  *
  * This pure-Scala form is the single-id serving path; the vectorized
  * Column form for bulk backfills is [[FlagColumns]] (same semantics,
  * unit-tested to agree).
  */
object FlagEval {

  /** SHA1 percentage bucket (`feature_flags.rs:392-402`). */
  def bucketFor(salt: String, hashId: String): Double = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(salt.getBytes("UTF-8"))
    md.update(":".getBytes("UTF-8"))
    md.update(hashId.getBytes("UTF-8"))
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    java.lang.Long.remainderUnsigned(v, 100L).toDouble
  }

  // ----------------------------------------------------------- coercion

  def coerceNumber(v: JsonV): Option[Double] = v match {
    case JNum(n) => Some(n)
    case JStr(s) => s.trim.toDoubleOption
    case JBool(b) => Some(if (b) 1.0 else 0.0)
    case _ => None
  }

  def coerceBool(v: JsonV): Option[Boolean] = v match {
    case JBool(b) => Some(b)
    case JNum(n) if n.isWhole => Some(n.toLong != 0)
    case JStr(s) => s.trim.toLowerCase match {
      case "true" | "1" | "yes" => Some(true)
      case "false" | "0" | "no" => Some(false)
      case _ => None
    }
    case _ => None
  }

  def valuesEqual(actual: JsonV, expected: JsonV): Boolean = {
    if (actual == expected) return true
    (coerceNumber(actual), coerceNumber(expected)) match {
      case (Some(a), Some(e)) =>
        return math.abs(a - e) < 2.220446049250313e-16 // f64::EPSILON, as the reference
      case _ =>
    }
    (coerceBool(actual), coerceBool(expected)) match {
      case (Some(a), Some(e)) => a == e
      case _ => false
    }
  }

  def valuesIn(actual: JsonV, expected: JsonV, positive: Boolean): Boolean = expected match {
    case JArr(items) =>
      val found = items.exists(valuesEqual(actual, _))
      if (positive) found else !found
    case _ => false
  }

  def valueContains(actual: JsonV, expected: JsonV): Boolean = (actual, expected) match {
    case (JStr(a), JStr(e)) => a.contains(e)
    case (JArr(items), e) => items.exists(valuesEqual(_, e))
    case _ => false
  }

  def valueRegex(actual: JsonV, expected: JsonV): Boolean = (actual, expected) match {
    case (JStr(a), JStr(p)) =>
      try java.util.regex.Pattern.compile(p).matcher(a).find()
      catch { case _: Exception => false }
    case _ => false
  }

  def compareNumbers(actual: JsonV, expected: JsonV, op: String): Boolean =
    (coerceNumber(actual), coerceNumber(expected)) match {
      case (Some(a), Some(e)) => op match {
        case "gt" => a > e
        case "gte" => a >= e
        case "lt" => a < e
        case "lte" => a <= e
        case _ => false
      }
      case _ => false
    }

  // ------------------------------------------------------ filter dispatch

  def propertyMatches(filter: PropertyFilter, ctx: FlagContext): Boolean = {
    val actual: Option[JsonV] = filter.propertyType.getOrElse("person") match {
      case "group" =>
        for {
          gt <- filter.groupType
          props <- ctx.groupProperties.get(gt)
          v <- props.get(filter.key)
        } yield v
      case _ => ctx.personProperties.get(filter.key)
    }
    filter.operator.getOrElse("eq") match {
      case "is_set" => actual.exists(_ != JNull)
      case "is_not" => actual.exists(!valuesEqual(_, filter.value))
      case "in" => actual.exists(valuesIn(_, filter.value, positive = true))
      case "not_in" => actual.exists(valuesIn(_, filter.value, positive = false))
      case "contains" => actual.exists(valueContains(_, filter.value))
      case "regex" => actual.exists(valueRegex(_, filter.value))
      case op @ ("gt" | "gte" | "lt" | "lte") => actual.exists(compareNumbers(_, filter.value, op))
      case _ => actual.exists(valuesEqual(_, filter.value))
    }
  }

  // --------------------------------------------------------- evaluation

  private def pickVariant(variants: Seq[FlagVariant], salt: String, hashId: String): Option[String] = {
    if (variants.isEmpty) return None
    val bucket = bucketFor(salt, hashId)
    var cumulative = 0.0
    variants.foreach { v =>
      cumulative += math.max(v.rolloutPercentage, 0.0)
      if (bucket < math.min(cumulative, 100.0)) return Some(v.key)
    }
    None
  }

  private def resolveHashId(flag: FeatureFlag, ctx: FlagContext): Option[String] =
    flag.groupType match {
      case Some(gt) => ctx.groups.get(gt)
      case None => Some(ctx.distinctId)
    }

  def evaluateCondition(
      flag: FeatureFlag, cond: FlagCondition, ctx: FlagContext,
      payloads: Map[String, JsonV], condIndex: Option[Int]): FlagResult = {
    resolveHashId(flag, ctx) match {
      case None =>
        FlagResult(flag.key, JBool(false), None, flag.active, "no_match", condIndex)
      case Some(hashId) =>
        val rollout = cond.rolloutPercentage.orElse(flag.rolloutPercentage).getOrElse(100.0)
        val salt = flag.salt.getOrElse(flag.key)
        val bucket = bucketFor(salt, hashId)
        if (!(bucket < math.min(math.max(rollout, 0.0), 100.0)))
          FlagResult(flag.key, JBool(false), None, flag.active, "out_of_rollout", condIndex)
        else {
          val variants = if (cond.variants.nonEmpty) cond.variants else flag.variants
          if (flag.flagType == "multivariate" || variants.nonEmpty) {
            cond.variant match {
              case Some(v) =>
                return FlagResult(flag.key, JStr(v), payloads.get(v), flag.active, "match", condIndex)
              case None =>
                pickVariant(variants, salt, hashId) match {
                  case Some(sel) =>
                    return FlagResult(flag.key, JStr(sel), payloads.get(sel), flag.active, "match", condIndex)
                  case None =>
                }
            }
          }
          FlagResult(flag.key, JBool(true), flag.payload, flag.active, "match", condIndex)
        }
    }
  }

  def evaluateFlag(flag: FeatureFlag, ctx: FlagContext): FlagResult = {
    if (!flag.active)
      return FlagResult(flag.key, JBool(false), None, active = false, "disabled", None)
    val payloads = flag.variantPayloads ++
      flag.variants.flatMap(v => v.payload.map(v.key -> _)).toMap
    if (flag.conditions.nonEmpty) {
      flag.conditions.zipWithIndex.foreach { case (cond, i) =>
        if (cond.properties.forall(propertyMatches(_, ctx)))
          return evaluateCondition(flag, cond, ctx, payloads, Some(i))
      }
      FlagResult(flag.key, JBool(false), None, flag.active, "no_match", None)
    } else {
      evaluateCondition(flag,
        FlagCondition(Nil, flag.rolloutPercentage, flag.variants, None),
        ctx, payloads, None)
    }
  }

  /** F2 flag selection: `flag_keys` / `evaluation_environments`
    * filtering (`feature_flags.rs:43-67,474-479`). A property of the
    * CONFIG, not the execution strategy — shared by the scalar
    * [[evaluate]] loop and vectorized backfill drivers
    * ([[FlagColumns.resultCols]] selects through here), so a backfill
    * evaluates exactly the flag set serving would.
    */
  def selectFlags(flags: Seq[FeatureFlag],
      options: FlagEvalOptions = FlagEvalOptions()): Seq[FeatureFlag] =
    flags
      .filter(f => options.flagKeys.forall(_.contains(f.key)))
      .filter(f => options.evaluationEnvironments.forall(envs =>
        f.evaluationEnvironments match {
          case Some(list) if list.nonEmpty => list.exists(envs.contains)
          case _ => true
        }))

  /** F2: evaluation loop over the selected flags. */
  def evaluate(flags: Seq[FeatureFlag], ctx: FlagContext,
      options: FlagEvalOptions = FlagEvalOptions()): Seq[FlagResult] =
    selectFlags(flags, options).map(evaluateFlag(_, ctx))
}
