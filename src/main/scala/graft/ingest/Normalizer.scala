package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Wire-payload → canonical-event normalization: the data-parallel form
  * of the reference's extractor + projection chain
  * (`/root/reference/src/extractors.rs:401-704`,
  * `/root/reference/src/pipeline.rs:186-336`,
  * `/root/reference/src/lib.rs:1447-1592`).
  *
  * Everything is declarative Column logic (CASE-routed projections,
  * `get_json_object`, `from_json` to string-valued maps for the
  * dynamic payloads) — one codegen'd map stage per micro-batch, no
  * per-event RPC. The same transforms run identically in batch and
  * Structured Streaming.
  */
object Normalizer {

  private val mapSS: DataType = DataType.fromDDL("map<string,string>")
  private val arrS: DataType = DataType.fromDDL("array<string>")

  /** Request-context columns that accompany each payload row.
    * `geo` values are STRING-semantics (inserted as JSON strings,
    * trimmed, empty dropped — header_value semantics); `geoJson`
    * values are raw JSON fragments (numbers, booleans — e.g.
    * `cf_asn -> lit("13335")` inserts the number 13335, matching the
    * reference's typed cf properties, extractors.rs:158-163).
    */
  final case class IngestContext(
      now: Column = current_timestamp(),
      headerApiKey: Column = lit(null).cast("string"),
      sentAtHeader: Column = lit(null).cast("string"),
      requestIp: Column = lit(null).cast("string"),
      geo: Seq[(String, Column)] = Nil,
      geoJson: Seq[(String, Column)] = Nil,
      groupTypes: Seq[String] = EventSchema.defaultGroupTypes)

  /** Deterministic ingest clock for the REGISTRY/bench paths.
    *
    * `current_timestamp()` is folded to a fresh literal on every
    * execution (Catalyst's ComputeCurrentTime), so a plan containing it
    * generates DIFFERENT source each run — a guaranteed Janino codegen-
    * cache miss. The ingest projection is one of the widest generated
    * classes in the registry, and re-compiling it every pass is pure
    * overhead that CPU contention amplifies (the r13 `q_ingest_browser`
    * 7× median bimodality: ~10 recompiles per pass per ingest query,
    * cheap on a quiet box, multi-second under load). `created_at` is
    * never oracle-projected, so the registry queries pin the clock;
    * PRODUCTION ingest keeps the `current_timestamp()` default — there
    * a streaming micro-batch re-plans anyway and the stamp must be real
    * server time.
    */
  val DetClock: Column = to_timestamp(lit("2024-02-01 00:00:00"))

  /** [[IngestContext]] with the deterministic clock — what every
    * registered query uses (see [[DetClock]]).
    */
  def detContext: IngestContext = IngestContext(now = DetClock)

  /** Deterministic uuid (v5-style, md5-based) — replaces the
    * reference's random v4 (`pipeline.rs:188`) so that replays are
    * idempotent and the lake's `dropDuplicates("uuid")` dedup works.
    *
    * ACCEPTED TRADEOFF: two genuinely distinct events whose wire bodies
    * are byte-identical (no client uuid/timestamp — e.g. two rapid
    * identical clicks in separate requests) hash to the same uuid and
    * collapse to one row at the landing's `dropDuplicates("uuid")`
    * (see [[graft.sources.Lake]]) — at-most-once for
    * payload-identical events, vs the reference's random-v4 which keeps
    * both but duplicates on retry. Deployments that need both
    * behaviors should mix a source offset (kafka partition/offset,
    * request id) into the seed column at the ingest call site — the
    * seed is caller-supplied, so this needs no code change here.
    */
  def uuidDet(seed: Column): Column = {
    val h = md5(seed.cast("binary"))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  // --------------------------------------- S3: form/base64 data envelopes

  /** Pre-normalize form-encoded and `data:`-string envelopes to plain
    * JSON (see [[Codecs.normalizeEnvelope]]). The decode UDF runs ONLY
    * for rows that can need it — form content-type, a `data=` body
    * prefix, or a body mentioning a `data`/`compression` key (cheap
    * substring gates, no JSON parse); the JSON hot path passes through
    * untouched inside whole-stage codegen.
    */
  /** THE envelope-marker gate — the one definition of "this body may
    * need the decode UDF", shared by [[decodeEnvelope]] and
    * [[deadLetters]] so the ingest path and the reject-stream
    * classifier cannot drift (a marker added to one but not the other
    * would ingest a payload while also quarantining it).
    */
  private def needsEnvelopeDecode(body: Column, isForm: Column): Column =
    isForm || body.startsWith("data=") ||
      body.contains("\"data\"") || body.contains("\"compression")

  def decodeEnvelope(body: Column, isForm: Column = lit(false)): Column =
    // the ND-marked UDF (pure; marker = optimizer fence): a
    // deterministic UDF alias gets inlined by CollapseProject into
    // EVERY downstream reference — measured 41 decode calls PER ROW
    // through the ingest chain (itemsArray probes, envelope fallbacks,
    // sent_at/api_key gates) before the fence. With it, the decoded
    // envelope materializes once per row and everything downstream
    // reads the attribute.
    when(needsEnvelopeDecode(body, isForm), decodeEnvelopeNdUdf(body, isForm))
      .otherwise(body)

  // ------------------------------------------------- S4/S5: item explode

  /** The item array of a normalized envelope: bare object, bare array,
    * `{data: obj|arr}`, `{batch:[..]}`, `{data:{batch:[..]}}`
    * (extractors.rs:429-564). Null when the body is unparseable.
    */
  private def itemsArray(body: Column): Column = {
    val batch = get_json_object(body, "$.batch")
    val dataBatch = get_json_object(body, "$.data.batch")
    val data = get_json_object(body, "$.data")
    // first JSON value that is the item container, by envelope precedence
    val container = coalesce(
      when(batch.startsWith("["), batch),
      when(dataBatch.startsWith("["), dataBatch),
      when(data.startsWith("[") || data.startsWith("{"), data),
      body)
    val asArray = when(container.startsWith("["), container)
      .otherwise(concat(lit("["), container, lit("]")))
    from_json(asArray, arrS)
  }

  /** Normalize the payload envelope and explode to one row per item.
    * Adds columns `envelope` (the original body), `item_idx`, `item`
    * (JSON string). Unparseable bodies yield no rows — route them
    * through [[deadLetters]] for the reject stream.
    */
  def explodeItems(df: DataFrame, body: Column): DataFrame =
    // itemsArray reads the ENVELOPE ATTRIBUTE, not the body expression:
    // referencing the expression again would re-evaluate it per probe
    // (for a UDF-decoded body that's the 41-calls-per-row trap the
    // decodeEnvelope fence exists to stop — one alias, one evaluation,
    // every downstream consumer reads the column)
    df.withColumn("envelope", body)
      .withColumn("__items", itemsArray(col("envelope")))
      .select(col("*"), posexplode(col("__items")).as(Seq("item_idx", "item")))
      .drop("__items")

  /** The reject stream: rows [[ingest]] silently drops, labeled with
    * why — the batch analogue of the reference's 4xx responses
    * (`PayloadExtractorError`). Same decode chain, inverse filter;
    * at scale this lands in a quarantine table for replay-after-fix.
    *
    *   - `empty`: null/blank body
    *   - `undecodable`: form/data envelope decode failed (bad base64,
    *     unsupported compression label, broken stream, missing data=)
    *   - `unparseable`: body is not JSON an envelope can be read from
    */
  /** The decode UDF marked NON-deterministic — semantics are identical
    * (the function is pure); the marker is a Catalyst optimizer fence.
    * [[deadLetters]]'s `reason` references the decoded envelope inside
    * multiple CaseWhen branches AND a filter: a plain projection alias
    * gets re-inlined by PushDownPredicates (the filter runs below the
    * project, with the decode expression duplicated per branch — where
    * codegen subexpression elimination does NOT hoist), so the
    * once-per-row guarantee needs a boundary predicate pushdown cannot
    * cross. IngestSpec pins one-UDF-in-the-optimized-plan.
    */
  private val decodeEnvelopeNdUdf = Codecs.normalizeEnvelopeUdf.asNondeterministic()

  def deadLetters(df: DataFrame, body: Column, isForm: Column = lit(false)): DataFrame = {
    // `__dl_decoded` is referenced by two CaseWhen conditions and the
    // reason filter. It materializes once per row behind a projection
    // boundary the optimizer cannot collapse or push a predicate past
    // (see [[decodeEnvelopeNdUdf]] — a deterministic alias gets
    // re-inlined into the pushed-down filter).
    val needs = needsEnvelopeDecode(body, isForm)
    val decoded = col("__dl_decoded")
    val reason = when(body.isNull || length(trim(body)) === 0, "empty")
      .when(decoded.isNull, "undecodable")
      .when(itemsArray(decoded).isNull, "unparseable")
    df.withColumn("__dl_decoded",
        when(needs, decodeEnvelopeNdUdf(body, isForm)).otherwise(body))
      .withColumn("reason", reason)
      .filter(col("reason").isNotNull)
      .drop("__dl_decoded")
  }

  // ------------------------------------------------ P7: item classification

  /** Classify a parsed item (lib.rs:1447-1592): explicit `type` field,
    * event-name sentinels, or `alias`+`distinct_id` presence. Takes the
    * item as an already-parsed string map so the JSON is parsed ONCE
    * per row across classification + projection (a 25× parse fan-out
    * otherwise — get_json_object re-parses on every call).
    */
  def classify(m: Column): Column = {
    val typ = element_at(m, "type")
    val ev = element_at(m, "event")
    when(typ === "identify" || ev === "$identify", "identify")
      .when(typ === "groupidentify" || ev === "$groupidentify", "group_identify")
      .when(typ === "alias" || ev === "$create_alias" ||
        (element_at(m, "alias").isNotNull &&
          element_at(m, "distinct_id").isNotNull && ev.isNull), "alias")
      .when(typ === "engage" ||
        (ev.isNull && (element_at(m, "$set").isNotNull ||
          element_at(m, "$set_once").isNotNull ||
          element_at(m, "$unset").isNotNull ||
          element_at(m, "$group_set").isNotNull)), "engage")
      .otherwise("capture")
  }

  // ----------------------------------------- canonical event construction

  /** Envelope keys that are NOT routed into `extra` (models.rs structs;
    * everything else serde-flattens into `extra`, models.rs:19-21).
    */
  val knownKeys: Seq[String] = Seq(
    "event", "distinct_id", "properties", "api_key", "token", "timestamp",
    "uuid", "type", "batch", "data", "alias", "group_type", "group_key",
    "context", "sent_at",
    "$anon_distinct_id", "$set", "$set_once", "$unset", "$group_set")

  /** Normalize exploded items to the canonical 21-column envelope.
    * One CASE-routed projection handles every item kind (the Spark
    * analogue of per-endpoint `from_*` builders, pipeline.rs:186-336).
    */
  def toCanonical(df: DataFrame, ctx: IngestContext): DataFrame = {
    // ONE JSON parse per item / per nested payload; every field below
    // is a map lookup on these parsed attributes. The aliases are
    // non-cheap and multiply-referenced, so CollapseProject keeps the
    // projection boundary and each parse really happens once per row
    // (get_json_object would re-parse the item on every call ~25x).
    val m = col("__m")
    val pm = col("__pm")
    val kind = col("kind")
    val props = element_at(m, "properties")
    val ev = element_at(m, "event")
    val typ = element_at(m, "type")
    // browser `/e` rewrites (lib.rs:500-581): sentinel EVENT name with no
    // explicit item `type` — person props live in top-level $set/$set_once,
    // group identity in properties.$group_type/$group_key/$group_set
    val browserIdentify = kind === "identify" && typ.isNull
    val browserGroupIdentify = kind === "group_identify" && typ.isNull
    val groupKey = coalesce(element_at(m, "group_key"), element_at(pm, "$group_key"),
      when(browserGroupIdentify, lit("unknown")))
    val groupType = coalesce(element_at(m, "group_type"), element_at(pm, "$group_type"),
      when(browserGroupIdentify, lit("unknown")))
    // properties-level fallback prefers the `$`-sentinel key — the
    // reference tries `$distinct_id` BEFORE `distinct_id`
    // (lib.rs:518-525); when both ride `properties` with different
    // values the sentinel must win
    val distinctId = coalesce(
      element_at(m, "distinct_id"),
      element_at(pm, "$distinct_id"),
      element_at(pm, "distinct_id"))
    // envelope-level sent_at beats the transport header
    // (extractors.rs:279-282). Substring-gated: the envelope JSON is
    // only parsed for bodies that can carry the key — get_json_object
    // re-parses the whole envelope, so the common no-sent_at row must
    // never pay it.
    val sentAt = coalesce(
      when(col("envelope").contains("\"sent_at\""),
        get_json_object(col("envelope"), "$.sent_at")),
      ctx.sentAtHeader)

    // extra = unknown top-level keys + routed copies (+ $sent_at)
    val unknown = map_filter(m, (k, _) => !k.isin(knownKeys: _*))
    val routed = map_filter(
      map(
        lit("alias"), element_at(m, "alias"),
        lit("group_type"), when(kind === "group_identify", groupType),
        lit("group_key"), when(kind === "group_identify", groupKey),
        lit("$anon_distinct_id"), element_at(m, "$anon_distinct_id"),
        lit("$set"), when(kind === "engage", element_at(m, "$set")),
        lit("$set_once"), when(kind === "engage" || browserIdentify, element_at(m, "$set_once")),
        lit("$unset"), when(kind === "engage", element_at(m, "$unset")),
        lit("$group_set"), when(kind === "engage", element_at(m, "$group_set")),
        lit("$sent_at"), sentAt),
      (_, v) => v.isNotNull)
    val extra = map_concat(unknown, map_filter(routed, (k, _) => !map_contains_key(unknown, k)))

    df.withColumn("__m", from_json(col("item"), mapSS))
      .withColumn("__pm", from_json(element_at(col("__m"), "properties"), mapSS))
      .withColumn("kind", classify(col("__m")))
      .select(
        col("*"),
        uuidDet(concat_ws(" ", col("envelope"), col("item_idx"))).as("uuid"),
        element_at(m, "team_id").cast("long").as("team_id"),
        lit("posthog").as("source"),
        when(kind === "identify", "$identify")
          .when(kind === "group_identify", "$groupidentify")
          .when(kind === "alias", "$create_alias")
          .when(kind === "engage", "$engage")
          .otherwise(ev).as("event"),
        when(kind === "group_identify", coalesce(groupKey, distinctId))
          .otherwise(distinctId).as("distinct_id"),
        to_timestamp(element_at(m, "timestamp")).as("timestamp"),
        ctx.now.as("created_at"),
        // group_identify carries the group's property updates (server:
        // item `properties`; browser: `properties.$group_set`) —
        // pipeline.rs from_group_identify properties = payload.properties
        when(kind === "capture", props)
          .when(kind === "group_identify",
            when(typ === "groupidentify", props).otherwise(element_at(pm, "$group_set")))
          .as("properties"),
        // identify person props: server items carry them in `properties`;
        // browser $identify carries them in top-level $set (lib.rs:532-546)
        when(kind === "identify",
          when(browserIdentify, element_at(m, "$set")).otherwise(props))
          .as("person_properties"),
        element_at(m, "context").as("context"),
        // null at ingest BY DESIGN: person_id/person_created_at are
        // stamped later by the P9 person-snapshot join
        // (StateQueries.pipeSnapshot) once replayed state exists —
        // mirroring the reference, where ingest emits them empty and
        // the person pipeline backfills (pipeline.rs:186-336)
        lit(null).cast("string").as("person_id"),
        lit(null).cast("timestamp").as("person_created_at"),
        lit(null).cast("string").as("group_properties"),
        // the envelope fallbacks sit behind the coalesce short-circuit:
        // rows whose item carries a key never re-parse the envelope.
        // api_key-before-token is uniform here; the reference is
        // endpoint-dependent when a payload carries BOTH (token-first
        // on /e lib.rs:515, api_key-first on /decide lib.rs:1065) —
        // real SDKs send one or the other, and the batch normalizer
        // has no endpoint axis to dispatch on (documented divergence)
        coalesce(
          element_at(m, "api_key"),
          element_at(m, "token"),
          get_json_object(col("envelope"), "$.api_key"),
          get_json_object(col("envelope"), "$.token"),
          ctx.headerApiKey).as("api_key"),
        extra.as("extra"))
      .drop("__m", "__pm")
  }

  /** Full pipeline: body → envelope decode (form/base64/compressed
    * `data:` payloads, gated off the JSON hot path) → explode →
    * canonical → group slots. `isForm` marks rows whose request
    * content-type was `application/x-www-form-urlencoded`.
    */
  def ingest(df: DataFrame, body: Column, ctx: IngestContext,
      isForm: Column = lit(false)): DataFrame =
    groupSlots(toCanonical(explodeItems(df, decodeEnvelope(body, isForm)), ctx), ctx)

  /** S9: session-recording intake (`/s`) — the raw snapshot chunk lands
    * as a `$snapshot` event with the whole payload in `properties`;
    * distinct_id resolves via the `/data/metadata/distinct_id` JSON
    * pointer, then top-level `distinct_id`, then the literal
    * `"session-recording"` (lib.rs:1149-1189, pipeline.rs:338-365).
    */
  def sessionIntake(df: DataFrame, body: Column, ctx: IngestContext): DataFrame =
    df.select(
      col("*"),
      uuidDet(body).as("uuid"),
      lit(null).cast("long").as("team_id"),
      lit("posthog").as("source"),
      lit("$snapshot").as("event"),
      coalesce(
        get_json_object(body, "$.data.metadata.distinct_id"),
        get_json_object(body, "$.distinct_id"),
        lit("session-recording")).as("distinct_id"),
      lit(null).cast("timestamp").as("timestamp"),
      ctx.now.as("created_at"),
      body.as("properties"),
      lit(null).cast("string").as("context"),
      lit(null).cast("string").as("person_id"),
      lit(null).cast("timestamp").as("person_created_at"),
      lit(null).cast("string").as("person_properties"),
      lit(null).cast("string").as("group0"), lit(null).cast("string").as("group1"),
      lit(null).cast("string").as("group2"), lit(null).cast("string").as("group3"),
      lit(null).cast("string").as("group4"),
      lit(null).cast("string").as("group_properties"),
      coalesce(ctx.headerApiKey, get_json_object(body, "$.token")).as("api_key"),
      map_filter(map(lit("$sent_at"), ctx.sentAtHeader), (_, v) => v.isNotNull).as("extra"))

  // ----------------------------------------------------- P8: enrichment

  /** Insert-if-absent property enrichment (extractors.rs:82-178 +
    * pipeline.rs:413-433 "no overwrite" semantics): `$ip` and geo
    * fields enter `properties` only where the client didn't set them.
    * Rows needing no enrichment keep their properties string untouched
    * (full JSON fidelity).
    */
  def enrich(df: DataFrame, ctx: IngestContext): DataFrame = {
    // One `"key":value` JSON text fragment per request-context field.
    // String values: trimmed, empty-dropped (extractors.rs header_value),
    // escaped+quoted; geoJson values are raw JSON fragments (typed).
    def esc(v: Column): Column =
      regexp_replace(regexp_replace(v, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    def strFrag(k: String, v: Column): Column = {
      val t = trim(v)
      when(v.isNotNull && length(t) > 0,
        concat(lit("\"" + k + "\":\""), esc(t), lit("\"")))
    }
    def jsonFrag(k: String, v: Column): Column =
      when(v.isNotNull, concat(lit("\"" + k + "\":"), v))
    val frags: Seq[(String, Column)] =
      Seq("$ip" -> strFrag("$ip", ctx.requestIp)) ++
        ctx.geo.map { case (k, v) => k -> strFrag(k, v) } ++
        ctx.geoJson.map { case (k, v) => k -> jsonFrag(k, v) }

    // Insert-if-absent by SPLICING fragments into the original JSON
    // text before the closing brace: the client's bytes — nested
    // objects, number formatting, key order — are never re-serialized
    // (a parse→merge→to_json round-trip re-quotes or reformats), and
    // the per-row cost is one keys-only parse + string concat instead
    // of a full value materialization. Non-object properties pass
    // through untouched (the reference merges into objects only).
    val t = col("__ptrim")
    val keys = col("__pkeys")
    val missingFrags = filter(
      array(frags.map { case (k, frag) =>
        when(!array_contains(keys, k), frag)
      }: _*),
      f => f.isNotNull)
    val isObj = t.startsWith("{") && t.endsWith("}")
    val isEmptyObj = t.rlike("^\\{\\s*\\}$")
    val spliced = concat(
      t.substr(lit(1), length(t) - 1),
      when(isEmptyObj, lit("")).otherwise(lit(",")),
      array_join(missingFrags, ","),
      lit("}"))
    df.withColumn("__ptrim", trim(coalesce(col("properties"), lit("{}"))))
      .withColumn("__pkeys",
        coalesce(json_object_keys(t), array().cast("array<string>")))
      .withColumn("properties",
        when(isObj && size(missingFrags) > 0, spliced).otherwise(col("properties")))
      .drop("__ptrim", "__pkeys")
  }

  // ---------------------------------------------- P10: group slot mapping

  /** `$groups: {type→key}` → positional `group0..group4` columns
    * (lib.rs:1378-1391, GroupTypeMap `groups.rs:96-123`).
    */
  def groupSlots(df: DataFrame, ctx: IngestContext): DataFrame = {
    // parse `$groups` ONCE behind a projection boundary (the same
    // discipline as toCanonical's __m/__pm): a per-slot from_json
    // would re-extract + re-parse the properties JSON 5× per row.
    // The alias is non-cheap and multiply referenced, so
    // CollapseProject keeps the boundary.
    val withG = df.withColumn("__groups",
      from_json(get_json_object(col("properties"), "$.$groups"), mapSS))
    val slots = ctx.groupTypes.zipWithIndex.map { case (t, i) =>
      element_at(col("__groups"), t).as(s"group$i")
    }
    withG.select(col("*") +: slots: _*).drop("__groups")
  }
}
