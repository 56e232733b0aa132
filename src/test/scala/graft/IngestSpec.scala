package graft

import graft.ingest.{Codecs, EventSchema, Normalizer}
import graft.ingest.Normalizer.IngestContext
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit vectors for the ingest chain, mirroring the reference's own
  * tests (FIXTURES.md §1; extractors.rs:764-1091, models.rs:178-274,
  * pipeline.rs:458-600, posthog_endpoints.rs).
  */
class IngestSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def ingestOne(body: String, ctx: IngestContext = IngestContext()) = {
    import spark.implicits._
    Normalizer.ingest(Seq(body).toDF("body"), col("body"), ctx)
  }

  // FIXTURES 1.1 — capture with unknown key routing + header precedence
  test("capture: field routing, unknown keys → extra, api_key precedence") {
    val body =
      """{"event":"integration-capture","distinct_id":"capture-user",
        |"properties":{"plan":"pro"},"library":"tests","api_key":"phc_item"}""".stripMargin.replaceAll("\n", "")
    val ctx = IngestContext(
      headerApiKey = lit("phc_header"),
      sentAtHeader = lit("2024-05-01T10:00:00Z"))
    val r = ingestOne(body, ctx).collect().head
    assert(r.getAs[String]("event") == "integration-capture")
    assert(r.getAs[String]("distinct_id") == "capture-user")
    assert(r.getAs[String]("api_key") == "phc_item") // item wins over header
    val extra = r.getAs[Map[String, String]]("extra")
    assert(extra("library") == "tests")
    assert(extra("$sent_at") == "2024-05-01T10:00:00Z")
    assert(r.getAs[String]("properties").contains("\"plan\""))
    assert(r.getAs[String]("kind") == "capture")
  }

  test("capture: header api_key only used when body has none") {
    val r = ingestOne("""{"event":"e","distinct_id":"d"}""",
      IngestContext(headerApiKey = lit("phc_header"))).collect().head
    assert(r.getAs[String]("api_key") == "phc_header")
  }

  // FIXTURES 1.3 — identify: props land in person_properties
  test("identify: event=$identify, properties → person_properties") {
    val body =
      """{"type":"identify","distinct_id":"person-1",
        |"properties":{"$set":{"email":"p1@example.com"},"$set_once":{"created_at":"2024-01-01"}}}"""
        .stripMargin.replaceAll("\n", "")
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "$identify")
    assert(r.getAs[String]("properties") == null)
    assert(r.getAs[String]("person_properties").contains("email"))
  }

  test("identify classified from event sentinel") {
    val r = ingestOne("""{"event":"$identify","distinct_id":"d"}""").collect().head
    assert(r.getAs[String]("kind") == "identify")
  }

  // FIXTURES 1.4 — alias
  test("alias: $create_alias with extra.alias") {
    val r = ingestOne("""{"distinct_id":"person-1","alias":"anon-1"}""").collect().head
    assert(r.getAs[String]("event") == "$create_alias")
    assert(r.getAs[Map[String, String]]("extra")("alias") == "anon-1")
    assert(r.getAs[String]("kind") == "alias")
  }

  // FIXTURES 1.5 — engage
  test("engage: top-level $set/$unset routed to extra") {
    val r = ingestOne("""{"distinct_id":"people-1","$set":{"name":"Alex"},"$unset":["temp"]}""")
      .collect().head
    assert(r.getAs[String]("event") == "$engage")
    val extra = r.getAs[Map[String, String]]("extra")
    assert(extra("$set").contains("Alex"))
    assert(extra("$unset") == """["temp"]""")
  }

  // FIXTURES 1.6 — group identify
  test("group identify: distinct_id := group_key; type/key in extra") {
    val body = """{"type":"groupidentify","group_type":"team","group_key":"team-42","properties":{"members":3}}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "$groupidentify")
    assert(r.getAs[String]("distinct_id") == "team-42")
    val extra = r.getAs[Map[String, String]]("extra")
    assert(extra("group_type") == "team" && extra("group_key") == "team-42")
  }

  // FIXTURES 1.7 — mixed batch with envelope inheritance
  test("batch: explode + per-item classification + shared api_key") {
    val body =
      """{"api_key":"phc_env","batch":[
        |{"event":"page_view","distinct_id":"u1"},
        |{"type":"identify","distinct_id":"u1","properties":{"plan":"pro"}},
        |{"distinct_id":"u1","alias":"anon-7"}]}""".stripMargin.replaceAll("\n", "")
    val rows = ingestOne(body).orderBy("item_idx").collect()
    assert(rows.map(_.getAs[String]("kind")).toSeq == Seq("capture", "identify", "alias"))
    assert(rows.forall(_.getAs[String]("api_key") == "phc_env"))
  }

  test("envelope forms: {data: obj}, {data: [..]}, bare array") {
    assert(ingestOne("""{"data":{"event":"e1","distinct_id":"d"}}""").count() == 1)
    assert(ingestOne("""{"data":[{"event":"e1","distinct_id":"d"},{"event":"e2","distinct_id":"d"}]}""").count() == 2)
    assert(ingestOne("""[{"event":"e1","distinct_id":"d"}]""").count() == 1)
    assert(ingestOne("""{"data":{"batch":[{"event":"e1","distinct_id":"d"}]}}""").count() == 1)
  }

  // browser /e: token + distinct_id inside properties
  test("browser capture: token → api_key, distinct_id from properties") {
    val body = """{"event":"click","token":"phc_tok","properties":{"$distinct_id":"bu-1"}}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("api_key") == "phc_tok")
    assert(r.getAs[String]("distinct_id") == "bu-1")
  }

  // P8 enrichment: insert-if-absent only
  test("enrichment never overwrites client properties") {
    import spark.implicits._
    val df = Seq(
      """{"event":"e","distinct_id":"d","properties":{"$ip":"client-ip"}}""",
      """{"event":"e","distinct_id":"d","properties":{"x":"1"}}""").toDF("body")
    val ctx = IngestContext(requestIp = lit("7.7.7.7"),
      geo = Seq("$geoip_country_code" -> lit("DE")))
    val out = Normalizer.enrich(Normalizer.ingest(df, col("body"), ctx), ctx)
      .select(get_json_object(col("properties"), "$.$ip").as("ip"),
        get_json_object(col("properties"), "$.$geoip_country_code").as("cc"))
      .collect()
    assert(out(0).getAs[String]("ip") == "client-ip") // kept (pipeline.rs:420-424)
    assert(out(0).getAs[String]("cc") == "DE")
    assert(out(1).getAs[String]("ip") == "7.7.7.7")
  }

  test("enrichment preserves nested client properties and typed JSON fragments") {
    import spark.implicits._
    val df = Seq("""{"event":"e","distinct_id":"d","properties":{"nested":{"b":1},"arr":[1,2]}}""").toDF("body")
    val ctx = IngestContext(requestIp = lit("7.7.7.7"),
      geo = Seq("cf_ray" -> lit("ray-9")),
      geoJson = Seq("cf_asn" -> lit("13335")))
    val props = Normalizer.enrich(Normalizer.ingest(df, col("body"), ctx), ctx)
      .select(col("properties")).collect().head.getString(0)
    // nested object/array survive the merge byte-faithfully (variant map,
    // not a string-typed map that would re-quote them)
    assert(props.contains(""""nested":{"b":1}"""), props)
    assert(props.contains(""""arr":[1,2]"""), props)
    assert(props.contains(""""cf_asn":13335"""), props) // number, not "13335"
    assert(props.contains(""""cf_ray":"ray-9""""), props)
  }

  // P10 group slots
  test("group slot mapping via configured type order") {
    val body = """{"event":"e","distinct_id":"d","properties":{"$groups":{"team":"t-9","company":"acme"}}}"""
    val r = Normalizer.groupSlots(ingestOne(body), IngestContext()).collect().head
    assert(r.getAs[String]("group0") == "acme") // company = slot 0
    assert(r.getAs[String]("group1") == "t-9")  // team = slot 1
    assert(r.getAs[String]("group2") == null)
  }

  // S3 — form-encoded / base64 / compressed data envelopes
  // (ported from extractors.rs:829-1091 test vectors)

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  test("form: data=<base64 json>&api_key (parses_form_encoded_payload)") {
    val event = """{"event":"form-test","distinct_id":"user"}"""
    val body = s"data=${b64(event.getBytes("UTF-8"))}&api_key=phc_form"
    val r = ingestOne(body).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("event") == "form-test")
    assert(r.head.getAs[String]("distinct_id") == "user")
    assert(r.head.getAs[String]("api_key") == "phc_form")
  }

  test("form: compression=gzip-js is a ZLIB stream (parses_form_payload_with_compression)") {
    val event = """{"event":"compressed-form","distinct_id":"form-user"}"""
    val enc = java.net.URLEncoder.encode(b64(Codecs.zlibCompress(event.getBytes("UTF-8"))), "UTF-8")
    val body = s"data=$enc&compression=gzip-js&api_key=phc_compressed"
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "compressed-form")
    assert(r.getAs[String]("distinct_id") == "form-user")
    assert(r.getAs[String]("api_key") == "phc_compressed")
  }

  test("json {data:<base64 zlib>} with no label sniffs (parses_json_payload_with_implicit_compression)") {
    val event = """{"event":"implicit-compression","distinct_id":"json-user"}"""
    val body = s"""{"data":"${b64(Codecs.zlibCompress(event.getBytes("UTF-8")))}","api_key":"phc_json_compressed"}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "implicit-compression")
    assert(r.getAs[String]("api_key") == "phc_json_compressed")
  }

  test("json {data:<base64 zlib {batch:..}>, compression:gzip-js} (parses_compressed_batch_payload)") {
    val inner = """{"batch":[{"event":"wrapped-batch","distinct_id":"wrapped-user"}],"sent_at":"2025-02-02T00:00:00Z"}"""
    val body = s"""{"data":"${b64(Codecs.zlibCompress(inner.getBytes("UTF-8")))}","compression":"gzip-js","api_key":"phc_wrapped_batch"}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "wrapped-batch")
    assert(r.getAs[String]("distinct_id") == "wrapped-user")
    assert(r.getAs[String]("api_key") == "phc_wrapped_batch")
    assert(r.getAs[Map[String, String]]("extra")("$sent_at") == "2025-02-02T00:00:00Z")
  }

  test("double-encoded data: JSON-string data field with plain JSON inside") {
    val event = """{"event":"double-enc","distinct_id":"dd"}"""
    // data value is a JSON *string* holding JSON text (posthog-js emits
    // this shape in some modes) — must decode, not be mis-sniffed
    val body = s"""{"data":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(event)}}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "double-enc")
    assert(r.getAs[String]("distinct_id") == "dd")
  }

  test("form: undecodable / unsupported-compression rows dead-letter to zero rows") {
    assert(ingestOne("data=%%%garbage&compression=lz64").count() == 0)
    assert(ingestOne("api_key=phc_only").count() == 0) // no data pair → MissingData
  }

  test("decodeDataString ladder: labeled gzip, labeled zlib aliases, scalar roots rejected") {
    val json = """{"a":1}"""
    val jb = json.getBytes("UTF-8")
    assert(new String(Codecs.decodeDataString(b64(Codecs.gzipCompress(jb)), "gzip")) == json)
    for (label <- Seq("gzip-js", "zlib", "deflate"))
      assert(new String(Codecs.decodeDataString(b64(Codecs.zlibCompress(jb)), label)) == json)
    assert(Codecs.decodeDataString(b64(Codecs.zlibCompress(jb)), "br") == null) // unsupported
    assert(Codecs.decodeDataString(b64("42".getBytes("UTF-8")), null) == null)  // scalar root
    assert(new String(Codecs.decodeDataString(json, null)) == json)             // raw fallback
  }

  test("transport equivalence: one logical payload, four encodings, identical canonical rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def randItem(i: Int): String = {
      val props = Seq(
        s""""k$i": ${rnd.nextInt(1000)}""",
        s""""s": "v${rnd.nextInt(10)}"""",
        s""""nested": {"a": ${rnd.nextInt(5)}, "b": [1, 2, "x"]}""").mkString(", ")
      i % 4 match {
        case 0 => s"""{"event": "e$i", "distinct_id": "d$i", "properties": {$props}}"""
        case 1 => s"""{"type": "identify", "distinct_id": "d$i", "properties": {$props}}"""
        case 2 => s"""{"distinct_id": "d$i", "alias": "a$i"}"""
        case _ => s"""{"distinct_id": "d$i", "$$set": {$props}}"""
      }
    }
    val inner = s"""{"batch": [${(0 until 8).map(randItem).mkString(",")}]}"""

    def encB(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    def enc(s2: String): String = encB(s2.getBytes("UTF-8"))
    def urlenc(s2: String) = java.net.URLEncoder.encode(s2, "UTF-8")
    val transports = Seq(
      s"""{"api_key": "pk", "batch": ${inner.drop("""{"batch": """.length).dropRight(1)}}""", // plain JSON
      s"data=${urlenc(enc(inner))}&api_key=pk",                                              // form + base64
      s"data=${urlenc(encB(Codecs.zlibCompress(inner.getBytes("UTF-8"))))}&compression=gzip-js&api_key=pk", // form + gzip-js
      s"""{"data": "${encB(Codecs.zlibCompress(inner.getBytes("UTF-8")))}", "api_key": "pk"}""") // JSON data, sniffed

    val canons = transports.map { body =>
      ingestOne(body).orderBy("item_idx")
        .select("item_idx", "kind", "event", "distinct_id", "api_key",
          "properties", "person_properties")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    }
    assert(canons.head.size == 8)
    canons.tail.zipWithIndex.foreach { case (c, i) =>
      assert(c == canons.head, s"transport ${i + 1} diverged from plain JSON")
    }
  }

  // P6 — browser $identify / $groupidentify rewrites (lib.rs:500-581)

  test("browser $identify: top-level $set → person_properties, $set_once → extra") {
    val body =
      """{"event":"$identify","properties":{"$distinct_id":"bu-2"},
        |"$set":{"plan":"pro"},"$set_once":{"first_seen":"2024-01-01"},"token":"phc_b"}"""
        .stripMargin.replaceAll("\n", "")
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("event") == "$identify")
    assert(r.getAs[String]("distinct_id") == "bu-2")
    assert(r.getAs[String]("person_properties").contains("\"plan\""))
    assert(r.getAs[Map[String, String]]("extra")("$set_once").contains("first_seen"))
    assert(r.getAs[String]("api_key") == "phc_b")
  }

  test("server identify (type) keeps properties → person_properties, no $set rerouting") {
    val body = """{"type":"identify","distinct_id":"sv-1","properties":{"email":"a@b.c"}}"""
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("person_properties").contains("email"))
  }

  test("browser $groupidentify: $group_type/$group_key/$group_set routing + unknown defaults") {
    val body =
      """{"event":"$groupidentify","distinct_id":"u9",
        |"properties":{"$group_type":"team","$group_key":"t-1","$group_set":{"tier":"gold"}}}"""
        .stripMargin.replaceAll("\n", "")
    val r = ingestOne(body).collect().head
    assert(r.getAs[String]("distinct_id") == "t-1") // group_key becomes distinct_id
    assert(r.getAs[String]("properties").contains("gold")) // $group_set → properties
    val extra = r.getAs[Map[String, String]]("extra")
    assert(extra("group_type") == "team" && extra("group_key") == "t-1")

    val missing = ingestOne("""{"event":"$groupidentify","distinct_id":"u9","properties":{}}""")
      .collect().head
    assert(missing.getAs[String]("distinct_id") == "unknown") // unwrap_or("unknown")
    assert(missing.getAs[Map[String, String]]("extra")("group_type") == "unknown")
  }

  test("context field lands in the context column") {
    val r = ingestOne("""{"event":"e","distinct_id":"d","context":{"page":"/home"}}""")
      .collect().head
    assert(r.getAs[String]("context").contains("/home"))
  }

  // S2/S3 codecs
  test("codec round-trips + sniffing (extractors.rs:593-631)") {
    val s = """{"event":"e"}"""
    val b = s.getBytes("UTF-8")
    assert(new String(Codecs.decodeAuto(Codecs.gzipCompress(b), "gzip")) == s)
    assert(new String(Codecs.decodeAuto(Codecs.zlibCompress(b), "zlib")) == s)
    assert(new String(Codecs.decodeAuto(Codecs.gzipCompress(b), "gzip-js")) == s)
    // sniffed (no label): gzip magic, zlib magic, passthrough
    assert(new String(Codecs.decodeAuto(Codecs.gzipCompress(b), null)) == s)
    assert(new String(Codecs.decodeAuto(Codecs.zlibCompress(b), null)) == s)
    assert(new String(Codecs.decodeAuto(b, null)) == s)
    assert(Codecs.decodeAuto("not-compressed-garbage".getBytes, "gzip") == null)
  }

  test("HMAC verification (sha256= and sha1= prefixes, constant-time)") {
    val body = "payload-bytes".getBytes("UTF-8")
    val sig256 = "sha256=" + Codecs.hmacSha256Hex("secret", body)
    val sig1 = "sha1=" + Codecs.hmacSha1Hex("secret", body)
    assert(Codecs.verifySignature("secret", body, sig256))
    assert(Codecs.verifySignature("secret", body, sig1))
    assert(!Codecs.verifySignature("wrong", body, sig256))
    assert(!Codecs.verifySignature("secret", "other".getBytes, sig256))
    assert(!Codecs.verifySignature("secret", body, null))
    // independently generated vectors (python hmac module):
    assert(Codecs.hmacSha256Hex("k", "msg".getBytes) ==
      "bf1a0c1242929b6464a6c0a9ac6298a67e09bd1cd4ef1f182ce0141691fc17a0")
    assert(Codecs.hmacSha1Hex("k", "msg".getBytes) ==
      "d399ee7220448ae3e41d547804291b39302cedc7")
  }

  test("dead letters: the decode UDF appears ONCE in the optimized plan (pushdown-proof)") {
    import spark.implicits._
    // A deterministic decode alias gets re-inlined by PushDownPredicates
    // into the reason filter — one decode PER CaseWhen branch per row
    // (the q_ingest_dead r10 slow-mode suspect). The nondeterministic
    // fence must keep exactly one UDF call site in the whole plan.
    // repartition blocks ConvertToLocalRelation from evaluating the
    // whole tiny plan at optimization time
    val df = Seq(
      """{"event":"ok","distinct_id":"d"}""",
      "data=!!!bad~base64&compression=br", "   ", "@@not-json").toDF("body")
      .repartition(2)
    val plan = Normalizer.deadLetters(df, col("body"))
      .queryExecution.optimizedPlan.toString
    val udfSites = "UDF".r.findAllIn(plan).size
    assert(udfSites == 1, s"decode UDF inlined $udfSites times:\n$plan")
    // semantics unchanged: reasons classify as before
    val got = Normalizer.deadLetters(df, col("body"))
      .select(col("body"), col("reason")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("   ") == "empty")
    assert(got("data=!!!bad~base64&compression=br") == "undecodable")
    assert(got("@@not-json") == "unparseable")
    assert(!got.contains("""{"event":"ok","distinct_id":"d"}"""))
  }

  test("deterministic uuid shape + stability") {
    import spark.implicits._
    val df = Seq("x").toDF("s")
    val u = df.select(Normalizer.uuidDet(col("s")).as("u")).collect().head.getString(0)
    assert(u.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    val u2 = df.select(Normalizer.uuidDet(col("s")).as("u")).collect().head.getString(0)
    assert(u == u2)
  }

  test("canonical schema fields all present") {
    val out = ingestOne("""{"event":"e","distinct_id":"d"}""")
    val names = out.columns.toSet
    EventSchema.schema.fields.foreach(f => assert(names.contains(f.name), f.name))
  }

  // P6 fuzz: randomized adversarial browser `/e` payloads — the
  // distinct_id fallback chain (top-level > properties.$distinct_id >
  // properties.distinct_id, lib.rs:518-525), $identify/$groupidentify
  // routing, unknown-group defaults, and api_key-vs-header precedence,
  // checked against an independent Scala mirror of the reference's
  // resolution rules. Ids are drawn from an escape-free adversarial
  // pool (unicode, spaces, sentinel-lookalike strings, empty, 300-char)
  // so the JSON stays hand-assemblable. Payloads carry at most ONE of
  // token/api_key: with both present the reference is endpoint-
  // dependent (token-first on /e lib.rs:515, api_key-first on /decide
  // lib.rs:1065) while the batch engine is uniformly api_key-first.
  test("fuzz: browser /e rewrite distinct_id chain + routing (300 adversarial payloads)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    def jobj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jstr(s: String): String = "\"" + s + "\""
    val idPool = Vector[Int => String](
      n => s"u-$n", n => s"üser-ид-$n", n => s"sp ace $n",
      n => s"$$distinct_id-$n", _ => "distinct_id", _ => "",
      n => "x" * 300 + n)
    def mkId(n: Int): String = idPool(rnd.nextInt(idPool.size))(n)
    def opt[A](v: => A): Option[A] = if (rnd.nextBoolean()) Some(v) else None

    case class C(i: Int, body: String, expEvent: String, expDid: Option[String],
      expKey: Option[String], expGType: Option[String], expGKey: Option[String],
      expPPlan: Option[String])

    val cases = (0 until 300).map { n =>
      val shape = rnd.nextInt(3) // 0=$identify 1=$groupidentify 2=capture
      val top = opt(mkId(n))
      val pSent = opt(mkId(n + 1000))
      val pPlain = opt(mkId(n + 2000))
      val itemKey = rnd.nextInt(3) match {
        case 0 => Some("token" -> s"tok-$n")
        case 1 => Some("api_key" -> s"ak-$n")
        case _ => None
      }
      val gType = opt(s"team$n")
      val gKey = opt(s"gk-$n")
      val gSet = opt(s"tier-$n")
      val setPlan = opt(s"plan-$n")

      val didProps: Seq[(String, String)] =
        pSent.map("$distinct_id" -> jstr(_)).toSeq ++
          pPlain.map("distinct_id" -> jstr(_))
      val chain = top.orElse(pSent).orElse(pPlain)

      val (body, exp) = shape match {
        case 0 =>
          val b = jobj(
            Seq("event" -> jstr("$identify")) ++
              top.map("distinct_id" -> jstr(_)) ++
              Seq("properties" -> jobj(didProps)) ++
              setPlan.map(p => "$set" -> jobj(Seq("plan" -> jstr(p)))) ++
              itemKey.map { case (k, v) => k -> jstr(v) })
          (b, C(n, b, "$identify", chain, itemKey.map(_._2), None, None, setPlan))
        case 1 =>
          val gProps = didProps ++
            gType.map("$group_type" -> jstr(_)) ++
            gKey.map("$group_key" -> jstr(_)) ++
            gSet.map(t => "$group_set" -> jobj(Seq("tier" -> jstr(t))))
          val b = jobj(
            Seq("event" -> jstr("$groupidentify")) ++
              top.map("distinct_id" -> jstr(_)) ++
              Seq("properties" -> jobj(gProps)) ++
              itemKey.map { case (k, v) => k -> jstr(v) })
          // group_key becomes distinct_id; both default to "unknown"
          (b, C(n, b, "$groupidentify", Some(gKey.getOrElse("unknown")),
            itemKey.map(_._2), Some(gType.getOrElse("unknown")),
            Some(gKey.getOrElse("unknown")), None))
        case _ =>
          val b = jobj(
            Seq("event" -> jstr(s"click-$n")) ++
              top.map("distinct_id" -> jstr(_)) ++
              Seq("properties" -> jobj(didProps)) ++
              itemKey.map { case (k, v) => k -> jstr(v) })
          (b, C(n, b, s"click-$n", chain, itemKey.map(_._2), None, None, None))
      }
      exp.copy(body = body)
    }

    val ctx = IngestContext(headerApiKey = lit("hh-key"))
    val out = Normalizer.ingest(
        cases.map(c => (c.i, c.body)).toDF("i", "body"), col("body"), ctx)
      .select(col("i"), col("event"), col("distinct_id"), col("api_key"),
        col("person_properties"),
        element_at(col("extra"), "group_type").as("g_type"),
        element_at(col("extra"), "group_key").as("g_key"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.size == cases.size)

    cases.foreach { c =>
      val r = out(c.i)
      assert(r.getAs[String]("event") == c.expEvent, s"case ${c.i}: ${c.body}")
      assert(Option(r.getAs[String]("distinct_id")) == c.expDid,
        s"case ${c.i} distinct_id: got ${r.getAs[String]("distinct_id")} " +
          s"want ${c.expDid} body=${c.body}")
      assert(r.getAs[String]("api_key") == c.expKey.getOrElse("hh-key"),
        s"case ${c.i} api_key: ${c.body}")
      assert(Option(r.getAs[String]("g_type")) == c.expGType, s"case ${c.i}: ${c.body}")
      assert(Option(r.getAs[String]("g_key")) == c.expGKey, s"case ${c.i}: ${c.body}")
      c.expPPlan.foreach(p => assert(
        r.getAs[String]("person_properties").contains(p), s"case ${c.i}: ${c.body}"))
    }
  }
}
