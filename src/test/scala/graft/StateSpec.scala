package graft

import graft.state._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Person/group state machine vectors ported from the reference's unit
  * tests (`persons.rs:863-961`, `groups.rs`), plus identity-resolution
  * fixpoint cases.
  */
class StateSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def op(id: String, ord: Long,
      set: Map[String, String] = Map.empty,
      setOnce: Map[String, String] = Map.empty,
      unset: Seq[String] = Nil,
      aliasTo: Option[String] = None) =
    PersonOp(id, ord, set, setOnce, unset, aliasTo)

  private def replay(ops: PersonOp*): Map[String, PersonRecord] = {
    import spark.implicits._
    Replay.persons(spark, ops.toDS()).collect().map(r => r.canonical_id -> r).toMap
  }

  // persons.rs:869-884 — $set overwrites
  test("$set overwrites existing properties") {
    val r = replay(
      op("d1", 1, set = Map("plan" -> "free")),
      op("d1", 2, set = Map("plan" -> "pro")))("d1")
    assert(r.properties == Map("plan" -> "pro"))
    assert(r.version == 2)
  }

  // persons.rs:887-908 — $set_once ignored when key present in either map
  test("$set_once writes only when absent from both maps") {
    val r = replay(
      op("d1", 1, setOnce = Map("first" -> "a")),
      op("d1", 2, setOnce = Map("first" -> "b")))("d1")
    assert(r.properties_set_once == Map("first" -> "a"))

    val r2 = replay(
      op("d1", 1, set = Map("k" -> "set-val")),
      op("d1", 2, setOnce = Map("k" -> "once-val")))("d1")
    assert(r2.properties == Map("k" -> "set-val"))
    assert(r2.properties_set_once.isEmpty)
  }

  // persons.rs:911-928 — $unset removes from both maps
  test("$unset removes from properties and set_once") {
    val r = replay(
      op("d1", 1, set = Map("a" -> "1"), setOnce = Map("b" -> "2")),
      op("d1", 2, unset = Seq("a", "b")))("d1")
    assert(r.properties.isEmpty && r.properties_set_once.isEmpty)
    assert(r.version == 2)
  }

  test("set after unset re-establishes; set_once after unset re-fires") {
    val r = replay(
      op("d1", 1, set = Map("p" -> "1"), setOnce = Map("q" -> "1")),
      op("d1", 2, unset = Seq("p", "q")),
      op("d1", 3, set = Map("p" -> "2"), setOnce = Map("q" -> "2")))("d1")
    assert(r.properties == Map("p" -> "2"))
    assert(r.properties_set_once == Map("q" -> "2"))
  }

  // persons.rs:931-960 — merge unions ids; fold order decides conflicts
  test("alias merges two persons: distinct_ids union, single record") {
    val rs = replay(
      op("anon-1", 1, set = Map("pre" -> "anon")),
      op("u1", 2, set = Map("plan" -> "pro"), aliasTo = Some("anon-1")),
      op("anon-1", 3, set = Map("post" -> "yes")))
    assert(rs.size == 1)
    val r = rs.values.head
    assert(r.distinct_ids == Seq("anon-1", "u1"))
    assert(r.properties == Map("pre" -> "anon", "plan" -> "pro", "post" -> "yes"))
  }

  test("alias chain resolves transitively (redirect chain)") {
    val rs = replay(
      op("a", 1, set = Map("k" -> "a")),
      op("b", 2, aliasTo = Some("a")),
      op("c", 3, aliasTo = Some("b")),
      op("c", 4, set = Map("k2" -> "c")))
    assert(rs.size == 1)
    assert(rs.values.head.distinct_ids == Seq("a", "b", "c"))
    assert(rs.values.head.properties == Map("k" -> "a", "k2" -> "c"))
  }

  test("labelOf priority elects identified id as canonical") {
    import spark.implicits._
    val prio: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => concat(when(id.startsWith("anon-"), "1").otherwise("0"), lit("|"), id)
    val recs = Replay.persons(spark, Seq(
      op("anon-9", 1, set = Map("x" -> "1")),
      op("u9", 2, aliasTo = Some("anon-9"))).toDS(), prio).collect()
    assert(recs.length == 1)
    assert(recs.head.canonical_id == "u9")
  }

  test("sequential person ids are dense, first-touch ordered") {
    val rs = replay(
      op("z", 10, set = Map("k" -> "1")),
      op("a", 20, set = Map("k" -> "1")),
      op("m", 5, set = Map("k" -> "1")))
    assert(rs("m").person_seq_id == 1)
    assert(rs("z").person_seq_id == 2)
    assert(rs("a").person_seq_id == 3)
  }

  test("merged view: set wins over set_once (persons.rs:112-120)") {
    val r = replay(
      op("d", 1, setOnce = Map("k" -> "once", "only" -> "o")),
      op("d", 2, set = Map("k" -> "set")))("d")
    assert(Replay.mergedProperties(r) == Map("k" -> "set", "only" -> "o"))
  }

  // persons.rs:931-960 — merge PREFERS PRIMARY at merge time, even when
  // the secondary's conflicting write has a later ord than the primary's
  test("merge prefers primary: conflicting pre-merge values resolve to the primary") {
    val rs = replay(
      op("primary", 1, set = Map("plan" -> "pro"), setOnce = Map("created_at" -> "2024-01-01")),
      op("secondary", 2, set = Map("plan" -> "basic", "region" -> "us"),
        setOnce = Map("created_at" -> "2023-01-01")),
      op("primary", 3, aliasTo = Some("secondary")))
    assert(rs.size == 1)
    val r = rs("primary") // canonical = the primary-chain root
    assert(r.properties("plan") == "pro")        // primary wins the conflict
    assert(r.properties("region") == "us")       // secondary fills the gap
    assert(r.properties_set_once("created_at") == "2024-01-01") // primary's set_once wins
    assert(r.distinct_ids == Seq("primary", "secondary"))
    // versions: primary 1 update + merge bump = 2 (secondary's count absorbed)
    assert(r.version == 2)
  }

  test("empty op is ensure_person: registers the id, no version bump") {
    val r = replay(
      op("d1", 1, set = Map("a" -> "1")),
      op("d1", 2)) // ensure — touch only
    assert(r("d1").version == 1)

    val r2 = replay(op("solo", 1))("solo")
    assert(r2.version == 0 && r2.distinct_ids == Seq("solo"))
  }

  private def history(ops: PersonOp*): Seq[PersonHistoryRow] = {
    import spark.implicits._
    Replay.personHistory(spark, ops.toDS()).collect()
      .sortBy(h => (h.canonical_id, h.valid_from)).toSeq
  }

  test("personHistory: one snapshot per op, merged view evolves per prefix") {
    val h = history(
      op("d", 1, set = Map("plan" -> "free"), setOnce = Map("first" -> "a")),
      op("d", 2, set = Map("plan" -> "pro")),
      op("d", 3, unset = Seq("plan")))
    assert(h.map(_.valid_from) == Seq(1L, 2L, 3L))
    assert(h(0).properties == Map("plan" -> "free", "first" -> "a"))
    assert(h(1).properties == Map("plan" -> "pro", "first" -> "a"))
    assert(h(2).properties == Map("first" -> "a"))
  }

  test("personHistory: secondary's pre-merge trail dies; merge row carries absorbed state") {
    val h = history(
      op("anon", 1, set = Map("pre" -> "x")),
      op("anon", 2, set = Map("pre2" -> "y")),
      op("u", 3, set = Map("plan" -> "pro"), aliasTo = Some("anon")),
      op("u", 4, set = Map("post" -> "z")))
    // primary chain = u's record, created at the alias op: rows 3 and 4 only
    assert(h.map(_.valid_from) == Seq(3L, 4L))
    // the merge snapshot already holds the anonymous record's absorbed state
    assert(h(0).properties == Map("pre" -> "x", "pre2" -> "y", "plan" -> "pro"))
    assert(h(1).properties == Map("pre" -> "x", "pre2" -> "y", "plan" -> "pro", "post" -> "z"))
  }

  test("personHistory: every snapshot equals the replay of its op prefix") {
    val ops = Seq(
      op("a", 1, set = Map("k" -> "1"), setOnce = Map("o" -> "v")),
      op("a", 2, unset = Seq("k")),
      op("b", 3, set = Map("k" -> "b")),
      op("b", 4, aliasTo = Some("a")),
      op("a", 5, set = Map("k2" -> "2")))
    val h = history(ops: _*).filter(_.canonical_id == "b")
    h.foreach { row =>
      val prefix = ops.filter(_.ord <= row.valid_from)
      val rec = replay(prefix: _*).values.find(r =>
        r.canonical_id == row.canonical_id || r.distinct_ids.contains(row.canonical_id))
      assert(rec.isDefined, s"no record for prefix up to ${row.valid_from}")
      assert(Replay.mergedProperties(rec.get) == row.properties,
        s"snapshot at ord ${row.valid_from} diverges from prefix replay")
    }
  }

  test("post-merge updates through either id apply to the merged record") {
    val rs = replay(
      op("u", 1, aliasTo = Some("anon")),
      op("anon", 2, set = Map("k" -> "via-anon")), // redirected to u
      op("u", 3, set = Map("k2" -> "via-u")))
    assert(rs.size == 1)
    assert(rs("u").properties == Map("k" -> "via-anon", "k2" -> "via-u"))
  }

  // T1 extraction vectors (persons.rs:360-456, lib.rs:690-718)

  private def canonicalOf(bodies: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.ingest.Normalizer.ingest(
      bodies.zipWithIndex.toDF("body", "bidx"),
      org.apache.spark.sql.functions.col("body"),
      graft.ingest.Normalizer.IngestContext())
  }

  private def extracted(bodies: String*): Map[Long, PersonOp] = {
    import spark.implicits._
    PersonOpExtract.fromCanonical(canonicalOf(bodies: _*), col("bidx").cast("long"))
      .as[PersonOp].collect().map(o => o.ord -> o).toMap
  }

  test("extract: capture $set/$set_once/$unset from properties (update_from_capture)") {
    val ops = extracted(
      """{"event":"e","distinct_id":"d","properties":{"$set":{"a":"1"},"$set_once":{"b":"2"},"$unset":["c"],"path":"/x"}}""")
    val o = ops(0L)
    assert(o.raw_id == "d" && o.set == Map("a" -> "1") && o.set_once == Map("b" -> "2"))
    assert(o.unset == Seq("c") && o.alias_to.isEmpty)
  }

  test("extract: plain capture is an ensure touch (empty op)") {
    val o = extracted("""{"event":"e","distinct_id":"d","properties":{"path":"/x"}}""")(0L)
    assert(o.set.isEmpty && o.set_once.isEmpty && o.unset.isEmpty && o.alias_to.isEmpty)
  }

  test("extract: identify bare props act as $set; $anon_distinct_id emits the alias edge") {
    val o = extracted(
      """{"type":"identify","distinct_id":"u1","$anon_distinct_id":"anon-1","properties":{"email":"a@b.c"}}""")(0L)
    assert(o.set == Map("email" -> "a@b.c") && o.alias_to.contains("anon-1"))

    // $set/$set_once keys present → routed, bare props NOT set
    val o2 = extracted(
      """{"type":"identify","distinct_id":"u1","properties":{"$set":{"p":"1"},"$set_once":{"q":"2"}}}""")(0L)
    assert(o2.set == Map("p" -> "1") && o2.set_once == Map("q" -> "2"))

    // anon == distinct_id → no self-alias (lib.rs:710)
    val o3 = extracted(
      """{"type":"identify","distinct_id":"u1","$anon_distinct_id":"u1","properties":{"e":"x"}}""")(0L)
    assert(o3.alias_to.isEmpty)
  }

  test("extract: engage ops from extra; alias events carry only the edge") {
    val ops = extracted(
      """{"distinct_id":"d","$set":{"n":"Alex"},"$unset":["tmp"]}""",
      """{"distinct_id":"d","alias":"anon-7"}""")
    assert(ops(0L).set == Map("n" -> "Alex") && ops(0L).unset == Seq("tmp"))
    assert(ops(1L).alias_to.contains("anon-7") && ops(1L).set.isEmpty)
  }

  test("extract: $unset forms — array drops non-strings, object → keys, string → itself") {
    val ops = extracted(
      """{"event":"e","distinct_id":"d","properties":{"$unset":["a",1,"b",true]}}""",
      """{"event":"e","distinct_id":"d","properties":{"$unset":{"x":1,"y":2}}}""",
      """{"event":"e","distinct_id":"d","properties":{"$unset":"solo"}}""")
    assert(ops(0L).unset == Seq("a", "b")) // persons.rs filter_map(as_str)
    assert(ops(1L).unset.sorted == Seq("x", "y"))
    assert(ops(2L).unset == Seq("solo"))
  }

  test("extract: groupidentify and snapshot rows touch no person state") {
    val ops = extracted(
      """{"type":"groupidentify","group_type":"team","group_key":"t1","properties":{"n":"1"}}""",
      """{"event":"$snapshot","distinct_id":"session-recording","properties":{"c":"1"}}""")
    assert(ops.isEmpty)
  }

  test("extract → replay end-to-end: ingest output feeds the person fold") {
    import spark.implicits._
    val canonical = canonicalOf(
      """{"event":"page_view","distinct_id":"anon-1","properties":{"$set":{"ref":"ad"}}}""",
      """{"type":"identify","distinct_id":"user-1","$anon_distinct_id":"anon-1","properties":{"email":"u1@x.com"}}""",
      """{"distinct_id":"user-1","$set":{"plan":"pro"},"$unset":["ref"]}""")
    val ops = PersonOpExtract.fromCanonical(canonical, col("bidx").cast("long")).as[PersonOp]
    val persons = Replay.persons(spark, ops).collect()
    assert(persons.length == 1)
    val p = persons.head
    assert(p.canonical_id == "user-1")
    assert(p.distinct_ids == Seq("anon-1", "user-1"))
    assert(p.properties == Map("email" -> "u1@x.com", "plan" -> "pro"))
  }

  // T8 glue: group-op extraction (lib.rs:423-450,608-632,879-897)

  private def gExtracted(bodies: String*): Seq[GroupOp] = {
    import spark.implicits._
    GroupOpExtract.fromCanonical(canonicalOf(bodies: _*), col("bidx").cast("long"))
      .as[GroupOp].collect().toSeq.sortBy(_.ord)
  }

  test("group extract: capture $groups + $group_set → one update per matched type") {
    val ops = gExtracted(
      """{"event":"e","distinct_id":"d","properties":{
        |"$groups":{"team":"t1","org":"o1"},
        |"$group_set":{"team":{"tier":"gold"},"org":{"n":1}}}}""".stripMargin.replaceAll("\n", ""))
    assert(ops.map(o => (o.group_type, o.group_key)).toSet == Set("team" -> "t1", "org" -> "o1"))
    assert(ops.find(_.group_type == "team").get.set == Map("tier" -> "gold"))
  }

  test("group extract: $group_set without a matching $groups key is dropped; empty props dropped") {
    assert(gExtracted(
      """{"event":"e","distinct_id":"d","properties":{"$groups":{"team":"t1"},"$group_set":{"org":{"x":"1"}}}}""").isEmpty)
    assert(gExtracted(
      """{"event":"e","distinct_id":"d","properties":{"$groups":{"team":"t1"},"$group_set":{"team":{}}}}""").isEmpty)
    // non-object props value dropped (extract_group_set keeps objects only)
    assert(gExtracted(
      """{"event":"e","distinct_id":"d","properties":{"$groups":{"team":"t1"},"$group_set":{"team":"oops"}}}""").isEmpty)
  }

  test("group extract: groupidentify applies item properties (empty object still applies)") {
    val ops = gExtracted(
      """{"type":"groupidentify","group_type":"team","group_key":"t9","properties":{"n":"3"}}""",
      """{"type":"groupidentify","group_type":"org","group_key":"o9","properties":{}}""")
    assert(ops.head.group_key == "t9" && ops.head.set == Map("n" -> "3"))
    assert(ops(1).group_key == "o9" && ops(1).set.isEmpty) // /groups has no emptiness guard
  }

  test("group extract: engage routes through extra; identify applies no group updates") {
    val ops = gExtracted(
      """{"distinct_id":"d","$groups":{"team":"t2"},"$group_set":{"team":{"via":"engage"}}}""")
    assert(ops.head.group_key == "t2" && ops.head.set == Map("via" -> "engage"))
    // identify handler reads $groups for slots/hydration but never applies $group_set
    assert(gExtracted(
      """{"type":"identify","distinct_id":"d","properties":{"$groups":{"team":"t1"},"$group_set":{"team":{"x":"1"}}}}""").isEmpty)
  }

  test("group replay: last-write-wins upsert, version counts ops") {
    import spark.implicits._
    val gs = Replay.groups(spark, Seq(
      GroupOp("team", "t1", 1, Map("n" -> "1", "keep" -> "x")),
      GroupOp("team", "t1", 2, Map("n" -> "2")),
      GroupOp("org", "o1", 1, Map("a" -> "b"))).toDS())
      .collect().map(g => (g.group_type, g.group_key) -> g).toMap
    assert(gs(("team", "t1")).properties == Map("n" -> "2", "keep" -> "x"))
    assert(gs(("team", "t1")).version == 2)
    assert(gs(("org", "o1")).properties == Map("a" -> "b"))
  }

  test("distributed CC fixpoint agrees with local union-find") {
    import spark.implicits._
    val edges = Seq(
      ("b", "a"), ("c", "b"), ("d", "c"),          // chain → a
      ("x", "y"),                                   // pair → x
      ("m", "n"), ("n", "o"), ("o", "m")).toDF("src", "dst") // cycle → m
    val local = IdentityResolver.components(spark, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = IdentityResolver.components(spark, edges, localHeapBudget = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local("d") == "a" && local("y") == "x" && local("o") == "m")
  }

  test("CC fast path is byte-bounded: long ids flip to the distributed path") {
    import spark.implicits._
    // same edge COUNT, different id lengths: the short-id graph fits
    // the budget, the long-id one must not (edge count alone can't
    // tell them apart — the r2 finding this pins)
    val n = 50
    val budget = IdentityResolver.estimatedHeapBytes(n.toLong, n * 2L * 30)
    assert(IdentityResolver.estimatedHeapBytes(n.toLong, n * 2L * 8) <= budget)
    assert(IdentityResolver.estimatedHeapBytes(n.toLong, n * 2L * 5000) > budget)

    // and the distributed path the flip lands on is still correct for
    // long ids end-to-end (star graph — alias graphs are shallow)
    val center = "pfx" * 200 + "0"
    val long = (1 until n).map(i => (center, "pfx" * 200 + "z" + i))
      .toDF("src", "dst")
    val canon = IdentityResolver.components(spark, long, localHeapBudget = budget)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.size == n)
    assert(canon.values.toSet == Set(center)) // one star, min label
  }

  test("CC second collect: a partition over its budget share still resolves locally") {
    import spark.implicits._
    // the budget equals the edges' modeled total, so it fits, but its
    // per-partition share (budget / 2) is below the larger partition's
    // edges (5 equal edges over 2 partitions): that task ships only its
    // byte sum and the driver collects again instead of degrading
    val edges = Seq(
      ("b", "a"), ("c", "b"), ("x", "y"), ("m", "n"), ("n", "o")).toDF("src", "dst")
    val budget = IdentityResolver.estimatedHeapBytes(5L, 10L)
    def resolve(localHeapBudget: Long): (Map[String, String], Int) = {
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring {
        out = IdentityResolver.components(spark, edges, localHeapBudget = localHeapBudget)
      }
      (out.collect().map(r => r.getString(0) -> r.getString(1)).toMap, jobs)
    }
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    val ((viaSecondCollect, secondJobs), (direct, directJobs)) =
      try (resolve(budget), resolve(graft.HeapWatermark.Budget))
      finally spark.conf.unset(coalesce)
    assert(viaSecondCollect == direct)
    assert(viaSecondCollect("c") == "a" && viaSecondCollect("o") == "m")
    assert(secondJobs == directJobs + 1) // local, not the distributed fixpoint
  }

  test("out-of-order ops fold by ord, not arrival order") {
    val r = replay(
      op("d", 3, set = Map("k" -> "late")),
      op("d", 1, set = Map("k" -> "early")),
      op("d", 2, setOnce = Map("f" -> "mid")))("d")
    assert(r.properties == Map("k" -> "late"))
    assert(r.properties_set_once("f") == "mid")
  }
}
