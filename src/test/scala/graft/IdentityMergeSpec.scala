package graft

import graft.state.{PersonOp, PersonOpExtract, PersonRecord, Replay}
import graft.streaming.{IdentityMerge, IdentityMergeState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The streaming identity merge must equal batch [[Replay.persons]]
  * after every prefix of micro-batches — including the corner the
  * keyed-state fold cannot express: an alias arriving AFTER both sides
  * already materialized records in earlier batches (the reference
  * merges live records inside the DO at alias time,
  * `/root/reference/src/persons.rs:255-338`).
  */
class IdentityMergeSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def asComparable(ds: Seq[PersonRecord]): Set[(String, Long, Long, Seq[String],
      Map[String, String], Map[String, String], Long)] =
    ds.map(r => (r.canonical_id, r.person_seq_id, r.version, r.distinct_ids,
      r.properties, r.properties_set_once, r.first_ord)).toSet

  private def batchPersons(ops: Seq[PersonOp]): Seq[PersonRecord] = {
    import spark.implicits._
    Replay.persons(spark, ops.toDS()).collect().toSeq
  }

  private def incremental(ops: Seq[PersonOp], chunks: Seq[Seq[PersonOp]]): Seq[PersonRecord] = {
    import spark.implicits._
    val st = new IdentityMergeState(spark)
    chunks.zipWithIndex.foreach { case (c, i) => st.processBatch(c.toDS(), i.toLong) }
    val out = st.persons().collect().toSeq
    st.close()
    out
  }

  // ---------------------------------------------------------- crafted corner

  test("alias between two already-materialized records merges with DO semantics") {
    val b0 = Seq(
      PersonOp("anon-a", 1, Map("s" -> "a1"), Map("o" -> "a1"), Nil, None),
      PersonOp("u9", 2, Map("s" -> "u1"), Map.empty, Nil, None),
      PersonOp("anon-b", 3, Map("b" -> "b1"), Map.empty, Nil, None))
    val b1 = Seq(
      PersonOp("anon-a", 4, Map("s" -> "a2"), Map.empty, Nil, None),
      // identify: alias merge of two LIVE records, then the update
      PersonOp("u9", 5, Map("email" -> "u9@x"), Map.empty, Nil, Some("anon-a")))
    val b2 = Seq(
      // explicit alias onto a third live record, one batch later
      PersonOp("u9", 6, Map.empty, Map.empty, Nil, Some("anon-b")),
      // post-merge write through an ABSORBED id must land on the survivor
      PersonOp("anon-a", 7, Map("z" -> "post"), Map.empty, Nil, None),
      PersonOp("anon-c", 8, Map("c" -> "c1"), Map.empty, Nil, None))
    val all = b0 ++ b1 ++ b2

    val inc = incremental(all, Seq(b0, b1, b2))
    assert(asComparable(inc) == asComparable(batchPersons(all)))

    val u9 = inc.find(_.canonical_id == "u9").get
    assert(u9.distinct_ids == Seq("anon-a", "anon-b", "u9"))
    // merge prefers primary: u9's s survives over anon-a's later pre-merge write
    assert(u9.properties("s") == "u1")
    assert(u9.properties("email") == "u9@x")
    assert(u9.properties("b") == "b1")        // gap-filled from anon-b
    assert(u9.properties("z") == "post")      // redirected write
    assert(u9.properties_set_once("o") == "a1")
    // versions: u9 create(1) + merge(2) + identify-update(3) +
    // alias-merge(4) + redirected z write(5)
    assert(u9.version == 5L)
    assert(u9.first_ord == 1L)                // created_at min absorbed
    assert(inc.count(_.canonical_id == "anon-c") == 1)
    assert(inc.size == 2)
  }

  test("over-budget dimensions degrade to the distributed path with batch parity") {
    import spark.implicits._
    // a 1 KB budget that any non-trivial dimension breaches: the bounded
    // collect must refuse the rows and the epoch must complete DISTRIBUTED
    // (join-based resolve + shared CC fixpoint) with the same state as
    // batch replay — degradation, not an error (VERDICT r14 #2)
    val st = new IdentityMergeState(spark, driverHeapBudget = 1024L)
    val ops = (1 to 64).map(i =>
      PersonOp(s"user-$i", i.toLong, Map("k" -> "v"), Map.empty, Nil, None)) ++
      Seq(PersonOp("user-1", 100L, Map("m" -> "w"), Map.empty, Nil, Some("user-2")),
        PersonOp("user-3", 101L, Map.empty, Map.empty, Nil, Some("user-2")))
    st.processBatch(ops.toDS(), 0L)
    val out = st.persons().collect().toSeq
    st.close()
    assert(asComparable(out) == asComparable(batchPersons(ops)))
    assert(out.size == 62) // user-1/2/3 merged into one record
  }

  test("a mid-stream budget cross degrades per-epoch and keeps batch parity") {
    import spark.implicits._
    // budget sized so the EARLY epochs fit on the driver and the later
    // ones (redirect dimension grown by accumulated merges) cross it
    // mid-stream: estimatedHeapBytes(n, c) = 4c + 160n, so ~25 entries
    // of ~14-char pairs ≈ 5.4 KB crosses a 4 KB budget.
    val st = new IdentityMergeState(spark, driverHeapBudget = 4096L)
    val mkOps = (lo: Int, hi: Int) => (lo to hi).flatMap(i => Seq(
      PersonOp(s"anon-$i", i * 10L, Map(s"p$i" -> s"v$i"), Map.empty, Nil, None),
      PersonOp(s"user-$i", i * 10L + 1, Map("email" -> s"u$i@x"), Map("first" -> s"f$i"),
        Nil, Some(s"anon-$i"))))
    val b0 = mkOps(1, 8)    // 8 merges → 8 redirects (~1.9 KB: fits)
    val b1 = mkOps(9, 30)   // redirect dim now 30 entries (~6.6 KB: over)
    val b2 = mkOps(31, 40) ++ Seq(
      // post-cross writes through absorbed ids + a cross-record alias
      PersonOp("anon-3", 900L, Map("late" -> "x"), Map.empty, Nil, None),
      PersonOp("user-5", 901L, Map.empty, Map.empty, Nil, Some("user-7")))
    val all = b0 ++ b1 ++ b2
    Seq(b0, b1, b2).zipWithIndex.foreach { case (c, i) =>
      st.processBatch(c.toDS(), i.toLong)
    }
    val out = st.persons().collect().toSeq
    st.close()
    assert(asComparable(out) == asComparable(batchPersons(all)))
    // the degraded epochs really merged: user-5 absorbed user-7's chain
    val u5 = out.find(_.canonical_id == "user-5").get
    assert(u5.distinct_ids.toSet ==
      Set("anon-5", "user-5", "anon-7", "user-7"))
    val u3 = out.find(_.canonical_id == "user-3").get
    assert(u3.properties("late") == "x") // redirected write in a degraded epoch
  }

  test("job census: a first epoch runs 3 Spark jobs and a steady epoch 4") {
    import spark.implicits._
    // ops count, one bounded collect per dimension (the first epoch has
    // no redirect dimension) and the commit count — no probe jobs
    val st = new IdentityMergeState(spark)
    val b0 = Seq(
      PersonOp("anon-1", 1, Map("a" -> "1"), Map.empty, Nil, None),
      PersonOp("u1", 2, Map.empty, Map.empty, Nil, Some("anon-1")))
    val b1 = Seq(
      PersonOp("anon-1", 3, Map("b" -> "2"), Map.empty, Nil, None),
      PersonOp("u2", 4, Map.empty, Map.empty, Nil, Some("anon-2")))
    val (ds0, ds1) = (b0.toDS(), b1.toDS())
    val first = jobsDuring(st.processBatch(ds0, 0L))
    val steady = jobsDuring(st.processBatch(ds1, 1L))
    val out = st.persons().collect().toSeq
    st.close()
    assert(first == 3)
    assert(steady == 4)
    assert(asComparable(out) == asComparable(batchPersons(b0 ++ b1)))
  }

  test("chained aliases across three batches collapse to one record") {
    val b0 = Seq(
      PersonOp("a", 1, Map("p" -> "1"), Map.empty, Nil, None),
      PersonOp("b", 2, Map("q" -> "2"), Map.empty, Nil, None),
      PersonOp("c", 3, Map("r" -> "3"), Map.empty, Nil, None))
    val b1 = Seq(PersonOp("b", 4, Map.empty, Map.empty, Nil, Some("a")))
    val b2 = Seq(
      PersonOp("c", 5, Map.empty, Map.empty, Nil, Some("a")), // a already redirects to b
      PersonOp("a", 6, Map("w" -> "9"), Map.empty, Nil, None))
    val all = b0 ++ b1 ++ b2
    val inc = incremental(all, Seq(b0, b1, b2))
    assert(asComparable(inc) == asComparable(batchPersons(all)))
    assert(inc.size == 1)
    val r = inc.head
    assert(r.distinct_ids.toSet == Set("a", "b", "c"))
    assert(r.properties("w") == "9")
  }

  // ------------------------------------------------- randomized chunk parity

  test("randomized op streams: incremental chunked == batch (3 seeds)") {
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val ids = (1 to 4).map("u" + _) ++ (1 to 4).map("anon-" + _)
      val keys = Seq("a", "b", "c")
      val ops = (1 to 60).map { ord =>
        val raw = ids(rnd.nextInt(ids.size))
        val set = if (rnd.nextBoolean()) Map(keys(rnd.nextInt(3)) -> ord.toString) else Map.empty[String, String]
        val so = if (rnd.nextInt(4) == 0) Map(keys(rnd.nextInt(3)) -> ("o" + ord)) else Map.empty[String, String]
        val unset = if (rnd.nextInt(6) == 0) Seq(keys(rnd.nextInt(3))) else Nil
        val alias = if (rnd.nextInt(5) == 0) {
          val a = ids(rnd.nextInt(ids.size)); if (a == raw) None else Some(a)
        } else None
        PersonOp(raw, ord.toLong, set, so, unset, alias)
      }
      val chunks = ops.grouped(20).map(_.toSeq).toSeq
      assert(asComparable(incremental(ops, chunks)) == asComparable(batchPersons(ops)),
        s"divergence at seed $seed")
    }
  }

  test("batch-boundary invariance: 1 == 2 == 6 chunks (replayChunked)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = (1 to 3).map("u" + _) ++ (1 to 3).map("anon-" + _)
    val ops = (1 to 48).map { ord =>
      val raw = ids(rnd.nextInt(ids.size))
      val alias = if (rnd.nextInt(4) == 0) {
        val a = ids(rnd.nextInt(ids.size)); if (a == raw) None else Some(a)
      } else None
      PersonOp(raw, ord.toLong, Map("k" -> ord.toString), Map.empty, Nil, alias)
    }
    val expected = asComparable(batchPersons(ops))
    for (n <- Seq(1, 2, 6)) {
      val st = IdentityMerge.replayChunked(spark, ops.toDS(), n)
      val got = asComparable(st.persons().collect().toSeq)
      st.close()
      assert(got == expected, s"divergence at $n chunks")
    }
  }

  // ------------------------------------------------------ MemoryStream drive

  test("wire bodies through MemoryStream: ≥3 micro-batches, aliases split across batches == batch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def extract(df: DataFrame) = {
      val canonical = graft.ingest.Normalizer.ingest(
        df, col("body"), graft.ingest.Normalizer.IngestContext())
      PersonOpExtract
        .fromCanonical(canonical, element_at(col("extra"), "eid").cast(LongType))
        .as[PersonOp]
    }

    val batches = Seq(
      Seq( // anonymous browsing + an identified user materialize separately
        """{"event":"pv","distinct_id":"anon-a","properties":{"$set":{"s":"a1"},"$set_once":{"o":"a1"}},"eid":"1"}""",
        """{"event":"pv","distinct_id":"u9","properties":{"$set":{"s":"u1"}},"eid":"2"}""",
        """{"event":"pv","distinct_id":"anon-b","properties":{"$set":{"b":"b1"}},"eid":"3"}"""),
      Seq( // the identify lands in batch 2: merge of two LIVE records
        """{"event":"pv","distinct_id":"anon-a","properties":{"$set":{"s":"a2"}},"eid":"4"}""",
        """{"type":"identify","distinct_id":"u9","$anon_distinct_id":"anon-a","properties":{"email":"u9@x"},"eid":"5"}"""),
      Seq( // batch 3: explicit alias onto a third live record + redirected write
        """{"distinct_id":"u9","alias":"anon-b","eid":"6"}""",
        """{"event":"pv","distinct_id":"anon-a","properties":{"$set":{"z":"post"}},"eid":"7"}"""))

    val st = new IdentityMergeState(spark)
    val mem = MemoryStream[String]
    val q = mem.toDF().withColumnRenamed("value", "body")
      .writeStream
      .outputMode("update")
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        st.processBatch(extract(df), id))
      .start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = st.persons().collect().toSeq
    val batch = Replay.persons(spark, extract(batches.flatten.toDF("body"))).collect().toSeq
    st.close()
    assert(asComparable(streamed) == asComparable(batch))
    val u9 = streamed.find(_.canonical_id == "u9").get
    assert(u9.distinct_ids == Seq("anon-a", "anon-b", "u9"))
    assert(u9.properties("s") == "u1") // merge preferred the primary
    assert(u9.properties("z") == "post") // post-merge write through absorbed id
  }

  test("run() refuses a resumed checkpoint paired with a fresh state handle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val mem = MemoryStream[PersonOp]

    // fresh checkpoint + fresh state: starts fine
    val st = new IdentityMergeState(spark)
    val q = IdentityMerge.run(mem.toDS(), st, ckpt.toString)
    try {
      mem.addData(PersonOp("a", 1, Map("k" -> "v"), Map.empty, Nil, None))
      q.processAllAvailable()
    } finally q.stop()
    assert(st.committedEpoch == 0L)

    // resumed checkpoint (offsets committed above) + FRESH state: refuse —
    // resuming would skip batch 0 and silently drop its person state
    val fresh = new IdentityMergeState(spark)
    val e = intercept[IllegalArgumentException] {
      IdentityMerge.run(mem.toDS(), fresh, ckpt.toString)
    }
    assert(e.getMessage.contains("committed offsets"))

    // resumed checkpoint + the surviving handle (epoch 0): allowed
    val q2 = IdentityMerge.run(mem.toDS(), st, ckpt.toString)
    try {
      mem.addData(PersonOp("a", 2, Map("k2" -> "v2"), Map.empty, Nil, None))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(st.committedEpoch >= 1L)
    val rec = st.persons().collect().find(_.canonical_id == "a").get
    st.close()
    assert(rec.properties == Map("k" -> "v", "k2" -> "v2"))
  }

  test("save/restore: a restarted driver resumes the checkpoint losslessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt2").toFile
    val snap = java.nio.file.Files.createTempDirectory("graft_snap").toFile

    val mem = MemoryStream[PersonOp]
    val st = new IdentityMergeState(spark)
    val q = IdentityMerge.run(mem.toDS(), st, ckpt.toString)
    try {
      mem.addData(
        PersonOp("anon-1", 1, Map("s" -> "a"), Map.empty, Nil, None),
        PersonOp("u1", 2, Map("e" -> "u@x"), Map.empty, Nil, None))
      q.processAllAvailable()
      st.save(snap.toString) // the per-batch snapshot a production sink would take
    } finally q.stop()
    st.close() // "driver died": in-memory state gone

    // restart: restore to the snapshot's epoch, then resume the stream —
    // the guard that rejects a fresh handle admits the restored one
    val st2 = IdentityMergeState.restore(spark, snap.toString)
    assert(st2.committedEpoch == 0L)
    val q2 = IdentityMerge.run(mem.toDS(), st2, ckpt.toString)
    try {
      // the alias merges a pre-restart record with a pre-restart record
      mem.addData(PersonOp("u1", 3, Map("z" -> "1"), Map.empty, Nil, Some("anon-1")))
      q2.processAllAvailable()
    } finally q2.stop()

    val all = Seq(
      PersonOp("anon-1", 1, Map("s" -> "a"), Map.empty, Nil, None),
      PersonOp("u1", 2, Map("e" -> "u@x"), Map.empty, Nil, None),
      PersonOp("u1", 3, Map("z" -> "1"), Map.empty, Nil, Some("anon-1")))
    val streamed = st2.persons().collect().toSeq
    st2.close()
    assert(asComparable(streamed) == asComparable(batchPersons(all)))
  }

  test("delta snapshots: base + per-epoch deltas restore the exact state; merged-away records die") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta").toString
    val st = new IdentityMergeState(spark)
    val b0 = Seq(
      PersonOp("a", 1, Map("pa" -> "1"), Map.empty, Nil, None),
      PersonOp("b", 2, Map("pb" -> "1"), Map.empty, Nil, None))
    st.processBatch(b0.toDS(), 0L); st.saveDelta(dir) // empty dir → full base
    val b1 = Seq(
      PersonOp("b", 3, Map.empty, Map.empty, Nil, Some("a")), // merge b into a
      PersonOp("c", 4, Map("pc" -> "1"), Map.empty, Nil, None))
    st.processBatch(b1.toDS(), 1L); st.saveDelta(dir) // delta=1: survivor + c
    val b2 = Seq(PersonOp("c", 5, Map("pc" -> "2"), Map.empty, Nil, None))
    st.processBatch(b2.toDS(), 2L); st.saveDelta(dir) // delta=2: c only

    // delta writes are TOUCHED-only, not full-state rewrites
    assert(spark.read.parquet(s"$dir/delta=1").count() == 2)
    assert(spark.read.parquet(s"$dir/delta=2").count() == 1)

    val live = st.persons().collect().toSeq
    st.close()
    val st2 = IdentityMergeState.restoreDeltas(spark, dir)
    assert(st2.committedEpoch == 2L)
    val (rows, hint) = st2.sizeHints
    assert(rows == 2L && hint >= 2, s"width hints not seeded: ($rows, $hint)")
    val restored = st2.persons().collect().toSeq
    st2.close()
    // exact state: the merged pair survives as ONE record (b's base
    // version superseded by rule 2), c carries its delta-2 update
    assert(restored.size == 2, s"merged-away record resurrected: $restored")
    assert(asComparable(restored) == asComparable(live))
    assert(asComparable(restored) == asComparable(batchPersons(b0 ++ b1 ++ b2)))
  }

  test("restore() on a delta-maintained dir folds the deltas (never the stale base alone)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_restore").toString
    val st = new IdentityMergeState(spark)
    val b0 = Seq(PersonOp("a", 1, Map("pa" -> "1"), Map.empty, Nil, None))
    st.processBatch(b0.toDS(), 0L); st.saveDelta(dir) // base epoch=0
    val b1 = Seq(PersonOp("b", 2, Map("pb" -> "1"), Map.empty, Nil, None))
    st.processBatch(b1.toDS(), 1L); st.saveDelta(dir) // delta=1
    val live = st.persons().collect().toSeq
    st.close()
    // the generic recovery entrypoint must see delta=1: a bare-base
    // restore would report committedEpoch=0 < 1 — but still satisfy
    // run()'s resume guard (epoch >= 0) and silently drop person b
    val st2 = IdentityMergeState.restore(spark, dir)
    assert(st2.committedEpoch == 1L, "restore() ignored committed deltas")
    val restored = st2.persons().collect().toSeq
    st2.close()
    assert(asComparable(restored) == asComparable(live))
    assert(restored.exists(_.canonical_id == "b"), "delta epoch's person lost on restore()")
  }

  test("delta snapshots: a skipped epoch forces a full base, never a silent gap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_gap").toString
    val st = new IdentityMergeState(spark)
    st.processBatch(Seq(
      PersonOp("a", 1, Map("pa" -> "1"), Map.empty, Nil, None)).toDS(), 0L)
    st.saveDelta(dir) // base epoch=0
    // epoch 1 committed but NOT saved — its change must not be lost
    st.processBatch(Seq(
      PersonOp("b", 2, Map("pb" -> "1"), Map.empty, Nil, None)).toDS(), 1L)
    st.processBatch(Seq(
      PersonOp("a", 3, Map("pa" -> "2"), Map.empty, Nil, None)).toDS(), 2L)
    st.saveDelta(dir) // newest committed snapshot is 0, epoch is 2 → gap
    // the guard must have written a FULL base, not delta=2 (which would
    // silently drop b — epoch 1's only record — on restore)
    assert(new java.io.File(s"$dir/epoch=2/_SUCCESS").exists(),
      "gap did not force a full base")
    assert(!new java.io.File(s"$dir/delta=2").exists(),
      "delta written across a snapshot gap")
    val live = st.persons().collect().toSeq
    st.close()
    val st2 = IdentityMergeState.restoreDeltas(spark, dir)
    val restored = st2.persons().collect().toSeq
    st2.close()
    assert(asComparable(restored) == asComparable(live))
    assert(restored.exists(_.canonical_id == "b"), "epoch-1 record lost across the gap")
  }

  test("delta snapshots: a foreign dir with colliding epoch numbers gets a full base, never a chained delta") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_foreign").toString
    // a PREVIOUS run left a base at epoch=0 holding person "old"
    val prev = new IdentityMergeState(spark)
    prev.processBatch(Seq(
      PersonOp("old", 1, Map("po" -> "1"), Map.empty, Nil, None)).toDS(), 0L)
    prev.save(dir)
    prev.close()
    // a NEW run (batch ids restarting at 0) reuses the dir: its epoch
    // numbering collides with the foreign base, but the handle never
    // wrote/validated this dir — chaining delta=1 onto the foreign
    // epoch=0 would merge two unrelated states on restore
    val st = new IdentityMergeState(spark)
    st.processBatch(Seq(
      PersonOp("new0", 1, Map("pn" -> "0"), Map.empty, Nil, None)).toDS(), 0L)
    st.processBatch(Seq(
      PersonOp("new1", 2, Map("pn" -> "1"), Map.empty, Nil, None)).toDS(), 1L)
    st.saveDelta(dir) // newest committed (0) == epoch-1 — but FOREIGN
    assert(!new java.io.File(s"$dir/delta=1").exists(),
      "delta chained onto a foreign run's base")
    assert(new java.io.File(s"$dir/epoch=1/_SUCCESS").exists(),
      "foreign dir did not force a full base")
    val live = st.persons().collect().toSeq
    st.close()
    val st2 = IdentityMergeState.restoreDeltas(spark, dir)
    val restored = st2.persons().collect().toSeq
    st2.close()
    // the new base shadows the foreign one: no "old" resurrected
    assert(asComparable(restored) == asComparable(live))
    assert(!restored.exists(_.canonical_id == "old"), s"foreign state leaked: $restored")
  }

  test("delta snapshots fuzz: randomized merge streams, saveDelta every epoch, restore == live (3 seeds)") {
    import spark.implicits._
    // the tombstone-free deletion rule under adversarial merge orders:
    // chained aliases, merges of already-merged records, re-touches of
    // absorbed ids — after every epoch's delta the restored state must
    // equal the live state exactly
    for (seed <- Seq(13, 29, 61)) {
      val rnd = new scala.util.Random(seed)
      val ids = (1 to 4).map("u" + _) ++ (1 to 4).map("anon-" + _)
      val keys = Seq("a", "b", "c")
      val ops = (1 to 60).map { ord =>
        val raw = ids(rnd.nextInt(ids.size))
        val set = if (rnd.nextBoolean()) Map(keys(rnd.nextInt(3)) -> ord.toString) else Map.empty[String, String]
        val alias = if (rnd.nextInt(4) == 0) {
          val a = ids(rnd.nextInt(ids.size)); if (a == raw) None else Some(a)
        } else None
        PersonOp(raw, ord.toLong, set, Map.empty, Nil, alias)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_delta_fz$seed").toString
      val st = new IdentityMergeState(spark)
      ops.grouped(15).zipWithIndex.foreach { case (chunk, i) =>
        st.processBatch(chunk.toSeq.toDS(), i.toLong)
        st.saveDelta(dir)
      }
      val live = st.persons().collect().toSeq
      st.close()
      val st2 = IdentityMergeState.restoreDeltas(spark, dir)
      val restored = st2.persons().collect().toSeq
      st2.close()
      assert(asComparable(restored) == asComparable(live), s"delta restore diverged at seed $seed")
      assert(asComparable(restored) == asComparable(batchPersons(ops)), s"vs batch at seed $seed")
    }
  }

  test("restore seeds the commit-width inputs from the restored size") {
    import spark.implicits._
    // Regression: restore() used to leave (lastStateRows=0, hint=2), so
    // the first post-restore commit width evaluated to ~2 regardless of
    // restored size — coalescing a multi-million-row state into 2
    // partitions. The hints must reflect the restored row count.
    val snap = java.nio.file.Files.createTempDirectory("graft_snap_seed").toFile
    val st = new IdentityMergeState(spark)
    val ops = (1 to 500).map(i =>
      PersonOp(s"u$i", i.toLong, Map("k" -> s"v$i"), Map.empty, Nil, None))
    st.processBatch(ops.toDS(), 0L)
    st.save(snap.toString)
    st.close()

    val st2 = IdentityMergeState.restore(spark, snap.toString)
    val (rows, hint) = st2.sizeHints
    st2.close()
    assert(rows == 500L, s"lastStateRows not seeded from restored count: $rows")
    assert(hint >= 2, s"statePartsHint not seeded: $hint")
  }

  test("committed state width follows size, not a one-off wide batch") {
    import spark.implicits._
    // 140k ops at 8 input partitions: the volume sizing gives the EPOCH
    // a fold width of ceil(140k/64k)=3, but the committed state (1000
    // distinct persons, far under a partition's worth) must narrow back
    // to the size-derived width — the old coalesce-at-fold-width commit
    // pinned the state at the wide batch's width permanently
    val wide = (1 to 140000).map(i =>
      PersonOp(s"u${i % 1000}", i.toLong, Map("k" -> s"v$i"), Map.empty, Nil, None))
    val st = new IdentityMergeState(spark)
    st.processBatch(wide.toDS().repartition(8), 0L)
    assert(st.records.rdd.getNumPartitions == 2,
      s"committed width ${st.records.rdd.getNumPartitions} pinned above the size-derived hint")
    // a later narrow batch must not inherit the wide epoch's width either
    st.processBatch(Seq(PersonOp("u1", 200001L, Map("k" -> "z"), Map.empty, Nil, None)).toDS(), 1L)
    assert(st.records.rdd.getNumPartitions == 2)
    st.close()
  }
}
