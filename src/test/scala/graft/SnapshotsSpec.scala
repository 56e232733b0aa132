package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SnapshotsSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  private def range(a: Int, b: Int) = {
    import spark.implicits._
    (a until b).map(i => (i.toLong, s"r$i")).toDF("id", "s")
  }

  test("versioned appends: each commit is a snapshot; time travel replans any of them") {
    val dir = Files.createTempDirectory("snap").toString
    val v1 = Snapshots.commit(spark, dir, range(0, 10))
    val v2 = Snapshots.commit(spark, dir, range(10, 30))
    val v3 = Snapshots.commit(spark, dir, range(30, 35))
    assert(Seq(v1.version, v2.version, v3.version) == Seq(1L, 2L, 3L))
    assert(Snapshots.currentVersion(spark, dir).contains(3L))
    assert(Snapshots.readAt(spark, dir, 1).count() == 10)
    assert(Snapshots.readAt(spark, dir, 2).count() == 30)
    assert(Snapshots.read(spark, dir).count() == 35)
    // footer-derived row counts in the manifests match the data
    assert(Snapshots.snapshots(spark, dir).map(_.rowCount) == Seq(10L, 30L, 35L))
    // readAsOf: pinned to v2's commit timestamp → v2's content
    assert(Snapshots.readAsOf(spark, dir, v2.timestampMs).count() == 30)
    assert(Snapshots.readAsOf(spark, dir, Long.MaxValue).count() == 35)
  }

  test("compaction rewrites the file list, not history: old versions still read after compact") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10).repartition(4))
    Snapshots.commit(spark, dir, range(10, 20).repartition(4))
    val before = Snapshots.snapshots(spark, dir).last.files.size
    val c = Snapshots.compactSnapshot(spark, dir, files = 1)
    assert(c.operation == "compact" && c.files.size < before)
    assert(Snapshots.read(spark, dir).count() == 20)
    // time travel ACROSS the compaction — the old files are retained
    assert(Snapshots.readAt(spark, dir, 1).count() == 10)
    assert(Snapshots.readAt(spark, dir, 2).count() == 20)
  }

  test("rollback is a forward commit carrying the old file list") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10))
    Snapshots.commit(spark, dir, range(10, 50))
    val rb = Snapshots.rollback(spark, dir, toVersion = 1)
    assert(rb.version == 3 && rb.operation == "rollback[1]")
    assert(Snapshots.read(spark, dir).count() == 10)
    // the "bad" v2 history is still inspectable
    assert(Snapshots.readAt(spark, dir, 2).count() == 50)
  }

  test("copy-on-write delete: only files containing matches are rewritten; the rest carry by reference") {
    val dir = Files.createTempDirectory("snap").toString
    // two commits → two disjoint file sets; the subjects live only in the first
    Snapshots.commit(spark, dir, range(0, 10))
    Snapshots.commit(spark, dir, range(100, 120))
    val beforeFiles = Snapshots.snapshots(spark, dir).last.files
    val d = Snapshots.deleteWhere(spark, dir, col("id") < 3)
    assert(Snapshots.read(spark, dir).count() == 27)
    assert(Snapshots.read(spark, dir).filter(col("id") < 3).count() == 0)
    // every file of the untouched commit survives VERBATIM in the new manifest
    val secondCommitFiles = beforeFiles.filter(f =>
      !Snapshots.readAt(spark, dir, 1).inputFiles.exists(_.endsWith(f)))
    val survived = secondCommitFiles.forall(d.files.contains)
    assert(survived, s"untouched files must carry by reference: $secondCommitFiles vs ${d.files}")
    // deleting nothing is a no-op commit, content unchanged
    val noop = Snapshots.deleteWhere(spark, dir, col("id") === -1)
    assert(noop.operation == "delete[noop]" && Snapshots.read(spark, dir).count() == 27)
  }

  test("expire reclaims exactly the files only dead manifests reference; expired versions fail loudly") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10))
    Snapshots.commit(spark, dir, range(10, 20))
    Snapshots.compactSnapshot(spark, dir, files = 1) // v3 references only its own files
    val deleted = Snapshots.expire(spark, dir, keepLast = 1)
    assert(deleted.exists(_.endsWith("v1.manifest.json")))
    assert(deleted.exists(_.endsWith("v2.manifest.json")))
    assert(deleted.count(_.startsWith("data/")) > 0)
    // current still reads fine; expired version is a loud error
    assert(Snapshots.read(spark, dir).count() == 20)
    intercept[IllegalArgumentException](Snapshots.readAt(spark, dir, 1))
    // every file the current manifest references still exists
    val cur = Snapshots.snapshots(spark, dir).last
    cur.files.foreach(f =>
      assert(new java.io.File(s"$dir/$f").exists(), s"kept file $f must survive expire"))
  }

  test("optimistic concurrency: a claimed version fails the second writer; orphan sweep respects age") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 5))
    // another writer claims v2
    val lock = new java.io.File(s"$dir/metadata/v2.lock")
    assert(lock.createNewFile())
    intercept[Snapshots.ConcurrentCommitException](
      Snapshots.commit(spark, dir, range(5, 10)))
    lock.delete()
    // the loser's data dir is an unreferenced orphan; a too-young sweep
    // must NOT touch it, an aged sweep reclaims it
    assert(Snapshots.removeOrphans(spark, dir, olderThanMs = 3600_000L).isEmpty)
    val swept = Snapshots.removeOrphans(spark, dir, olderThanMs = -1L)
    assert(swept.size == 1, s"expected exactly the orphan commit dir, got $swept")
    // and the retry commits cleanly at v2
    assert(Snapshots.commit(spark, dir, range(5, 10)).version == 2)
    assert(Snapshots.read(spark, dir).count() == 10)
  }

  test("exactly-once streaming epochs: a replayed epoch commits nothing; batch parity holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("snap").toString
    val ckpt = Files.createTempDirectory("snap_ck").toString
    val in = MemoryStream[Long]
    in.addData(0L until 10L: _*)
    Snapshots.streamCommitWriter(in.toDF().withColumnRenamed("value", "id"),
      dir, ckpt).start().awaitTermination()
    in.addData(10L until 25L: _*)
    Snapshots.streamCommitWriter(in.toDF().withColumnRenamed("value", "id"),
      dir, ckpt).start().awaitTermination()
    assert(Snapshots.read(spark, dir).count() == 25)
    val nSnaps = Snapshots.snapshots(spark, dir).size
    // crash-replay of an already-committed epoch: same batchId → no-op
    Snapshots.commitEpoch(range(90, 95), dir, batchId = 0)
    assert(Snapshots.snapshots(spark, dir).size == nSnaps)
    assert(Snapshots.read(spark, dir).count() == 25)
    // a genuinely new epoch commits
    Snapshots.commitEpoch(range(25, 30).withColumnRenamed("s", "x"), dir, batchId = 7)
    assert(Snapshots.snapshots(spark, dir).size == nSnaps + 1)
  }

  test("an empty epoch commits no data file, advances the high-water, and replays as a no-op") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commitEpoch(range(0, 10).repartition(2), dir, batchId = 0)
    val before = Snapshots.snapshots(spark, dir).last
    // a no-data epoch: its write leaves a 0-row file that the commit drops
    Snapshots.commitEpoch(range(0, 0), dir, batchId = 1)
    val empty = Snapshots.snapshots(spark, dir).last
    assert(empty.operation == "append[epoch=1]")
    assert(empty.files == before.files, "the empty epoch added a data file")
    assert(empty.rowCount == 10L && empty.properties("epoch.high-water") == "1")
    // its data directory is gone too: only the first epoch's commit dir is left
    assert(new java.io.File(s"$dir/data").listFiles().length == 1)
    // replaying the empty epoch (or a full one under its id) commits nothing
    val nSnaps = Snapshots.snapshots(spark, dir).size
    Snapshots.commitEpoch(range(90, 95), dir, batchId = 1)
    assert(Snapshots.snapshots(spark, dir).size == nSnaps)
    assert(Snapshots.read(spark, dir).count() == 10)
    // the next epoch with rows still commits
    Snapshots.commitEpoch(range(10, 15), dir, batchId = 2)
    assert(Snapshots.read(spark, dir).count() == 15)
    // a table's first commit keeps one 0-row file, so the table has a schema
    val fresh = Files.createTempDirectory("snap").toString
    Snapshots.commitEpoch(range(0, 0), fresh, batchId = 0)
    assert(Snapshots.snapshots(spark, fresh).last.files.size == 1)
    assert(Snapshots.read(spark, fresh).columns.toSeq == Seq("id", "s"))
  }

  test("stats-pruned scan: disjoint files never planned; results equal the full filter") {
    val dir = Files.createTempDirectory("snap").toString
    // three commits with disjoint id ranges → per-file footer ranges
    Snapshots.commit(spark, dir, range(0, 100).coalesce(1))
    Snapshots.commit(spark, dir, range(100, 200).coalesce(1))
    Snapshots.commit(spark, dir, range(200, 300).coalesce(1))
    val pruned = Snapshots.scanFiles(spark, dir, "id", 120, 180)
    assert(pruned.inputFiles.length == 1,
      s"expected 1 surviving file, planned ${pruned.inputFiles.length}")
    val full = Snapshots.read(spark, dir)
      .filter(col("id") >= 120 && col("id") <= 180)
    assert(pruned.count() == full.count() && pruned.count() == 61)
    // empty intersection plans nothing and returns empty, not an error
    assert(Snapshots.scanFiles(spark, dir, "id", 1000, 2000).count() == 0)
    // the manifest CARRIES the stats: every committed file has a cached
    // id range, so planning never opens a file — proven by corrupting a
    // pruned file's bytes on disk (a footer fallback would throw)
    val snap = Snapshots.snapshots(spark, dir).last
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("id"))),
      s"manifest missing cached id ranges: ${snap.stats.keySet}")
    val doomed = snap.files.find(f =>
      snap.stats(f)("id")._2 < 120 || snap.stats(f)("id")._1 > 180).get
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, doomed), "garbage".getBytes)
    val prunedAfter = Snapshots.scanFiles(spark, dir, "id", 120, 180)
    assert(prunedAfter.count() == 61,
      "scan planning touched a pruned file (manifest stats not used)")
  }

  test("published manifest wins over a stale claim: commit re-checks after locking") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 5))
    // simulate the race: v2 manifest exists but its lock was released
    val winner = Snapshots.commit(spark, dir, range(5, 8))
    assert(winner.version == 2)
    // a writer that read current=1 before the winner published would
    // claim v2's lock successfully — the manifest existence check must
    // still reject it (exercised via commitFiles' internal guard; here
    // the external behavior: next commit lands at 3, never overwrites 2)
    val next = Snapshots.commit(spark, dir, range(8, 9))
    assert(next.version == 3)
    assert(Snapshots.readAt(spark, dir, 2).count() == 8)
  }

  test("merge into (COW upsert): matched rows replaced, inserts appended, untouched files by reference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    // two single-file commits so file-level COW is observable
    Snapshots.commit(spark, dir, range(0, 10).repartition(1))
    Snapshots.commit(spark, dir, range(10, 20).repartition(1))
    val before = Snapshots.read(spark, dir)
    // source: update id=3 (lives in commit 1's file), insert id=100
    val source = Seq((3L, "UPDATED"), (100L, "NEW")).toDF("id", "s")
    val snap = Snapshots.mergeInto(spark, dir, source, Seq("id"))
    assert(snap.operation == "merge")
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 21)
    assert(after.filter($"id" === 3L).select("s").as[String].head() == "UPDATED")
    assert(after.filter($"id" === 100L).count() == 1)
    assert(after.filter($"id" === 15L).select("s").as[String].head() == "r15")
    // COW: commit 2's file (ids 10-19, no match) carried by reference
    val v2Files = Snapshots.snapshots(spark, dir).find(_.version == 2L).get.files
    val unmatchedCarried = v2Files.filterNot(
      Snapshots.snapshots(spark, dir).find(_.version == 1L).get.files.contains)
    assert(unmatchedCarried.forall(snap.files.contains),
      "the unmatched file must carry into the merge manifest by reference")
    // pre-merge version still reads the old row (history untouched)
    assert(Snapshots.readAt(spark, dir, 2).filter($"id" === 3L)
      .select("s").as[String].head() == "r3")
    assert(before.count() == 20)
    // duplicate-keyed source is rejected
    intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, dir,
        Seq((1L, "a"), (1L, "b")).toDF("id", "s"), Seq("id"))
    }
  }

  test("incremental read: (from, to] appends plan only the delta files; non-append ranges throw") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10))
    Snapshots.commit(spark, dir, range(10, 30))
    Snapshots.commit(spark, dir, range(30, 35))
    val inc = Snapshots.readIncremental(spark, dir, 1, 3)
    assert(inc.count() == 25)
    assert(inc.agg(min($"id"), max($"id")).as[(Long, Long)].head() == ((10L, 34L)))
    // empty range
    assert(Snapshots.readIncremental(spark, dir, 3, 3).count() == 0)
    // a compact in-range is not an append: loud, not silently wrong
    Snapshots.compactSnapshot(spark, dir)
    intercept[IllegalArgumentException] {
      Snapshots.readIncremental(spark, dir, 3, 4).count()
    }
  }

  test("row-level CDC from the manifest diff: delete emits, compaction cancels, merge is delete+insert") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10).repartition(1))
    Snapshots.commit(spark, dir, range(10, 20).repartition(1)) // v2
    Snapshots.deleteWhere(spark, dir, $"id" === 5L)            // v3
    val cdc = Snapshots.changesBetween(spark, dir, 2, 3)
    assert(cdc.count() == 1)
    assert(cdc.select("id", "_change_type").as[(Long, String)].head() ==
      ((5L, "delete")))
    // compaction rewrites every file but changes no rows: CDC is empty
    Snapshots.compactSnapshot(spark, dir) // v4
    assert(Snapshots.changesBetween(spark, dir, 3, 4).count() == 0)
    // merge: an update surfaces as its delete+insert pair
    Snapshots.mergeInto(spark, dir, Seq((7L, "UP")).toDF("id", "s"), Seq("id")) // v5
    val mc = Snapshots.changesBetween(spark, dir, 4, 5)
      .select("id", "s", "_change_type").as[(Long, String, String)].collect().toSet
    assert(mc == Set((7L, "r7", "delete"), (7L, "UP", "insert")))
  }

  test("streaming keyed upsert: per-epoch merge commits maintain a serving table; replayed epochs skip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("snap").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val mem = MemoryStream[(Long, String)]
    // three epochs with overlapping keys: last write per key must win
    val epochs = Seq(
      Seq((1L, "a1"), (2L, "b1")),
      Seq((2L, "b2"), (3L, "c1")),
      Seq((1L, "a3"), (4L, "d1")))
    epochs.foreach { rows =>
      mem.addData(rows: _*)
      val q = Snapshots.streamMergeWriter(
        mem.toDF().toDF("id", "s"), s"$dir/tbl", ckpt, Seq("id")).start()
      q.awaitTermination()
    }
    val got = Snapshots.read(spark, s"$dir/tbl")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a3"), (2L, "b2"), (3L, "c1"), (4L, "d1")))
    // one snapshot per epoch, each epoch-tagged
    val ops = Snapshots.snapshots(spark, s"$dir/tbl").map(_.operation)
    assert(ops == Seq("merge[epoch=0]", "merge[epoch=1]", "merge[epoch=2]"))
    // a replayed epoch (checkpoint redelivery after a crash between
    // commit and checkpoint advance) commits NOTHING new
    val v = Snapshots.currentVersion(spark, s"$dir/tbl")
    Snapshots.mergeEpoch(Seq((2L, "b2"), (3L, "c1")).toDF("id", "s"),
      s"$dir/tbl", Seq("id"), batchId = 1L)
    assert(Snapshots.currentVersion(spark, s"$dir/tbl") == v)
    // time travel: the table AS OF epoch 1 shows epoch-1-era values
    assert(Snapshots.readAt(spark, s"$dir/tbl", 2)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b2"), (3L, "c1")))
  }

  test("CDC apply: a mirror fed only changesBetween deltas equals the source at every version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    val src = s"$dir/src"
    // a mixed history: appends, a COW delete, a merge, a compaction
    Snapshots.commit(spark, src, range(0, 8).repartition(2))
    Snapshots.commit(spark, src, range(8, 14).repartition(1))
    Snapshots.deleteWhere(spark, src, $"id" % 4 === 1)
    Snapshots.mergeInto(spark, src,
      Seq((2L, "M2"), (50L, "M50")).toDF("id", "s"), Seq("id"))
    Snapshots.compactSnapshot(spark, src)
    Snapshots.commit(spark, src, range(60, 63))
    // the consumer: replay insert/delete deltas into a multiset model
    var mirror = Map.empty[(Long, String), Long] // row -> multiplicity
    val versions = Snapshots.snapshots(spark, src).map(_.version)
    var prev = 0L
    versions.foreach { v =>
      val changes =
        if (prev == 0L) Snapshots.readAt(spark, src, v)
          .withColumn("_change_type", lit("insert"))
        else Snapshots.changesBetween(spark, src, prev, v)
      changes.select($"id", $"s", $"_change_type")
        .as[(Long, String, String)].collect().foreach {
          case (id, s, "insert") =>
            mirror = mirror.updated((id, s), mirror.getOrElse((id, s), 0L) + 1)
          case (id, s, "delete") =>
            val m = mirror((id, s)) - 1
            mirror = if (m == 0) mirror - ((id, s)) else mirror.updated((id, s), m)
          case other => fail(s"unexpected change row $other")
        }
      val expect = Snapshots.readAt(spark, src, v)
        .as[(Long, String)].collect()
        .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
      assert(mirror == expect, s"mirror diverged from source at v$v")
      prev = v
    }
  }

  test("write-audit-publish: staged data is invisible until published; discard orphans it; sweep spares live stages") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 10))
    // stage a batch: table unchanged, audit view sees it
    val id = Snapshots.stageWrite(spark, dir, range(10, 15))
    assert(Snapshots.read(spark, dir).count() == 10)
    assert(Snapshots.readStaged(spark, dir, id).count() == 5)
    // the in-flight stage survives an aggressive orphan sweep
    assert(Snapshots.removeOrphans(spark, dir, olderThanMs = -1).isEmpty)
    // audit passes → publish: atomic append, stage consumed
    val snap = Snapshots.publishStaged(spark, dir, id)
    assert(snap.operation == s"append[wap=$id]")
    assert(Snapshots.read(spark, dir).count() == 15)
    intercept[IllegalArgumentException] {
      Snapshots.publishStaged(spark, dir, id) // double publish is loud
    }
    // the published WAP commit is a legal incremental-read append
    assert(Snapshots.readIncremental(spark, dir, 1, 2).count() == 5)
    // audit fails → discard: data never becomes visible, sweep reclaims
    val bad = Snapshots.stageWrite(spark, dir, range(100, 103))
    Snapshots.discardStaged(spark, dir, bad)
    assert(Snapshots.read(spark, dir).count() == 15)
    val swept = Snapshots.removeOrphans(spark, dir, olderThanMs = -1)
    assert(swept == Seq(s"data/$bad"))
    intercept[IllegalArgumentException] {
      Snapshots.readStaged(spark, dir, bad)
    }
  }

  test("DML fuzz: a random append/merge/delete sequence matches a Map-model fold at every version") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dir = Files.createTempDirectory("snap").toString
    var model = Map.empty[Long, String]
    val history = scala.collection.mutable.ArrayBuffer.empty[Map[Long, String]]
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "s")
    Snapshots.commit(spark, dir, df(Seq((0L, "seed"))))
    model += 0L -> "seed"; history += model
    for (step <- 1 to 12) {
      rnd.nextInt(3) match {
        case 0 => // append fresh keys
          val rows = (0 to rnd.nextInt(3)).map(i =>
            (step * 100L + i, s"a$step-$i"))
          Snapshots.commit(spark, dir, df(rows))
          model ++= rows
        case 1 => // merge: update existing + insert new
          val existing = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(2))
          val rows = existing.map(k => (k, s"up$step")) :+
            ((step * 100L + 99L, s"ins$step"))
          Snapshots.mergeInto(spark, dir, df(rows), Seq("id"))
          model ++= rows
        case 2 => // delete a key range
          val cut = step * 100L
          Snapshots.deleteWhere(spark, dir, $"id" < cut && $"id" % 3 === step % 3)
          model = model.filterNot { case (k, _) => k < cut && k % 3 == step % 3 }
      }
      history += model
      val got = Snapshots.read(spark, dir).as[(Long, String)].collect().toMap
      assert(got == model, s"diverged at step $step")
    }
    // every historical version still replays its era's model exactly
    history.zipWithIndex.foreach { case (m, i) =>
      val got = Snapshots.readAt(spark, dir, i + 1L)
        .as[(Long, String)].collect().toMap
      assert(got == m, s"time travel to v${i + 1} diverged")
    }
  }

  test("additive schema evolution: new column reads null-filled on old files; time travel sees the old schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 5))
    Snapshots.commit(spark, dir,
      Seq((100L, "x", 42)).toDF("id", "s", "extra"))
    val cur = Snapshots.read(spark, dir)
    assert(cur.columns.toSet == Set("id", "s", "extra"))
    assert(cur.filter($"extra".isNull).count() == 5)
    assert(cur.filter($"extra" === 42).count() == 1)
    // pre-evolution snapshot: narrow schema, no phantom column
    assert(Snapshots.readAt(spark, dir, 1).columns.toSet == Set("id", "s"))
  }

  test("DELETE keeps NULL-predicate rows: SQL semantics remove only pred IS TRUE") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    // nullable column in the predicate, co-located in ONE file with
    // matching rows so the COW rewrite must evaluate the predicate on
    // the NULL rows (a !pred filter would silently drop them)
    val rows = Seq((1L, Some(5)), (2L, None), (3L, Some(99)), (4L, None))
      .toDF("id", "v").repartition(1)
    Snapshots.commit(spark, dir, rows)
    Snapshots.deleteWhere(spark, dir, $"v" < 10) // matches only id=1
    val got = Snapshots.read(spark, dir).select($"id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L),
      s"rows with NULL predicate value must survive DELETE, got $got")
  }

  test("stale commit lock is reclaimed: a crashed writer cannot wedge the table forever") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 5))
    // a writer crashed between claim and publish: lock exists, no
    // manifest ever appears at v2, and the lock has aged past the TTL
    val lock = new java.io.File(s"$dir/metadata/v2.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(
      System.currentTimeMillis() - Snapshots.LockStaleMs - 60_000L))
    // the next commit reclaims the stale lock and lands at v2
    val snap = Snapshots.commit(spark, dir, range(5, 10))
    assert(snap.version == 2L)
    assert(Snapshots.read(spark, dir).count() == 10)
    // a FRESH lock (live competitor) is still authoritative
    val fresh = new java.io.File(s"$dir/metadata/v3.lock")
    assert(fresh.createNewFile())
    intercept[Snapshots.ConcurrentCommitException](
      Snapshots.commit(spark, dir, range(10, 11)))
    fresh.delete()
    // housekeeping: removeOrphans sweeps a stale lock too
    val stale = new java.io.File(s"$dir/metadata/v3.lock")
    assert(stale.createNewFile())
    assert(stale.setLastModified(
      System.currentTimeMillis() - Snapshots.LockStaleMs - 60_000L))
    val swept = Snapshots.removeOrphans(spark, dir, olderThanMs = 3600_000L)
    assert(swept.contains("metadata/v3.lock") && !stale.exists())
  }

  test("epoch replay detection survives expire: high-water mark lives on the current manifest") {
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commitEpoch(range(0, 10), dir, batchId = 0)
    Snapshots.commitEpoch(range(10, 20), dir, batchId = 1)
    Snapshots.commitEpoch(range(20, 30), dir, batchId = 2)
    // expire the manifests whose operation tags carried epochs 0 and 1
    Snapshots.expire(spark, dir, keepLast = 1)
    assert(Snapshots.snapshots(spark, dir).size == 1)
    // a checkpoint replay of an EXPIRED epoch must still be a no-op —
    // the tag is gone from history, the property is not
    Snapshots.commitEpoch(range(90, 99), dir, batchId = 1)
    assert(Snapshots.read(spark, dir).count() == 30,
      "replayed epoch re-committed after expiry (duplicate data)")
    // the high-water survives non-epoch commits (compaction) too
    Snapshots.compactSnapshot(spark, dir)
    Snapshots.commitEpoch(range(90, 99), dir, batchId = 2)
    assert(Snapshots.read(spark, dir).count() == 30)
    // a genuinely new epoch still commits and advances the mark
    Snapshots.commitEpoch(range(30, 35), dir, batchId = 3)
    assert(Snapshots.read(spark, dir).count() == 35)
    // mergeEpoch shares the same contract
    val mdir = Files.createTempDirectory("snap").toString
    Snapshots.mergeEpoch(range(0, 5), mdir, Seq("id"), batchId = 0)
    Snapshots.mergeEpoch(range(5, 8), mdir, Seq("id"), batchId = 1)
    Snapshots.expire(spark, mdir, keepLast = 1)
    Snapshots.mergeEpoch(range(50, 60), mdir, Seq("id"), batchId = 0)
    assert(Snapshots.read(spark, mdir).count() == 8,
      "replayed merge epoch re-applied after expiry")
  }

  test("CDC across additive schema evolution: sides align on the merged schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    Snapshots.commit(spark, dir, range(0, 5).repartition(1))            // v1 narrow
    Snapshots.commit(spark, dir,
      Seq((100L, "x", 42)).toDF("id", "s", "extra").repartition(1))     // v2 wide
    // v1→v2 delta spans the evolution boundary: the insert side is wide,
    // the (empty) delete side must still align without throwing
    val cdc = Snapshots.changesBetween(spark, dir, 1, 2)
    assert(cdc.columns.toSet == Set("id", "s", "extra", "_change_type"))
    assert(cdc.count() == 1)
    assert(cdc.select($"id", $"extra", $"_change_type")
      .as[(Long, Int, String)].head() == ((100L, 42, "insert")))
    // compaction across the boundary: the FROM side mixes narrow and
    // wide files in ONE read — without mergeSchema that read plans a
    // single file's schema and exceptAll throws (or silently drops
    // `extra`); with it, old rows read extra=null, matching the
    // compacted file, and everything cancels
    Snapshots.compactSnapshot(spark, dir)                               // v3
    assert(Snapshots.changesBetween(spark, dir, 2, 3).count() == 0,
      "compaction across schema evolution must emit no row changes")
    // and a delete after compaction still isolates exactly its row
    Snapshots.deleteWhere(spark, dir, $"id" === 2L)                     // v4
    val cdc2 = Snapshots.changesBetween(spark, dir, 3, 4)
    val del = cdc2.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().toSet
    assert(del == Set(2L), s"expected exactly the deleted row, got $del")
  }

  test("lake contract: append/read/time-travel/delete/merge/rollback") {
    import spark.implicits._
    val t = Files.createTempDirectory("snap").toString
    def versions = Snapshots.snapshots(spark, t).map(_.version)
    // append commits accumulate
    Snapshots.commit(spark, t, range(0, 10))
    Snapshots.commit(spark, t, range(10, 30))
    assert(Snapshots.read(spark, t).count() == 30)
    val versionsAfterAppends = versions
    assert(versionsAfterAppends.size == 2)
    assert(Snapshots.currentVersion(spark, t).contains(versionsAfterAppends.last))
    // time travel to the first commit
    assert(Snapshots.readAt(spark, t, versionsAfterAppends.head).count() == 10)
    assert(Snapshots.readAsOf(spark, t, System.currentTimeMillis()).count() == 30)
    // DELETE removes only pred IS TRUE
    Snapshots.deleteWhere(spark, t, col("id") < 5)
    assert(Snapshots.read(spark, t).count() == 25)
    assert(Snapshots.read(spark, t).filter(col("id") < 5).count() == 0)
    // MERGE: update one, insert one
    Snapshots.mergeInto(spark, t, Seq((7L, "UP"), (100L, "NEW")).toDF("id", "s"), Seq("id"))
    val after = Snapshots.read(spark, t)
    assert(after.count() == 26)
    assert(after.filter($"id" === 7L).select("s").as[String].head() == "UP")
    // compaction changes no rows
    Snapshots.compactSnapshot(spark, t, files = 1)
    assert(Snapshots.read(spark, t).count() == 26)
    // rollback to pre-delete: contents restored, history intact
    Snapshots.rollback(spark, t, versionsAfterAppends.last)
    assert(Snapshots.read(spark, t).count() == 30)
    // replace overwrites everything
    Snapshots.commit(spark, t, range(500, 503), operation = "replace", replace = true)
    assert(Snapshots.read(spark, t).select(min($"id")).as[Long].head() == 500L)
    // expire keeps the table readable
    Snapshots.expire(spark, t, keepLast = 1)
    assert(Snapshots.read(spark, t).count() == 3)
  }

  test("lake contract: incremental/CDC/WAP/epoch") {
    import spark.implicits._
    val t = Files.createTempDirectory("snap").toString
    def versions = Snapshots.snapshots(spark, t).map(_.version)
    // exactly-once epoch appends: a replayed epoch skips
    Snapshots.commitEpoch(range(0, 10), t, 0L)
    Snapshots.commitEpoch(range(10, 20), t, 1L)
    Snapshots.commitEpoch(range(10, 20), t, 1L) // checkpoint replay
    assert(Snapshots.read(spark, t).count() == 20)
    val vs = versions
    assert(vs.size == 2)
    // incremental append scan covers exactly (v0, v1]
    assert(Snapshots.readIncremental(spark, t, vs.head, vs.last).count() == 10)
    assert(Snapshots.readIncremental(spark, t, vs.head, vs.last)
      .select(min(col("id"))).as[Long].head() == 10L)
    // row-level CDC across a COW delete: 5 deletes, 0 inserts
    Snapshots.deleteWhere(spark, t, col("id") >= 15)
    val chg = Snapshots.changesBetween(spark, t, vs.last, versions.last)
    assert(chg.filter(col("_change_type") === "delete").count() == 5)
    assert(chg.filter(col("_change_type") === "insert").count() == 0)
    // WAP: staged rows invisible until published, then atomic
    val sid = Snapshots.stageWrite(spark, t, range(100, 103))
    assert(Snapshots.read(spark, t).count() == 15)
    assert(Snapshots.readStaged(spark, t, sid).count() == 3)
    Snapshots.publishStaged(spark, t, sid)
    assert(Snapshots.read(spark, t).count() == 18)
    // discarded stage never becomes visible
    val sid2 = Snapshots.stageWrite(spark, t, range(200, 205))
    Snapshots.discardStaged(spark, t, sid2)
    assert(Snapshots.read(spark, t).count() == 18)
    // exactly-once keyed epoch merge: upsert semantics + replay skip
    val mt = Files.createTempDirectory("snap").toString
    Snapshots.mergeEpoch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), mt, Seq("id"), 0L)
    Snapshots.mergeEpoch(Seq((2L, "B"), (3L, "c")).toDF("id", "s"), mt, Seq("id"), 1L)
    // a replayed epoch with (hypothetically) different content must
    // SKIP — the tag, not the rows, decides
    Snapshots.mergeEpoch(Seq((2L, "Z"), (3L, "z")).toDF("id", "s"), mt, Seq("id"), 1L)
    val m = Snapshots.read(spark, mt).as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // the replay guard survives expiry (expiry-proof high-water)
    Snapshots.expire(spark, mt, keepLast = 1)
    Snapshots.mergeEpoch(Seq((9L, "X")).toDF("id", "s"), mt, Seq("id"), 0L)
    assert(Snapshots.read(spark, mt).count() == 3) // epoch 0 replay skipped
  }
}
