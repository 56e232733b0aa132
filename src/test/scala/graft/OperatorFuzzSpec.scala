package graft

import graft.llm.Dedup
import graft.queries.Product
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Randomized cross-checks: the distributed operators vs naive
  * in-memory reference implementations on seeded random inputs —
  * failure modes (window frames, tie-breaks, boundary gaps) that
  * hand-picked fixtures miss.
  */
class OperatorFuzzSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  test("sessionization == brute-force gap splitter on random event times") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val base = 1704067200000000L // 2024-01-01 in epoch micros
    // 20 users, gaps drawn to straddle the 30-min boundary often
    val events = (1L to 600L).map { eid =>
      val user = rnd.nextInt(20).toLong
      val us = base + rnd.nextInt(4) * Product.SessionGapUs +
        rnd.nextLong(3 * Product.SessionGapUs)
      (eid, new Timestamp(us / 1000), user, "view", 1.0, "{}")
    }
    val dir = Files.createTempDirectory("sessfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // brute force: per user, sort by (us, event_id), split at gap > 30min
    val expected = events
      .map { case (eid, ts, u, _, _, _) => (u, ts.getTime * 1000L, eid) }
      .groupBy(_._1).flatMap { case (u, evs) =>
        val sorted = evs.toSeq.sortBy(e => (e._2, e._3))
        val sessions = sorted.foldLeft(List.empty[List[Long]] -> Long.MinValue) {
          case ((acc, prevUs), (_, us, _)) =>
            val acc2 =
              if (acc.isEmpty || us - prevUs > Product.SessionGapUs) List(us) :: acc
              else (us :: acc.head) :: acc.tail
            (acc2, us)
        }._1.reverse
        sessions.zipWithIndex.map { case (ss, i) =>
          (u, (i + 1).toLong, ss.size.toLong, ss.min, ss.max, ss.max - ss.min)
        }
      }.toSet

    val got = Product.sessions(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
  }

  test("funnelSteps == driver greedy chain on random streams, N in {1,2,3,5}") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    val types = Vector("a", "b", "c", "d", "e")
    // 30 users × ~40 events each, random types — chains break and
    // re-anchor constantly at this density
    val events = (1L to 1200L).map { eid =>
      (rnd.nextInt(30).toLong, types(rnd.nextInt(types.length)), eid)
    }
    val df = events.toDF("user_id", "event_type", "event_id")
    for (steps <- Seq(Seq("a"), Seq("b", "d"), Seq("a", "b", "c"),
        Seq("e", "a", "c", "b", "d"))) {
      // driver recompute: per user, events in id order, greedy
      // first-match chain over the step list
      val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
        val sorted = evs.sortBy(_._3)
        val eids = steps.foldLeft(Vector.empty[Option[Long]]) { (acc, st) =>
          val after = acc.lastOption.flatten.orElse(
            if (acc.isEmpty) Some(Long.MinValue) else None)
          acc :+ after.flatMap(a =>
            sorted.find(e => e._2 == st && e._3 > a).map(_._3))
        }
        if (eids.head.isEmpty) None
        else Some((u, eids.map(_.map(Long.box).orNull).toList,
          1 + eids.tail.count(_.isDefined)))
      }.toSet
      val got = Product.funnelStepsOver(df, steps).collect().map { r =>
        (r.getLong(0),
          (1 to steps.length).map(i =>
            if (r.isNullAt(i)) null else Long.box(r.getLong(i))).toList,
          r.getInt(steps.length + 1))
      }.toSet
      assert(got == expected, s"steps=$steps")
    }
  }

  test("novelty == brute-force first-seen scan on a collision-heavy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Array("x", "y", "z", "w")
    val docs = (1L to 30L).map { id =>
      id -> Array.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    }
    val dir = Files.createTempDirectory("novfuzz").toString
    docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def shingles(t: Array[String]): Set[String] =
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
    val firstSeen = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (id, t) =>
      shingles(t).foreach(g => if (!firstSeen.contains(g)) firstSeen(g) = id)
    }
    val expected = docs.map { case (id, t) =>
      val sh = shingles(t)
      val seen = sh.count(g => firstSeen(g) < id)
      val nov = if (sh.nonEmpty) (sh.size - seen).toDouble / sh.size else 1.0
      (id, sh.size.toLong, seen.toLong, nov)
    }.toSet

    val got = Dedup.novelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("edit-distance pairs == banded-candidate brute force on mutated near-dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    // 20 base docs long enough to shingle, each with 1-2 mutated copies:
    // drop/substitute a couple of tokens (≲ 12 char edits — well inside
    // MaxEdit) so true near-dup pairs exist alongside unrelated docs
    val bases = (0 until 20).map { i =>
      Array.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    bases.foreach { b =>
      docs += ((id, b.mkString(" "))); id += 1
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val m = b.clone()
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          m(rnd.nextInt(m.length)) = vocab(rnd.nextInt(vocab.length))
        }
        docs += ((id, m.mkString(" "))); id += 1
      }
    }
    val dir = Files.createTempDirectory("editfuzz").toString
    docs.toSeq.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val cost = if (a(i - 1) == b(j - 1)) 0 else 1
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }

    // candidates from the operator's OWN blocking (this test pins the
    // verify stage bit-for-bit; lshAudit owns the recall question)
    val bandRows = Dedup.minhashBands(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byBand = bandRows.groupBy(t => (t._2, t._3))
    val cands = byBand.values.flatMap { g =>
      val ids = g.map(_._1).distinct.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
    val text = docs.toMap
    val expected = cands.flatMap { case (a, b) =>
      val (ta, tb) = (text(a), text(b))
      if (math.abs(ta.length - tb.length) > Dedup.MaxEdit) None
      else {
        val d = lev(ta, tb)
        if (d <= Dedup.MaxEdit)
          Some((a, b, d.toLong, 1.0 - d.toDouble / math.max(ta.length, tb.length)))
        else None
      }
    }
    assert(expected.nonEmpty, "fixture must produce at least one near-dup pair")
    val got = Dedup.editPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("BucketedOrder == naive total-order window on fuzzed inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    // key distributions chosen to hit the decomposition's edges: heavy
    // duplicates (ties span bucket-assignment), negatives, and the
    // hi==lo degenerate (everything in bucket 0)
    val cases: Seq[(String, Int => Double)] = Seq(
      ("dup-heavy", _ => rnd.nextInt(7).toDouble),
      ("negative", _ => -500.0 + rnd.nextInt(1000)),
      ("all-equal", _ => 3.14),
      ("continuous", _ => rnd.nextDouble() * 1e6 - 5e5))
    for ((label, gen) <- cases) {
      val rows = (1L to 400L).map(id =>
        (id, gen(0), (id % 3).toString, rnd.nextInt(50).toLong))
      val df = rows.toDF("id", "key", "grp", "v").repartition(5)
      // global: rank + inclusive prefix sum, ascending
      val got = graft.plans.BucketedOrder.withOrderStats(
          df, rangeKey = col("key"), order = Seq(col("key"), col("id")),
          cums = Seq("cum_v" -> "v"))
        .select(col("id"), col("rk"), col("cum_v")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sorted = rows.sortBy(r => (r._2, r._1))
      val exp = sorted.zipWithIndex.map { case ((id, _, _, _), i) =>
        (id, (i + 1).toLong, sorted.take(i + 1).map(_._4).sum)
      }.toSet
      assert(got == exp, s"global order stats diverged on $label")
      // per-group (PARTITION BY grp), descending leading key via -key
      val gotG = graft.plans.BucketedOrder.withOrderStats(
          df, rangeKey = -col("key"), order = Seq(col("key").desc, col("id")),
          partitionCols = Seq("grp"))
        .select(col("grp"), col("id"), col("rk")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val expG = rows.groupBy(_._3).flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._2, r._1)).zipWithIndex
          .map { case ((id, _, _, _), i) => (g, id, (i + 1).toLong) }
      }.toSet
      assert(gotG == expG, s"per-group desc order stats diverged on $label")
    }
  }

  test("BucketedOrder: NaN range keys rank last (not dropped, not range-poisoning)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // One NaN key used to poison __hi (min/max treat NaN as the largest
    // double) → every bucket NaN → null → ALL rows dropped by the
    // offsets equi-join. NaN must instead land in the sorts-last
    // sentinel bucket, matching Spark's NaN-last ascending window order.
    val rnd = new scala.util.Random(911)
    val rows = (1L to 300L).map { id =>
      val k = if (id % 7 == 0) Double.NaN else rnd.nextDouble() * 100 - 50
      (id, k, rnd.nextInt(20).toLong)
    }
    val df = rows.toDF("id", "key", "v").repartition(5)
    val got = graft.plans.BucketedOrder.withOrderStats(
        df, rangeKey = col("key"), order = Seq(col("key"), col("id")),
        cums = Seq("cum_v" -> "v"))
      .select(col("id"), col("rk"), col("cum_v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Scala 2.13 TotalOrdering sorts NaN after every real double — the
    // same NaN-last order Spark's ascending window uses
    val sorted = rows.sortBy(r => (r._2, r._1))
    val exp = sorted.zipWithIndex.map { case ((id, _, _), i) =>
      (id, (i + 1).toLong, sorted.take(i + 1).map(_._3).sum)
    }.toSet
    assert(got.size == rows.size, s"rows dropped: ${got.size} of ${rows.size}")
    assert(got == exp, "NaN-mixed order stats diverged from the naive window")
  }

  test("ipv6Hi == java.net.InetAddress on fuzzed compressed addresses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(1717)
    def hexOf(g: Int) = {
      val h = Integer.toHexString(g)
      if (rnd.nextBoolean()) h else h.toUpperCase
    }
    val addrs = (1 to 200).map { _ =>
      val gs = Array.fill(8)(rnd.nextInt(0x10000))
      gs(0) = rnd.nextInt(0x8000).max(1) // signed-fold headroom, no leading ::
      // force a zero run of random length/position, then maybe compress it
      val runLen = 1 + rnd.nextInt(5)
      val runAt = 1 + rnd.nextInt(8 - runLen)
      (runAt until runAt + runLen).foreach(gs(_) = 0)
      if (rnd.nextBoolean()) {
        val left = gs.take(runAt).map(hexOf).mkString(":")
        val right = gs.drop(runAt + runLen).map(hexOf).mkString(":")
        s"$left::$right" // right may be empty: the trailing-:: form
      } else gs.map(hexOf).mkString(":")
    }.distinct
    val expected = addrs.map { a =>
      val b = java.net.InetAddress.getByName(a).getAddress
      val hi = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))
      a -> hi
    }.toMap
    val got = addrs.toDF("addr")
      .select(col("addr"), graft.queries.Relational.ipv6Hi(col("addr")).as("hi"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = expected.collect { case (a, e) if got(a) != e => s"$a: got ${got(a)} want $e" }
    assert(bad.isEmpty, s"ipv6 parse diverged from InetAddress on:\n  ${bad.mkString("\n  ")}")
  }

  test("q_dedup_edit oracle contract: corpus is ASCII-only") {
    // Spark levenshtein counts code-point edits, DuckDB counts BYTE
    // edits; the hash oracle for q_dedup_edit is valid only while the
    // documents fixture is single-byte. If the driver ever regenerates
    // testdata with multi-byte text, fail HERE with the why, not as an
    // opaque hash mismatch in the correctness gate.
    val nonAscii = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.expr("length(text) != octet_length(text)")).count()
    assert(nonAscii == 0L,
      s"$nonAscii documents contain multi-byte chars: q_dedup_edit's " +
        "DuckDB oracle (byte-wise levenshtein) no longer matches Spark's " +
        "code-point semantics — see Dedup.editPairs scaladoc")
  }

  test("session funnel == brute force over random sessions") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val base = 1704067200000000L
    val types = Array("view", "click", "purchase", "error")
    val events = (1L to 500L).map { eid =>
      val us = base + rnd.nextInt(3) * Product.SessionGapUs +
        rnd.nextLong(2 * Product.SessionGapUs)
      (eid, new Timestamp(us / 1000), rnd.nextInt(15).toLong,
        types(rnd.nextInt(types.length)), 1.0, "{}")
    }
    val dir = Files.createTempDirectory("sfunfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // brute force: sessionize, then per session walk the ordered events
    val expected = events
      .map { case (eid, ts, u, et, _, _) => (u, ts.getTime * 1000L, eid, et) }
      .groupBy(_._1).flatMap { case (u, evs) =>
        val sorted = evs.toSeq.sortBy(e => (e._2, e._3))
        val sessions = sorted.foldLeft(List.empty[List[(Long, String)]] -> Long.MinValue) {
          case ((acc, prevUs), (_, us, eid, et)) =>
            val acc2 =
              if (acc.isEmpty || us - prevUs > Product.SessionGapUs)
                List((eid, et)) :: acc
              else ((eid, et) :: acc.head) :: acc.tail
            (acc2, us)
        }._1.reverse.map(_.reverse)
        sessions.zipWithIndex.flatMap { case (ss, i) =>
          // min-event-id semantics (the operator's contract); the fuzz
          // ids are NOT time-monotone, so this differs from time order
          def minOf(et: String, after: Long): Option[Long] =
            ss.collect { case (eid, `et`) if eid > after => eid }
              .reduceOption(_ min _)
          val v = minOf("view", Long.MinValue)
          val c = v.flatMap(minOf("click", _))
          val p = c.flatMap(minOf("purchase", _))
          v.map(ve => (u, (i + 1).toLong, ve, c.getOrElse(-1L), p.getOrElse(-1L),
            1 + c.size + p.size))
        }
      }.toSet

    val got = Product.sessionFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getInt(5))).toSet
    assert(got == expected)
  }

  test("funnel correlation == brute-force odds ratios") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val types = Array("view", "click", "signup", "purchase")
    val events = (1L to 500L).map { eid =>
      (eid, new Timestamp(1704067200000L + eid * 1000), rnd.nextInt(40).toLong,
        types(rnd.nextInt(types.length)), rnd.nextDouble() * 200, "{}")
    }
    val dir = Files.createTempDirectory("corrfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val byUser = events.groupBy(_._3).view.mapValues(_.map(_._4).toSet).toMap
    val conv = byUser.filter(_._2.contains("purchase")).keySet
    val nConv = conv.size.toLong
    val nDrop = byUser.size.toLong - nConv
    val expected = types.filter(_ != "purchase").flatMap { t =>
      val users = byUser.filter(_._2.contains(t)).keySet
      if (users.isEmpty) None else {
        val s = users.count(conv).toLong
        val f = users.size - s
        Some((t, users.size.toLong, s, f,
          ((s + 1) * (nDrop + 2)).toDouble / ((f + 1) * (nConv + 2))))
      }
    }.toSet

    val got = Product.correlation(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1) + r.getLong(2), r.getLong(1),
        r.getLong(2), r.getDouble(5))).toSet
    assert(got == expected)
  }

  test("vocab build + encode == brute force on a pool wider than the vocab") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    // 400 distinct words force a real cut at VocabSize=256, with ties
    val pool = (0 until 400).map(i => f"w${rnd.nextInt(300)}%03d-$i")
    val docs = (1L to 40L).map { id =>
      id -> Array.fill(5 + rnd.nextInt(30))(pool(rnd.nextInt(pool.length)))
    }
    val dir = Files.createTempDirectory("vocfuzz").toString
    docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val freq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val vocabIds = freq.toSeq.sortBy { case (t, f) => (-f, t) }
      .take(graft.llm.TextOps.VocabSize)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1).toLong }.toMap
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expected = docs.map { case (id, toks) =>
      val ids = toks.map(t => vocabIds.getOrElse(t, 0L)).toSeq
      (id, toks.length.toLong, ids.count(_ == 0L).toLong, h60(ids.mkString(" ")))
    }.toSet

    val got = graft.llm.TextOps.vocab(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("bloom decontamination == exact decontamination row-for-row, gates all hold") {
    import spark.implicits._
    val rnd = new scala.util.Random(31415)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff")
    // ids 1..120 → docs 50 and 100 land on the eval side (doc_id % 50 == 0);
    // a small vocab plants heavy shingle overlap across the split
    val docs = (1L to 120L).map { id =>
      id -> Array.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
    }
    val dir = Files.createTempDirectory("bloomfuzz").toString
    docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def key(r: org.apache.spark.sql.Row) = // n_shingles is int (size())
      (r.getLong(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
        r.getDouble(3), r.getBoolean(4))
    val exact = graft.llm.Corpus.decontam(spark, dir).collect().map(key).toSet
    val bloomRows = graft.llm.Corpus.decontamBloom(spark, dir).collect()
    assert(bloomRows.map(key).toSet == exact)
    bloomRows.foreach { r =>
      assert(r.getBoolean(5), s"false negative reported for doc ${r.getLong(0)}")
      assert(r.getBoolean(6), s"fp bound breached for doc ${r.getLong(0)}")
    }
  }

  test("fuzz: token budget and stratified shards == driver-side recompute on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    val langs = Seq("en", "fr", "de")
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    // token counts drawn to straddle the quality gate's 10..1000 band
    // and the uniqueness ratio; a few empty docs test the n=0 edge
    val docs = (0L until 300L).map { id =>
      val n = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(9)          // below the min-length gate
        case 1 => 10 + rnd.nextInt(40)
        case _ => 10 + rnd.nextInt(200)
      }
      val toks = Seq.fill(n)(words(rnd.nextInt(
        if (rnd.nextBoolean()) words.length else 2))) // some low-diversity docs
      (id, toks.mkString(" "), langs(rnd.nextInt(langs.length)))
    }
    val dir = Files.createTempDirectory("budgetfuzz").toString
    docs.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "concat('src', doc_id % 20) AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    case class D(id: Long, lang: String, h: Long, nTok: Long, quality: Boolean)
    val ref = docs.map { case (id, text, lang) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val q = toks.length >= 10 && toks.length <= 1000 &&
        toks.distinct.length * 2 >= toks.length
      D(id, lang, h60(text), toks.length.toLong, q)
    }

    // token budget: per lang, quality-first hash order, keep while
    // 4 * cum <= lang total
    val expKept = ref.groupBy(_.lang).flatMap { case (_, ds) =>
      val total = ds.map(_.nTok).sum
      val ordered = ds.sortBy(d => (!d.quality, d.h, d.id))
      var cum = 0L
      ordered.map { d => cum += d.nTok; d.id -> (cum * 4 <= total) }
    }
    val gotBudget = graft.llm.Corpus.tokenBudget(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(gotBudget.size == docs.length)
    expKept.foreach { case (id, kept) =>
      assert(gotBudget(id) == kept, s"token budget: doc $id kept mismatch")
    }

    // stratified shards: per (lang, quality), seeded-hash order dealt
    // round-robin
    val expShard = ref.groupBy(d => (d.lang, d.quality)).flatMap { case (_, ds) =>
      ds.sortBy(d => (h60(s"${graft.llm.Corpus.EpochSeed}st:${d.id}"), d.id))
        .zipWithIndex.map { case (d, i) =>
          d.id -> (i.toLong % graft.llm.Corpus.NumStratShards,
            i.toLong / graft.llm.Corpus.NumStratShards) }
    }
    val gotShard = graft.llm.Corpus.stratShards(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(gotShard.size == docs.length)
    expShard.foreach { case (id, sp) =>
      assert(gotShard(id) == sp, s"strat shards: doc $id (shard,pos) mismatch")
    }
  }

  test("write-time shuffle form == rank window: sortWithinPartitions reproduces pos_in_shard") {
    // shuffleShard's scaladoc claims the rank window is the audit form
    // of `repartition(shard).sortWithinPartitions(shuf_key)` — at
    // scale the file order IS the position. Prove the orders coincide:
    // within any physical partition, each shard's rows appear exactly
    // in the window's pos_in_shard sequence.
    val sf = "/root/testdata/sf0.001"
    val df = graft.llm.TextOps.shuffleShard(spark, sf)
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._3).view.mapValues(_.sortBy(_._4).map(_._1).toSeq).toMap
    import org.apache.spark.sql.functions.col
    val encountered = df.repartition(5, col("shard"))
      .sortWithinPartitions(col("shuf_key"), col("doc_id"))
      .select(col("shard"), col("doc_id"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .mapPartitions(it => Iterator(it.toSeq)).collect()
    val got = scala.collection.mutable.Map.empty[Long, Vector[Long]].withDefaultValue(Vector.empty)
    encountered.foreach(_.foreach { case (sh, id) => got(sh) = got(sh) :+ id })
    expected.foreach { case (sh, ids) =>
      assert(got(sh) == ids, s"shard $sh: write-time order diverged from the rank window")
    }
    assert(got.keySet == expected.keySet)
  }

  test("media-align integer gate == floating cosine >= 0.97 on random histograms") {
    // the cross-multiplied form (10000·dot² >= 9409·‖a‖²‖b‖², dot >= 0)
    // must agree with the float cosine threshold on every pair where
    // the float compare is not razor-edge; integer arithmetic is exact,
    // so disagreement can only appear within float rounding of the
    // boundary — assert none occurs outside a 1e-9 band
    val rnd = new scala.util.Random(42)
    val hists = (0 until 60).map(_ => Array.fill(64)(rnd.nextInt(40).toLong))
    for (a <- hists; b <- hists) {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na2 = a.map(x => x * x).sum
      val nb2 = b.map(x => x * x).sum
      if (na2 > 0 && nb2 > 0) {
        val intKeep = dot * dot * 10000 >= na2 * nb2 * 9409
        val cos = dot / (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble))
        if (math.abs(cos - 0.97) > 1e-9)
          assert(intKeep == (cos >= 0.97),
            s"gate disagreed at cos=$cos: int=$intKeep")
      }
    }
  }

  test("trends breakdown lump never double-counts distinct viewers (vs naive recompute)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.Product.trendsBreakdown(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // naive reference: full event list in memory, same election rule
    val ev = graft.Tables.events(spark, sf)
      .select("ts", "user_id", "event_type", "props").collect()
      .map(r => (java.time.Instant.ofEpochMilli(r.getTimestamp(0).getTime)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString,
        r.getLong(1), r.getString(2),
        Option(r.getString(3)).flatMap(p =>
          "\"k\":\\s*(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))))
    val totals = ev.flatMap(e => e._4.map(_ -> 1L))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val top = totals.toSeq.sortBy { case (v, n) => (-n, v) }
      .take(graft.queries.Product.BreakdownTopK).map(_._1).toSet
    val bySeries = ev.groupBy(e =>
      (e._1, e._4.filter(top.contains).getOrElse("$$_other")))
    bySeries.foreach { case ((day, series), rows) =>
      val purchases = rows.count(_._3 == "purchase").toLong
      val viewers = rows.filter(_._3 == "view").map(_._2).distinct.size.toLong
      val (gp, gv) = got.getOrElse((day, series),
        fail(s"missing series ($day, $series) in the operator output"))
      assert(gp == purchases && gv == viewers,
        s"($day, $series): got ($gp, $gv), naive ($purchases, $viewers)")
    }
    // zero-filled grid rows exist for every (day, series) combination
    val days = got.keys.map(_._1).toSet
    val seriesNames = got.keys.map(_._2).toSet
    for (d <- days; s <- seriesNames)
      assert(got.contains((d, s)), s"grid hole at ($d, $s)")
  }

  test("strict + unordered funnel == brute-force scans over random sequences") {
    import spark.implicits._
    val rnd = new scala.util.Random(8642)
    val types = Vector("view", "click", "purchase", "signup", "error")
    // short sequences biased toward the funnel types so consecutive
    // (view,click,purchase) runs actually occur — and users with NO
    // funnel event at all exercise the exclusion filters
    val events = (1L to 800L).map { eid =>
      (eid, new Timestamp(1704067200000L + eid * 1000),
        rnd.nextInt(40).toLong, types(rnd.nextInt(if (eid % 3 == 0) 5 else 3)),
        1.0, "{}")
    }
    val dir = Files.createTempDirectory("funnelfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val byUser = events.groupBy(_._3).view
      .mapValues(_.sortBy(_._1).map(e => (e._1, e._4)).toVector).toMap

    // strict: earliest consecutive run of depth >= n
    val gotStrict = Product.funnelStrict(spark, dir).collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        r.getInt(4))).toMap
    byUser.foreach { case (u, seq) =>
      val s1 = seq.collectFirst { case (id, "view") => id }
      val s2 = seq.indices.dropRight(1).collectFirst {
        case i if seq(i)._2 == "view" && seq(i + 1)._2 == "click" => seq(i)._1 }
      val s3 = seq.indices.dropRight(2).collectFirst {
        case i if seq(i)._2 == "view" && seq(i + 1)._2 == "click" &&
          seq(i + 2)._2 == "purchase" => seq(i)._1 }
      s1 match {
        case None => assert(!gotStrict.contains(u), s"user $u has no view but a row")
        case Some(v) =>
          val (gv, gc, gp, steps) = gotStrict(u)
          assert(gv.contains(v) && gc == s2 && gp == s3,
            s"user $u strict anchors: got ($gv,$gc,$gp), brute ($v,$s2,$s3)")
          assert(steps == 1 + s2.size + s3.size, s"user $u strict depth")
      }
    }

    // unordered: first occurrence per type, any order
    val gotUn = Product.funnelUnordered(spark, dir).collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        r.getInt(4), Option(r.get(5)))).toMap
    byUser.foreach { case (u, seq) =>
      def first(t: String) = seq.collectFirst { case (id, `t`) => id }
      val (v, c, p) = (first("view"), first("click"), first("purchase"))
      if (v.isEmpty && c.isEmpty && p.isEmpty)
        assert(!gotUn.contains(u), s"user $u has no funnel event but a row")
      else {
        val (gv, gc, gp, steps, done) = gotUn(u)
        assert(gv == v && gc == c && gp == p, s"user $u unordered firsts")
        assert(steps == v.size + c.size + p.size, s"user $u steps_present")
        val expectDone = for (a <- v; b <- c; d <- p) yield Seq(a, b, d).max
        assert(done == expectDone, s"user $u completed_eid")
      }
    }
  }

  test("exclusion + conversion-window funnel == brute-force over random sequences") {
    import spark.implicits._
    val rnd = new scala.util.Random(7531)
    val types = Vector("view", "click", "purchase", "error", "signup")
    val base = 1704067200000000L
    // monotone timestamps with ~15-min mean steps: 600 events span ~6
    // days, so the 2-day conversion window censors real conversions
    var us = base
    val events = (1L to 600L).map { eid =>
      us += 100000000L + rnd.nextLong(1700000000L)
      (eid, new Timestamp(us / 1000), rnd.nextInt(25).toLong,
        types(rnd.nextInt(if (eid % 4 == 0) 5 else 3)), 1.0, "{}", us)
    }
    val dir = Files.createTempDirectory("funnelexfuzz").toString
    events.map(e => (e._1, e._2, e._3, e._4, e._5, e._6))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val byUser = events.groupBy(_._3).view
      .mapValues(_.sortBy(_._1).map(e => (e._1, e._4, e._7)).toVector).toMap

    // --- exclusion: error strictly between first view and last reached anchor
    val gotEx = Product.funnelExcl(spark, dir).collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(5))).toMap
    byUser.foreach { case (u, seq) =>
      val v = seq.collectFirst { case (id, "view", _) => id }
      v.foreach { ve =>
        val c = seq.collectFirst { case (id, "click", _) if id > ve => id }
        val p = c.flatMap(ce => seq.collectFirst {
          case (id, "purchase", _) if id > ce => id })
        val excl = c.exists { ce =>
          val last = p.getOrElse(ce)
          seq.exists { case (id, t, _) => t == "error" && id > ve && id < last }
        }
        val (gv, gc, gp, gex) = gotEx(u)
        assert(gv.contains(ve) && gc == c && gp == p, s"user $u excl anchors")
        assert(gex == excl, s"user $u excluded: got $gex, brute $excl")
      }
      if (v.isEmpty) assert(!gotEx.contains(u), s"user $u no view but excl row")
    }

    // --- conversion window: id-ordered anchors, ts-bounded by the first view
    val gotW = Product.funnelWindow(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4))).toMap
    byUser.foreach { case (u, seq) =>
      val v = seq.collectFirst { case (id, "view", t) => (id, t) }
      v match {
        case None => assert(!gotW.contains(u), s"user $u no view but window row")
        case Some((ve, vt)) =>
          val bound = vt + Product.ConvWindowUs
          val c = seq.collectFirst {
            case (id, "click", t) if id > ve && t <= bound => id }
          val p = c.flatMap(ce => seq.collectFirst {
            case (id, "purchase", t) if id > ce && t <= bound => id })
          val (gve, gc, gp, steps) = gotW(u)
          assert(gve == ve && gc == c && gp == p,
            s"user $u window anchors: got ($gve,$gc,$gp), brute ($ve,$c,$p)")
          assert(steps == 1 + c.size + p.size, s"user $u window depth")
      }
    }
  }

  test("CDC chunking == brute-force rolling-hash chunker on random collision-heavy text") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    // tiny alphabet → many shared K-grams → boundaries AND cross-doc
    // shared chunks both occur often; lengths straddle the K=8 guard
    val alpha = "abcde "
    val docs = (1L to 120L).map { id =>
      val n = rnd.nextInt(60) // 0..59 chars — includes len < K docs
      (id, (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }.filter(_._2.nonEmpty)
    val dir = Files.createTempDirectory("cdcfuzz").toString
    docs.map { case (id, t) => (id, t, "en", "fuzz", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def h60(sx: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    def chunksOf(t: String): Seq[String] = {
      val k = Dedup.CdcK
      val bnds =
        if (t.length >= k)
          (k to t.length).filter(i => h60(t.substring(i - k, i)) % Dedup.CdcDiv == 0)
        else Seq.empty
      val cuts = 0 +: bnds :+ t.length
      cuts.sliding(2).map { case Seq(a, b) => t.substring(a, b) }.filter(_.nonEmpty).toSeq
    }
    val post = docs.flatMap { case (id, t) => chunksOf(t).map(c => (id, h60(c), c.length.toLong)) }
    // invariant: chunks reassemble the doc exactly
    docs.foreach { case (id, t) => assert(chunksOf(t).mkString == t, s"doc $id reassembly") }
    val dfm = post.groupBy(_._2).map { case (h, ps) => h -> ps.map(_._1).distinct.size }
    val expected = post.groupBy(_._1).map { case (id, ps) =>
      (id, ps.size.toLong,
        ps.count(p => dfm(p._2) >= 2).toLong,
        ps.filter(p => dfm(p._2) >= 2).map(_._3).sum,
        ps.map(_._3).sum)
    }.toSet

    val got = Dedup.cdc(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
  }

  test("anomaly verdict == brute-force BigInt 3-sigma on a random daily series") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val base = 1704067200000000L // 2024-01-01 in epoch micros
    // 40 days, mostly-quiet counts with occasional spikes so both
    // verdict branches fire; a few days skipped (rows-window semantics)
    val dayCnt = (0 until 40).filter(_ => rnd.nextInt(10) > 0).map { dday =>
      val cnt = if (rnd.nextInt(8) == 0) 200 + rnd.nextInt(100) else 10 + rnd.nextInt(5)
      (dday, cnt)
    }
    var eid = 0L
    val events = dayCnt.flatMap { case (dday, cnt) =>
      (0 until cnt).map { j =>
        eid += 1
        (eid, new Timestamp((base + dday * 86400000000L + j * 1000000L) / 1000),
          (j % 7).toLong, "view", 1.0, "{}")
      }
    }
    val dir = Files.createTempDirectory("anomfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val series = dayCnt.sortBy(_._1).map(_._2.toLong)
    val expected = series.zipWithIndex.map { case (x, i) =>
      val w = series.slice(math.max(0, i - 7), i)
      val n = BigInt(w.size)
      val sm = w.map(BigInt(_)).sum
      val q = w.map(c => BigInt(c) * c).sum
      val lhs = (n * x - sm).pow(2)
      val rhs = 9 * (n * q - sm * sm)
      (x, w.size.toLong, sm.toLong, w.map(c => c * c).sum,
        w.size == 7 && lhs > rhs)
    }.toSet
    val got = Product.anomaly(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toSet
    assert(got == expected)
  }

  test("forecast == brute-force calendar d-7 + same-weekday trailing window on a gappy series") {
    import spark.implicits._
    val rnd = new scala.util.Random(2025)
    val base = 1704067200000000L // 2024-01-01 (Monday) in epoch micros
    // 60 days with ~25% gaps: the calendar join must miss absent d-7
    // days while the weekday window skips over them
    val dayCnt = (0 until 60).filter(_ => rnd.nextInt(4) > 0)
      .map(dd => (dd, 5 + rnd.nextInt(20)))
    var eid = 0L
    val events = dayCnt.flatMap { case (dd, cnt) =>
      (0 until cnt).map { j =>
        eid += 1
        (eid, new Timestamp((base + dd * 86400000000L + j * 1000000L) / 1000),
          (j % 5).toLong, "view", 1.0, "{}")
      }
    }
    val dir = Files.createTempDirectory("fcstfuzz").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val byDay = dayCnt.toMap
    val expected = dayCnt.map { case (dd, cnt) =>
      val sn = byDay.get(dd - 7).map(_.toLong)
      val sw = dayCnt.filter(o => o._1 < dd && (dd - o._1) % 7 == 0)
        .sortBy(_._1).takeRight(4).map(_._2.toLong)
      (cnt.toLong, sn, sn.map(f => math.abs(cnt - f)),
        sw.size.toLong, sw.sum, math.abs(cnt * sw.size - sw.sum))
    }.toSet
    val got = Product.forecast(spark, dir).collect()
      .map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == expected)
  }

  test("entry/exit == brute-force per-session first/last on random event streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(4321)
    val base = 1704067200000000L
    val types = Vector("view", "click", "purchase", "signup")
    val events = (1L to 500L).map { eid =>
      val user = rnd.nextInt(15).toLong
      val us = base + rnd.nextInt(4) * Product.SessionGapUs +
        rnd.nextLong(3 * Product.SessionGapUs)
      (eid, us, user, types(rnd.nextInt(types.size)))
    }
    val dir = Files.createTempDirectory("eefuzz").toString
    events.map { case (eid, us, u, ty) =>
      (eid, new Timestamp(us / 1000), u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // brute: same gap splitter as the session fuzz, then (first, last)
    // by (us, event_id) and the session-start day
    val expected = events.groupBy(_._3).toSeq.flatMap { case (_, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._1))
      val sessions = sorted.foldLeft(List.empty[List[(Long, Long, String)]] -> Long.MinValue) {
        case ((acc, prevUs), (eid, us, _, ty)) =>
          val acc2 =
            if (acc.isEmpty || us - prevUs > Product.SessionGapUs)
              List((eid, us, ty)) :: acc
            else ((eid, us, ty) :: acc.head) :: acc.tail
          (acc2, us)
      }._1.map(_.reverse)
      sessions.map { ss =>
        val day = java.time.Instant.ofEpochSecond(ss.head._2 / 1000000L)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
        (day, ss.head._3, ss.last._3)
      }
    }.groupBy(identity).map { case (k, g) => (k._1, k._2, k._3, g.size.toLong) }.toSet

    val got = Product.entryExit(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("IVM trio holds at every history/delta split, including the empty boundaries") {
    // the registered queries check ONE split (the midpoint); the
    // incremental-merge algebra must hold wherever the ingestion
    // boundary lands — 0.0 (no history: the delta branch IS the full
    // computation) and 1.0 (no delta: the state table IS the answer)
    // are the degenerate cases a wrong anti-join or coalesce order
    // breaks first
    val sf = "/root/testdata/sf0.001"
    for (frac <- Seq(0.0, 0.1, 0.37, 0.5, 0.93, 1.0)) {
      val f = Product.funnelIncrementalAt(spark, sf, frac)
      assert(f.count() > 0, s"funnel IVM empty at frac=$frac")
      assert(f.filter(!org.apache.spark.sql.functions.col("consistent")).count() == 0,
        s"funnel IVM inconsistent at frac=$frac")
      val t = Product.trendsIncrementalAt(spark, sf, frac)
      assert(t.filter(!org.apache.spark.sql.functions.col("consistent")).count() == 0,
        s"trends IVM inconsistent at frac=$frac")
      val r = Product.retentionIncrementalAt(spark, sf, frac)
      assert(r.filter(!org.apache.spark.sql.functions.col("consistent")).count() == 0,
        s"retention IVM inconsistent at frac=$frac")
    }
  }
}
