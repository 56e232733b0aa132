package graft

import graft.llm.Dedup
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Exact-substring span dedup (q_dedup_spans): coverage math pinned on
  * a hand-built corpus where every duplicated span is known.
  */
class DedupSpansSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  test("duplicated-span detection and token coverage") {
    import spark.implicits._
    val docs = Seq(
      // cross-doc dup: doc 1 pos 1 == doc 2 pos 2 ("a b c d e f g h")
      (1L, "a b c d e f g h i j"),
      (2L, "x a b c d e f g h"),
      // too short for any span
      (3L, "p q r"),
      // within-doc dup: pos 1 == pos 9
      (4L, "m n o p q r s t m n o p q r s t"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
    val dir = Files.createTempDirectory("spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = Dedup.spans(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap

    // doc 1: 10 tokens, 3 spans, dup at pos 1 only → 8 covered tokens
    assert(out(1L) == ((10L, 3L, 1L, 8L, 0.8)))
    // doc 2: 9 tokens, 2 spans, dup at pos 2 (its last span) → 8 covered
    assert(out(2L) == ((9L, 2L, 1L, 8L, 8.0 / 9.0)))
    // doc 3: no spans at all
    assert(out(3L) == ((3L, 0L, 0L, 0L, 0.0)))
    // doc 4: dup at pos 1 and 9; intervals [1,8] and [9,16] tile the doc
    assert(out(4L) == ((16L, 9L, 2L, 16L, 1.0)))
  }

  test("randomized corpus: distributed result == brute-force reference") {
    import spark.implicits._
    val W = graft.llm.Dedup.SpanW
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d", "e", "f") // tiny vocab → frequent collisions
    val docs: Seq[(Long, Array[String])] = (1L to 40L).map { id =>
      id -> Array.fill(rnd.nextInt(31))(vocab(rnd.nextInt(vocab.length)))
    }

    // brute force: materialize every span string, count globally,
    // union the duplicated intervals per doc
    val counts = docs.flatMap { case (_, toks) =>
      (0 to toks.length - W).map(p => toks.slice(p, p + W).mkString(" "))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val expected = docs.map { case (id, toks) =>
      val nSpans = math.max(toks.length - W + 1, 0)
      val dupPos = (0 until nSpans)
        .filter(p => counts(toks.slice(p, p + W).mkString(" ")) >= 2).map(_ + 1)
      val covered = dupPos.foldLeft((0L, 0L)) { case ((cov, prevEnd), p) =>
        val s = math.max(p.toLong, prevEnd + 1)
        val e = p.toLong + W - 1
        (cov + math.max(0L, e - s + 1), math.max(prevEnd, e))
      }._1
      id -> ((toks.length.toLong, nSpans.toLong, dupPos.size.toLong, covered))
    }.toMap

    val dir = Files.createTempDirectory("spansr").toString
    docs.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.spans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == expected)
  }

  test("overlapping duplicated spans never double-count covered tokens") {
    import spark.implicits._
    // two identical 12-token docs: every span (pos 1..5) is duplicated;
    // naive per-span × W would claim 40 tokens, the interval union is 12
    val text = "a b c d e f g h i j k l"
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
    val dir = Files.createTempDirectory("spans2").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    Dedup.spans(spark, dir).collect().foreach { r =>
      assert(r.getLong(3) == 5L, "n_dup_spans")
      assert(r.getLong(4) == 12L, "dup_tokens: union, not sum")
      assert(r.getDouble(5) == 1.0)
    }
  }

  test("fat-bucket cap drops only buckets past FatBucketCap") {
    import spark.implicits._
    // one bucket exactly at the cap (kept whole), one a single member
    // past it (dropped whole), one small (kept)
    val atCap = (1 to Dedup.FatBucketCap).map(i => (i.toLong, 0, 7L))
    val past = (1 to Dedup.FatBucketCap + 1).map(i => (1000L + i, 1, 9L))
    val small = Seq((1L, 2, 11L), (2L, 2, 11L))
    val bands = (atCap ++ past ++ small).toDF("doc_id", "band", "band_hash")
    val kept = Dedup.capBuckets(bands)
      .groupBy("band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(kept == Map(0 -> Dedup.FatBucketCap.toLong, 2 -> 2L),
      s"cap must drop the oversized bucket whole and keep the rest: $kept")
  }
}
