package graft

import graft.llm.{Dedup, Select}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior checks for the data-selection operators ([[graft.llm.Select]]):
  * the oracle harness proves bit-equality with DuckDB; these assert the
  * SEMANTIC properties each operator exists for.
  */
class SelectSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  private val sf = "/root/testdata/sf0.001"

  test("lm score: probabilities are probabilities; rare tokens depress the score") {
    val rows = Select.lmScore(spark, sf)
      .select(col("doc_id"), col("mean_tok_prob"), col("rare_ratio"), col("n_rare"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, rr) = (r.getDouble(1), r.getDouble(2))
      assert(p > 0.0 && p < 1.0, s"doc ${r.getLong(0)}: mean_tok_prob $p out of (0,1)")
      assert(rr >= 0.0 && rr <= 1.0)
    }
    // any doc holding rare tokens must score a lower mean prob than the
    // rare-free average (the rare token's probability drags the mean)
    val withRare = rows.filter(_.getLong(3) > 0)
    if (withRare.nonEmpty) {
      val cleanAvg = rows.filter(_.getLong(3) == 0).map(_.getDouble(1)).sum /
        rows.count(_.getLong(3) == 0)
      assert(withRare.map(_.getDouble(1)).max < cleanAvg,
        "a rare-token doc scored above the clean-doc average")
    }
  }

  test("classifier: prediction is the score sign; scores are bounded mean differences") {
    val rows = Select.classifier(spark, sf)
      .select(col("score_num"), col("score"), col("pred_target")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(0) > 0L), "pred_target != sign(score_num)")
      // |mean(p_t - p_r)| <= 1
      assert(math.abs(r.getDouble(1)) <= 1.0)
    }
  }

  test("split is leakage-safe: no near-dup pair straddles train/val") {
    val splits = Select.split(spark, sf)
      .select(col("doc_id"), col("split"))
    val pairs = Dedup.minhashPairs(spark, sf).select(col("doc_a"), col("doc_b"))
    val straddle = pairs
      .join(splits.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
      .join(splits.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddle == 0L, s"$straddle near-dup pairs straddle the split")
    // and both sides are non-trivially populated at the 90/10 hash split
    val bySplit = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.getOrElse("train", 0L) > 0L)
  }

  test("domain cap: ranks are dense per source and the cap binds exactly") {
    val df = Select.domainCap(spark, sf)
    val perSource = df.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("rk")).as("max_rk"),
        countDistinct(col("rk")).as("n_rk"),
        sum(when(col("kept_cap"), 1L).otherwise(0L)).as("n_kept"),
        first(col("n_docs_source")).as("n_docs_source"))
      .collect()
    assert(perSource.nonEmpty)
    perSource.foreach { r =>
      val (n, maxRk, nRk, nKept, nSrc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n == nSrc && maxRk == n && nRk == n, s"${r.getString(0)}: ranks not dense 1..$n")
      assert(nKept == math.min(Select.DomainCap.toLong, n),
        s"${r.getString(0)}: cap kept $nKept of $n")
    }
  }

  test("search: top-k docs all contain a query term, ranks dense, scores non-increasing") {
    import graft.llm.Portable
    val res = Select.search(spark, sf).collect()
      .groupBy(_.getString(0))
    assert(res.keySet == Select.SearchQueries.map(_._1).toSet)
    val docToks = Tables.documents(spark, sf)
      .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    for ((qid, rows) <- res; terms = Select.SearchQueries.toMap.apply(qid)) {
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length), s"$qid ranks not dense")
      assert(sorted.length <= Select.SearchTopK)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(3) >= b.getDouble(3), s"$qid scores increase")
        case _ =>
      }
      sorted.foreach { r =>
        assert(terms.exists(docToks(r.getLong(2)).contains),
          s"$qid returned doc ${r.getLong(2)} containing no query term")
      }
    }
  }

  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("dsir: weights and selection match an independent driver-side implementation") {
    val k = 10
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // independent recompute: token counts from raw strings, no Spark
    val perDoc = docs.map { case (id, lang, text) =>
      (id, lang == "en", text.split("\\s+").filter(_.nonEmpty).toSeq)
    }
    val tcnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val acnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    perDoc.foreach { case (_, isT, toks) =>
      toks.foreach { t => if (isT) tcnt(t) += 1; acnt(t) += 1 }
    }
    val tTotal = tcnt.values.sum
    val aTotal = acnt.values.sum
    val expected = perDoc.map { case (id, _, toks) =>
      val num = toks.map(t => tcnt(t) * aTotal).sum
      val den = toks.map(t => acnt(t) * tTotal).sum
      val w = num.toDouble / den.toDouble
      val pri = w / (h60(s"${Select.DsirSeed}:$id") + 1L).toDouble
      (id, num, den, pri)
    }
    val expSelected = expected.sortBy { case (id, _, _, p) => (-p, id) }
      .take(k).map(_._1).toSet

    val got = Select.dsir(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getDouble(5), r.getBoolean(6)))
    assert(got.length == expected.length)
    val expById = expected.map(e => e._1 -> e).toMap
    got.foreach { case (id, num, den, pri, sel) =>
      val (_, eNum, eDen, ePri) = expById(id)
      assert(num == eNum && den == eDen, s"doc $id weight mismatch")
      assert(pri == ePri, s"doc $id priority mismatch")
      assert(sel == expSelected.contains(id), s"doc $id selection mismatch")
    }
    assert(got.count(_._5) == k, "selected count != k")
  }

  test("dsir: an empty target cohort selects nothing (no 0/0 weights)") {
    // no 'en' docs at all → t_total = 0 → every weight_den = 0; the
    // guard must yield weight 0 / selected false, not ANSI 0/0 (ADVICE)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir_empty").toString
    Seq((1L, "de", "ein kleiner text"), (2L, "fr", "un petit texte"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Select.dsir(spark, dir, 1).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, s"doc ${r.getLong(0)}: weight_den should be 0")
      assert(r.getDouble(4) == 0.0, s"doc ${r.getLong(0)}: weight should be 0")
      assert(!r.getBoolean(6), s"doc ${r.getLong(0)}: nothing should be selected")
    }
  }

  test("epochs: replication matches a driver-side recompute; copies scatter shards") {
    import graft.llm.Corpus
    val rows = Corpus.epochs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // independent recompute of n_copies per doc from the seeded hash
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expCopies = docs.map { case (id, src) =>
      val pct = src.drop(3).toInt % 4 match {
        case 0 => 250; case 1 => 150; case 2 => 100; case _ => 50
      }
      val h = h60(s"${Corpus.EpochSeed}:$id") % 100L
      (id, pct / 100 + (if (h < pct % 100) 1 else 0))
    }.toMap
    val gotByDoc = rows.groupBy(_._1)
    expCopies.foreach { case (id, n) =>
      if (n == 0) assert(!gotByDoc.contains(id), s"doc $id should be dropped")
      else {
        val copies = gotByDoc(id)
        assert(copies.length == n, s"doc $id expected $n copies, got ${copies.length}")
        assert(copies.map(_._5).sorted.toSeq == (1L to n), s"doc $id copy_idx not dense")
        assert(copies.forall(_._4 == n))
      }
    }
    rows.foreach { case (_, _, pct, _, _, shard) =>
      assert(Set(250, 150, 100, 50)(pct))
      assert(shard >= 0L && shard < 32L)
    }
    // replicas of one doc must not all land in one shard globally:
    // with 32 shards and >= 2 copies, expect many distinct pairs
    val multi = gotByDoc.filter(_._2.length >= 2)
    if (multi.size >= 10) {
      val scattered = multi.count { case (_, cs) => cs.map(_._6).distinct.length >= 2 }
      assert(scattered * 10 >= multi.size * 5,
        s"copies failed to scatter: $scattered of ${multi.size} docs use >1 shard")
    }
  }

  test("stratified shards: every (stratum, shard) count within 1; positions dense") {
    import graft.llm.Corpus
    val rows = Corpus.stratShards(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(r => (r._2, r._3)).foreach { case (stratum, rs) =>
      val byShard = rs.groupBy(_._4).view.mapValues(_.length).toMap
      // round-robin deal: counts across the 32 shards differ by <= 1
      val counts = (0L until Corpus.NumStratShards).map(byShard.getOrElse(_, 0))
      assert(counts.max - counts.min <= 1, s"$stratum unbalanced: $byShard")
      rs.groupBy(_._4).foreach { case (shard, srs) =>
        assert(srs.map(_._5).sorted.toSeq == (0L until srs.length),
          s"$stratum shard $shard positions not dense")
      }
    }
    assert(rows.map(_._4).forall(s => s >= 0 && s < Corpus.NumStratShards))
  }

  test("ccnet: per-language terciles are balanced, ordered by score, tail dropped") {
    val rows = Select.ccnet(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3),
        r.getLong(4), r.getString(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._4).view.mapValues(_.size).toMap
      // ntile: bucket sizes within a language differ by at most 1
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L)))
      if (rs.length >= 3) {
        assert(sizes.values.max - sizes.values.min <= 1,
          s"$lang terciles unbalanced: $sizes")
        // every head score >= every middle score >= every tail score
        val hMin = rs.filter(_._4 == 1L).map(_._3).min
        val mMax = rs.filter(_._4 == 2L).map(_._3).max
        val mMin = rs.filter(_._4 == 2L).map(_._3).min
        val tMax = rs.filter(_._4 == 3L).map(_._3).max
        assert(hMin >= mMax && mMin >= tMax, s"$lang buckets out of score order")
      }
      rs.foreach { case (_, _, _, b, label, kept) =>
        assert(label == (if (b == 1L) "head" else if (b == 2L) "middle" else "tail"))
        assert(kept == (b <= 2L))
      }
    }
  }
}
