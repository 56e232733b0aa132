package graft

import graft.flags.FlagQueries
import graft.llm.{Corpus, Select, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior checks for the round-10 estimator/selection operators
  * (priority sampling, CUPED readout, TF-IDF keywords, cluster-balanced
  * prototypes): the oracle harness proves bit-equality with DuckDB;
  * these assert the SEMANTIC properties each operator exists for, plus
  * the plan shapes the 100 TB story depends on.
  */
class SamplingSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  private val sf = "/root/testdata/sf0.001"

  test("poisson bootstrap: weights, replicate means, order-stat CIs == driver recompute") {
    import graft.flags.{FlagBucketFixture, FlagQueries}
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filter(_._1 < FlagBucketFixture.n)
    val buckets: Map[Long, Int] = FlagBucketFixture.valuesSql
      .stripPrefix("(").stripSuffix(")").split("\\),\\(")
      .map { p => val Array(i, b) = p.split(","); i.toLong -> b.toInt }.toMap
    def h60(sv: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val cdf = FlagQueries.poissonCdf.map(_.toDouble)
    def weight(u: Double): Long = {
      val i = cdf.indexWhere(u < _)
      if (i < 0) cdf.size.toLong else i.toLong
    }
    val y: Map[Long, JBD] = rows.groupBy(_._1).map { case (uid, es) =>
      uid -> es.filter(_._2 == "purchase")
        .map(e => JBD.valueOf(e._3).setScale(2, RoundingMode.HALF_UP))
        .foldLeft(new JBD("0.00"))(_.add(_))
    }
    def variant(uid: Long) = if (buckets(uid) < 50) "control" else "test"
    val B = FlagQueries.BootB
    // replicate means per (variant, r)
    val repMean: Map[(String, Long), Double] =
      (for { v <- Seq("control", "test"); r <- 0L until B.toLong } yield {
        val members = y.keys.filter(variant(_) == v)
        var sw = 0L; var swy = new JBD("0.00")
        members.foreach { uid =>
          val u = (h60(s"${FlagQueries.BootSeed}:$uid:$r") + 1).toDouble / 1.152921504606846976e18
          val w = weight(u)
          sw += w; swy = swy.add(y(uid).multiply(JBD.valueOf(w)))
        }
        (v, r) -> (if (sw == 0L) 0.0 else swy.doubleValue() / sw.toDouble)
      }).toMap
    def orderStats(vals: Seq[(Double, Long)]): (Double, Double) = {
      val sorted = vals.sortBy(identity)
      (sorted(FlagQueries.BootLoRank - 1)._1, sorted(FlagQueries.BootHiRank - 1)._1)
    }
    val ci = Seq("control", "test").map { v =>
      v -> orderStats((0L until B.toLong).map(r => (repMean((v, r)), r)))
    }.toMap
    val (liftLo, liftHi) = orderStats(
      (0L until B.toLong).map(r => (repMean(("test", r)) - repMean(("control", r)), r)))
    val meanY = Seq("control", "test").map { v =>
      val members = y.keys.filter(variant(_) == v).toSeq
      v -> (members.map(y).foldLeft(new JBD("0.00"))(_.add(_)).doubleValue() /
        members.size.toDouble)
    }.toMap
    val expected = Seq("control", "test").map { v =>
      (v, y.keys.count(variant(_) == v).toLong, meanY(v), ci(v)._1, ci(v)._2,
        meanY(v) - meanY("control"), liftLo, liftHi)
    }.toSet
    val got = FlagQueries.flagBootstrap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSet
    assert(got == expected)
    Tables.releaseCaches(spark)
  }

  test("winsorized readout: pooled order-stat cap, exact moments, t/mde == driver recompute") {
    import graft.flags.{FlagBucketFixture, FlagQueries}
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filter(_._1 < FlagBucketFixture.n)
    val buckets: Map[Long, Int] = FlagBucketFixture.valuesSql
      .stripPrefix("(").stripSuffix(")").split("\\),\\(")
      .map { p => val Array(i, b) = p.split(","); i.toLong -> b.toInt }.toMap
    val y: Map[Long, JBD] = rows.groupBy(_._1).map { case (uid, es) =>
      uid -> es.filter(_._2 == "purchase")
        .map(e => JBD.valueOf(e._3).setScale(2, RoundingMode.HALF_UP))
        .foldLeft(new JBD("0.00"))(_.add(_))
    }
    def variant(uid: Long) = if (buckets(uid) < 50) "control" else "test"
    val n = y.size
    val rank = (19L * n + 19L) / 20L // integer ceil(0.95*n), engine convention
    val thresh = y.toSeq.map { case (uid, v) => (v, uid) }
      .sortBy { case (v, uid) => (v, uid) }.apply(rank.toInt - 1)._1
    def capped(uid: Long): JBD = { val v = y(uid); if (v.compareTo(thresh) > 0) thresh else v }
    case class Arm(n: Long, mean: Double, varW: Double)
    val arms = Seq("control", "test").map { v =>
      val m = y.keys.filter(variant(_) == v).toSeq
      val sw = m.map(capped).foldLeft(new JBD("0.00"))(_.add(_))
      val sww = m.map(u => capped(u).multiply(capped(u))).foldLeft(new JBD("0.0000"))(_.add(_))
      val nD = m.size.toDouble
      v -> Arm(m.size.toLong, sw.doubleValue() / nD,
        (sww.doubleValue() * nD - sw.doubleValue() * sw.doubleValue()) / (nD * (nD - 1.0)))
    }.toMap
    val c = arms("control")
    val expected = Seq("control", "test").map { v =>
      val a = arms(v)
      val se = math.sqrt(a.varW / a.n.toDouble + c.varW / c.n.toDouble)
      (v, a.n, thresh.doubleValue(), a.mean, a.mean - c.mean, se, (a.mean - c.mean) / se,
        (FlagQueries.Z975.toDouble + FlagQueries.Z80.toDouble) * se)
    }.toSet
    val got = FlagQueries.flagWinsor(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSet
    assert(got == expected)
    Tables.releaseCaches(spark)
  }

  test("classifier eval: tie-corrected AUC and confusion ratios == driver recompute") {
    val sc = Select.classifier(spark, sf)
      .select(col("is_target"), col("score"), col("pred_target")).collect()
      .map(r => (r.getBoolean(0), r.getDouble(1), r.getBoolean(2)))
    Tables.releaseCaches(spark)
    val nPos = sc.count(_._1).toLong; val nNeg = sc.length.toLong - nPos
    val tp = sc.count(t => t._1 && t._3).toLong
    val fp = sc.count(t => !t._1 && t._3).toLong
    val fn = sc.count(t => t._1 && !t._3).toLong
    // average ranks per distinct score, ascending
    val byScore = sc.groupBy(_._2).toSeq.sortBy(_._1)
    var before = 0L; var posRankSum = 0.0
    byScore.foreach { case (_, g) =>
      val cnt = g.length.toLong
      posRankSum += g.count(_._1).toDouble * (before.toDouble + (cnt.toDouble + 1.0) / 2.0)
      before += cnt
    }
    val auc = (posRankSum - (nPos * (nPos + 1)).toDouble / 2.0) / (nPos.toDouble * nNeg.toDouble)
    val p = tp.toDouble / (tp + fp).toDouble
    val r = tp.toDouble / (tp + fn).toDouble
    val expected = (nPos, nNeg, tp, fp, fn, auc,
      if (tp + fp == 0) 0.0 else p, if (tp + fn == 0) 0.0 else r,
      if (tp + fp == 0 || tp + fn == 0 || tp == 0) 0.0 else 2.0 * p * r / (p + r))
    val got = Select.classifierEval(spark, sf).collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getDouble(5), x.getDouble(6), x.getDouble(7), x.getDouble(8))).head
    assert(got == expected)
    // AUC must separate better than chance on this corpus (the target
    // tokens genuinely differ in distribution)
    assert(auc > 0.5)
    Tables.releaseCaches(spark)
  }

  test("funnel time-to-convert: exact order-stat latencies == driver recompute") {
    import graft.queries.Product
    val f = Product.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.get(3)).map(_.asInstanceOf[Long])))
    val us: Map[(Long, Long), Long] = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts)").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def stats(durs: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
      val sorted = durs.sortBy(identity).map(_._1)
      val n = sorted.size.toLong
      (n, sorted(((n + 1) / 2).toInt - 1), sorted(((9 * n + 9) / 10).toInt - 1),
        sorted.sum.toDouble / n.toDouble)
    }
    val vc = f.collect { case (u, Some(v), Some(c), _) => (us((u, c)) - us((u, v)), u) }
    val cp = f.collect { case (u, _, Some(c), Some(p)) => (us((u, p)) - us((u, c)), u) }
    val expected = Set("view_click" -> stats(vc.toSeq), "click_purchase" -> stats(cp.toSeq))
      .map { case (s, (n, m, p90, mean)) => (s, n, m, p90, mean) }
    val got = Product.funnelTime(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == expected)
    Tables.releaseCaches(spark)
  }

  test("shard audit: balance counts and explicit-fold chi-square == driver recompute") {
    import graft.llm.TextOps
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def h60(sv: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val byShard = docs.groupBy { case (id, _) =>
      h60(s"${TextOps.ShuffleSeed}:$id") % TextOps.NumShards
    }
    val nTotal = docs.length.toLong
    val e = nTotal.toDouble / TextOps.NumShards.toDouble
    val chi2 = (0 until TextOps.NumShards).map { k =>
      val d = byShard.get(k.toLong).map(_.length.toLong).getOrElse(0L)
      (d.toDouble - e) * (d.toDouble - e) / e
    }.reduce(_ + _)
    val expected = byShard.map { case (k, g) =>
      (k, g.length.toLong, g.map(_._2).sum, chi2,
        chi2 > TextOps.ShardChi2Crit95.toDouble)
    }.toSet
    val got = TextOps.shardAudit(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toSet
    assert(got == expected)
    // the seeded hash must actually balance on this corpus
    assert(!got.head._5, s"uniform hash sharding flagged as skewed: chi2=$chi2")
  }

  test("winsor + QTE under heavy spend ties: order-stat tie-break holds") {
    import graft.flags.{FlagBucketFixture, FlagQueries}
    import java.math.{BigDecimal => JBD}
    // discrete spends force ties AT the threshold/percentile ranks —
    // the (spend, user_id) tie order must pin the selected value
    val rnd = new scala.util.Random(777)
    val grid = Array(0.0, 10.0, 10.0, 20.0, 50.0)
    val rows = (0L until 60L).flatMap { uid =>
      (0 until 1 + rnd.nextInt(3)).map { i =>
        (uid, if (rnd.nextBoolean()) "purchase" else "view",
          grid(rnd.nextInt(grid.length)),
          java.sql.Timestamp.valueOf(s"2024-01-0${1 + rnd.nextInt(9)} 00:00:00"))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("tiefuzz").toString
    import spark.implicits._
    rows.toDF("user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val buckets: Map[Long, Int] = FlagBucketFixture.valuesSql
      .stripPrefix("(").stripSuffix(")").split("\\),\\(")
      .map { p => val Array(i, b) = p.split(","); i.toLong -> b.toInt }.toMap
    val y: Map[Long, JBD] = rows.groupBy(_._1).map { case (uid, es) =>
      uid -> es.filter(_._2 == "purchase")
        .map(e => JBD.valueOf(e._3).setScale(2, java.math.RoundingMode.HALF_UP))
        .foldLeft(new JBD("0.00"))(_.add(_))
    }
    // winsor threshold: pooled rank ceil(0.95 n) in (y, uid) order
    val pooled = y.toSeq.sortBy { case (uid, v) => (v, uid) }
    val thresh = pooled(((19L * pooled.size + 19L) / 20L).toInt - 1)._2
    val gotThresh = FlagQueries.flagWinsor(spark, dir)
      .select(col("thresh")).head().getDouble(0)
    assert(gotThresh == thresh.doubleValue(), s"threshold tie-break diverged")
    Tables.releaseCaches(spark)
    // QTE: every grid row must equal the driver order statistic
    def armSorted(ctl: Boolean) = y.toSeq
      .filter { case (uid, _) => (buckets(uid) < 50) == ctl }
      .sortBy { case (uid, v) => (v, uid) }.map(_._2)
    val (c, t) = (armSorted(true), armSorted(false))
    def q(sorted: Seq[JBD], p: Long): JBD = sorted(((p * sorted.size + 99) / 100).toInt - 1)
    val expected = FlagQueries.QtePcts.map { p =>
      (p.toLong, q(c, p).doubleValue(), q(t, p).doubleValue(),
        q(t, p).subtract(q(c, p)).doubleValue())
    }.toSet
    val got = FlagQueries.flagQte(spark, dir).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == expected)
    Tables.releaseCaches(spark)
  }

  test("QTE grid: exact per-arm order statistics and differences == driver recompute") {
    import graft.flags.{FlagBucketFixture, FlagQueries}
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filter(_._1 < FlagBucketFixture.n)
    val buckets: Map[Long, Int] = FlagBucketFixture.valuesSql
      .stripPrefix("(").stripSuffix(")").split("\\),\\(")
      .map { p => val Array(i, b) = p.split(","); i.toLong -> b.toInt }.toMap
    val y: Map[Long, JBD] = rows.groupBy(_._1).map { case (uid, es) =>
      uid -> es.filter(_._2 == "purchase")
        .map(e => JBD.valueOf(e._3).setScale(2, RoundingMode.HALF_UP))
        .foldLeft(new JBD("0.00"))(_.add(_))
    }
    def armSorted(v: String) = y.toSeq
      .filter { case (uid, _) => (buckets(uid) < 50) == (v == "control") }
      .sortBy { case (uid, s) => (s, uid) }.map(_._2)
    val (c, t) = (armSorted("control"), armSorted("test"))
    def q(sorted: Seq[JBD], p: Long): JBD = sorted(((p * sorted.size + 99) / 100).toInt - 1)
    val expected = FlagQueries.QtePcts.map { p =>
      val (cq, tq) = (q(c, p), q(t, p))
      (p.toLong, cq.doubleValue(), tq.doubleValue(), tq.subtract(cq).doubleValue())
    }.toSet
    val got = FlagQueries.flagQte(spark, sf).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == expected)
    Tables.releaseCaches(spark)
  }

  test("selection curve: decile cuts, running sums, target recall == driver recompute") {
    val sc = Select.classifier(spark, sf)
      .select(col("doc_id"), col("score"), col("n_tokens"), col("is_target")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))
    Tables.releaseCaches(spark)
    val ordered = sc.sortBy { case (id, s0, _, _) => (-s0, id) }
    val n = ordered.length.toLong
    val nTarget = ordered.count(_._4).toLong
    val expected = (1 to 10).map(_ * 10L).map { pct =>
      val rk = ((pct * n + 99) / 100).toInt
      val kept = ordered.take(rk)
      (pct, rk.toLong, kept.map(_._3).sum, ordered(rk - 1)._2,
        kept.count(_._4).toDouble / nTarget.toDouble)
    }.toSet
    val got = Select.selectionCurve(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(got == expected)
    // curve must be monotone: each decile keeps at least as much as the last
    val byPct = got.toSeq.sortBy(_._1)
    assert(byPct.sliding(2).forall { case Seq(a, b) => b._2 >= a._2 && b._3 >= a._3 && b._5 >= a._5 })
    Tables.releaseCaches(spark)
  }

  test("SRM check: realized counts, chi-square, verdict == driver recompute") {
    import graft.flags.{FlagBucketFixture, FlagQueries}
    val users = Tables.events(spark, sf)
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
      .filter(_ < FlagBucketFixture.n)
    val buckets: Map[Long, Int] = FlagBucketFixture.valuesSql
      .stripPrefix("(").stripSuffix(")").split("\\),\\(")
      .map { p => val Array(i, b) = p.split(","); i.toLong -> b.toInt }.toMap
    val nc = users.count(buckets(_) < 50).toLong
    val nt = users.length.toLong - nc
    val exp = (nc + nt).toDouble * 0.5
    val chi2 = (nc.toDouble - exp) * (nc.toDouble - exp) / exp +
      (nt.toDouble - exp) * (nt.toDouble - exp) / exp
    val expected = (nc, nt, nc + nt, chi2, chi2 > FlagQueries.Chi2Crit95.toDouble)
    val got = FlagQueries.flagSrm(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).head
    assert(got == expected)
  }

  test("priority sample: exactly k rows, HT estimates = max(w, tau), top-k plan") {
    val df = Corpus.weightedSample(spark, sf)
    val rows = df.select(col("doc_id"), col("w"), col("priority"), col("tau"),
      col("est_w")).collect()
    assert(rows.length == Corpus.SampleK)
    // every kept priority is >= tau (the (k+1)-th) — the defining
    // property of a priority sample
    val tau = rows.head.getDouble(3)
    assert(rows.forall(_.getDouble(3) == tau), "tau must be a single threshold")
    assert(rows.forall(_.getDouble(2) >= tau))
    rows.foreach { r =>
      assert(r.getDouble(4) == math.max(r.getLong(1).toDouble, tau),
        s"est_w must be max(w, tau) for doc ${r.getLong(0)}")
    }
    // corpus smaller than k ⇒ tau = 0 and the sample is exact
    val n = Tables.documents(spark, sf).count()
    if (n > Corpus.SampleK) assert(tau > 0.0)
    // the scan side must be a bounded top-k, not a global sort
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("priority sample: HT sum is within 3x of the true total (sanity, not a bound)") {
    // an unbiased estimator on a 40-of-N sample is noisy; this guards
    // against catastrophic breakage (wrong weights, wrong tau), not ulp
    val est = Corpus.weightedSample(spark, sf)
      .agg(sum(col("est_w"))).collect()(0).getDouble(0)
    val truth = Tables.documents(spark, sf)
      .select(greatest(size(split(col("text"), "\\s+")), lit(1)).cast("long").as("w"))
      .agg(sum(col("w"))).collect()(0).getLong(0).toDouble
    assert(est > truth / 3.0 && est < truth * 3.0, s"HT estimate $est vs truth $truth")
  }

  test("stratified sample: k rows per stratum, per-stratum tau, bounded rank pushdown") {
    val df = Corpus.stratSample(spark, sf)
    val rows = df.select(col("lang"), col("rk"), col("doc_id"), col("w"),
      col("priority"), col("tau"), col("est_w")).collect()
    val langCounts = Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = rows.groupBy(_.getString(0))
    assert(byLang.keySet == langCounts.keySet, "every stratum is sampled")
    byLang.foreach { case (lang, rs) =>
      assert(rs.length == math.min(Corpus.StratSampleK, langCounts(lang).toInt))
      val taus = rs.map(_.getDouble(5)).distinct
      assert(taus.length == 1, s"one tau per stratum, got ${taus.length} for $lang")
      // tau arms only when the stratum overflows k
      if (langCounts(lang) <= Corpus.StratSampleK) assert(taus.head == 0.0)
      else assert(taus.head > 0.0)
      rs.foreach { r =>
        assert(r.getDouble(4) >= taus.head || taus.head == 0.0)
        assert(r.getDouble(6) == math.max(r.getLong(3).toDouble, taus.head))
      }
      // per-stratum priorities agree with the shared scalar definition
      rs.foreach(r => assert(
        r.getDouble(4) == Corpus.scalaPriority(r.getLong(2), r.getLong(3))))
    }
    // the per-stratum rank must plan as a bounded WindowGroupLimit, not
    // a full per-stratum sort of the corpus
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("priority sampler fuzz: random populations and batch splits == brute force") {
    import graft.streaming.Streaming
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = Corpus.SampleK
    val rnd = new scala.util.Random(42)
    // population sizes straddle every regime: below k (tau = 0), at the
    // k/k+1 boundary, and well above
    val sizes = Seq(1, k - 1, k, k + 1, k + 2, 3 * k, 5 * k) ++
      Seq.fill(3)(1 + rnd.nextInt(6 * k))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val docs = rnd.shuffle((0 until n).map(j =>
        (i * 100000L + j, 1L + rnd.nextInt(1000)))).toIndexedSeq
      // independent brute force on the SAME priority definition
      val scored = docs.map { case (d, w) => (Corpus.scalaPriority(d, w), d, w) }
        .sortBy(t => (-t._1, t._2))
      val tau = if (scored.length >= k + 1) scored(k)._1 else 0.0
      val expect = scored.take(k)
        .map { case (p, d, w) => (d, w, p, tau, math.max(w.toDouble, tau)) }.toSet
      val mem = MemoryStream[(Long, Long)]
      val q = Streaming.prioritySampleStream(mem.toDS())
        .writeStream.format("memory").queryName(s"sample_fuzz_$i")
        .outputMode(OutputMode.Update()).start()
      val picks = try {
        var rest = docs
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(rest.length)
          mem.addData(rest.take(take): _*)
          // even cases force a micro-batch boundary per chunk (true
          // cross-batch folding); odd cases let chunks coalesce
          if (i % 2 == 0) q.processAllAvailable()
          rest = rest.drop(take)
        }
        q.processAllAvailable()
        spark.table(s"sample_fuzz_$i").as[Streaming.SamplePick].collect()
      } finally { q.stop(); spark.sql(s"DROP TABLE IF EXISTS sample_fuzz_$i") }
      val lastVer = picks.map(_.ver).max
      val got = picks.filter(_.ver == lastVer)
        .map(p => (p.doc_id, p.w, p.priority, p.tau, p.est_w)).toSet
      assert(got == expect, s"case $i (n=$n) diverged from brute force")
    }
  }

  test("CUPED: theta/rho2 shared across arms, rho2 in [0,1], adjustment preserves cohort mean") {
    val rows = FlagQueries.flagCuped(spark, sf)
      .select(col("variant"), col("n_users"), col("mean_y"), col("mean_y_adj"),
        col("theta"), col("rho2")).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("control", "test"))
    val thetas = rows.map(_.getDouble(4)).distinct
    val rho2s = rows.map(_.getDouble(5)).distinct
    assert(thetas.length == 1, "theta is fit on the pooled cohort — one value")
    assert(rho2s.length == 1)
    assert(rho2s.head >= 0.0 && rho2s.head <= 1.0, s"rho2=${rho2s.head}")
    // CUPED is mean-preserving over the whole cohort: the n-weighted
    // mean of y_adj equals the n-weighted mean of y (the theta term is
    // centered on the global x mean)
    val nTot = rows.map(_.getLong(1)).sum.toDouble
    val my = rows.map(r => r.getLong(1) * r.getDouble(2)).sum / nTot
    val myAdj = rows.map(r => r.getLong(1) * r.getDouble(3)).sum / nTot
    assert(math.abs(my - myAdj) < 1e-9, s"cohort mean moved: $my vs $myAdj")
  }

  test("keywords: per-doc rank is dense 1..k, score = tf * (N+1)/(df+1), ordered") {
    val docs = Tables.documents(spark, sf).count()
    val perDoc = Select.keywords(spark, sf)
      .select(col("doc_id"), col("rk"), col("tf"), col("df"), col("score"))
      .collect()
      .groupBy(_.getLong(0))
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (docId, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"ranks not dense for doc $docId")
      assert(sorted.length <= Select.KeywordsTopK)
      sorted.foreach { r =>
        val expect = r.getLong(2).toDouble * ((docs + 1).toDouble / (r.getLong(3) + 1).toDouble)
        assert(r.getDouble(4) == expect, s"score formula mismatch for doc $docId")
      }
      // scores weakly decrease with rank
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) >= b.getDouble(4))
        case _ =>
      }
    }
  }

  test("containment: dominates jaccard, supersets the jaccard-0.8 pairs, threshold holds") {
    import graft.llm.Dedup
    val cont = Dedup.containment(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"), col("jaccard"))
      .collect()
    assert(cont.nonEmpty)
    cont.foreach { r =>
      // |A∩B|/|A| >= |A∩B|/|A∪B| always — containment can only exceed
      assert(r.getDouble(2) >= r.getDouble(4) && r.getDouble(3) >= r.getDouble(4))
      assert(math.max(r.getDouble(2), r.getDouble(3)) >= 0.6)
      assert(r.getDouble(2) <= 1.0 && r.getDouble(3) <= 1.0)
    }
    // every symmetric near-dup pair is also a containment pair
    val jacPairs = Dedup.ngramJaccard(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val contPairs = cont.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacPairs.subsetOf(contPairs),
      s"jaccard pairs missing from containment: ${jacPairs -- contPairs}")
  }

  test("index stats: shares sum to 1, balance = max*k/n, counts match the assignment") {
    val byCell = Similarity.ivfAssign(spark, sf)
      .groupBy(col("centroid_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.indexStats(spark, sf)
      .select(col("centroid_id"), col("n_cell"), col("n_cells"), col("share"),
        col("mean_qerr"), col("balance")).collect()
    assert(rows.map(_.getLong(0)).toSet == byCell.keySet)
    rows.foreach(r => assert(r.getLong(1) == byCell(r.getLong(0))))
    val shareSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    val total = byCell.values.sum.toDouble
    val expectBalance = byCell.values.max.toDouble * byCell.size / total
    rows.foreach { r =>
      assert(r.getLong(2) == byCell.size)
      assert(math.abs(r.getDouble(5) - expectBalance) < 1e-12)
      assert(r.getDouble(4) > 0.0)
    }
  }

  test("datasheet: per-source totals reconcile with the corpus and the filter chain") {
    val docs = Tables.documents(spark, sf).groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Corpus.filterChain(spark, sf).filter(col("selected")).count()
    val rows = Corpus.datasheet(spark, sf)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_kept"),
        col("n_dup"), col("kept_rate"), col("dup_rate"), col("mean_tokens")).collect()
    assert(rows.map(_.getString(0)).toSet == docs.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) == docs(r.getString(0)))
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(1))
      assert(r.getDouble(5) == r.getLong(3).toDouble / r.getLong(1).toDouble)
      assert(r.getDouble(6) == r.getLong(4).toDouble / r.getLong(1).toDouble)
      assert(r.getDouble(7) == r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
    assert(rows.map(_.getLong(3)).sum == kept, "datasheet kept != filter chain kept")
  }

  test("langid eval: cells cover the corpus, micro_acc = diagonal mass, rates row-normalize") {
    import graft.llm.TextOps
    val n = Tables.documents(spark, sf).count()
    val rows = TextOps.langIdEval(spark, sf)
      .select(col("lang"), col("pred_lang"), col("n"), col("gold_total"),
        col("rate"), col("micro_acc")).collect()
    assert(rows.map(_.getLong(2)).sum == n, "confusion cells must cover every doc")
    val diag = rows.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    rows.foreach { r =>
      assert(r.getDouble(5) == diag.toDouble / n.toDouble, "micro_acc mismatch")
      assert(r.getDouble(4) == r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
    // per-gold rows sum to the gold marginal
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(3))
    }
  }

  test("lsh audit: hits = the verified minhash pairs, truth = the exact jaccard pairs") {
    import graft.llm.Dedup
    val r = Dedup.lshAudit(spark, sf)
      .select(col("n_cand"), col("n_truth"), col("n_hit"), col("precision"), col("recall"))
      .collect()(0)
    val (nCand, nTruth, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit <= math.min(nCand, nTruth))
    assert(r.getDouble(3) == nHit.toDouble / nCand.toDouble)
    assert(r.getDouble(4) == nHit.toDouble / nTruth.toDouble)
    // the hit set IS the band-collision pairs that survive exact
    // verification — i.e. q_dedup_minhash_pairs
    assert(nHit == Dedup.minhashPairs(spark, sf).count(), "hits != verified minhash pairs")
    assert(nTruth == Dedup.ngramJaccard(spark, sf).count(), "truth != exact jaccard pairs")
  }

  test("prototypes: <= m per cell, kept are the cell's closest, radius = max kept dist") {
    val assign = Similarity.ivfAssign(spark, sf)
      .select(col("vec_id"), col("centroid_id"), col("dist2")).collect()
      .groupBy(_.getLong(1))
    val kept = Similarity.prototypes(spark, sf)
      .select(col("centroid_id"), col("rk"), col("vec_id"), col("dist2"),
        col("n_cell"), col("radius"), col("keep_frac")).collect()
      .groupBy(_.getLong(0))
    assert(kept.keySet == assign.keySet, "every non-empty cell keeps prototypes")
    kept.foreach { case (cell, rs) =>
      val members = assign(cell)
      assert(rs.length == math.min(Similarity.ProtoM, members.length))
      assert(rs.forall(_.getLong(4) == members.length), "n_cell mismatch")
      val radius = rs.map(_.getDouble(3)).max
      assert(rs.forall(_.getDouble(5) == radius), "radius must be the kept max")
      // the kept set is exactly the m smallest (dist2, vec_id) members
      val expectIds = members.sortBy(r => (r.getDouble(2), r.getLong(0)))
        .take(rs.length).map(_.getLong(0)).toSet
      assert(rs.map(_.getLong(2)).toSet == expectIds, s"cell $cell kept wrong members")
    }
  }
}
