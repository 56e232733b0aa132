package graft

import graft.llm.{Corpus, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[Dedup.bandPairs]]: the MinHash candidate pairs formed in one
  * aggregate over the `(band, band_hash)` buckets, pinned to the
  * [[Dedup.capBuckets]] + band self-join form it replaced, which this
  * spec keeps as the reference.
  */
class BandPairsSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  /** The replaced form: cap the buckets, self-join them on the band key,
    * count the shared bands per pair.
    */
  private def reference(bands: DataFrame): DataFrame = {
    val capped = Dedup.capBuckets(bands)
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("doc_a"), col("doc_b"), col("n_bands")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("a bucket at the cap gives all C(256, 2) pairs; one past the cap gives none") {
    import spark.implicits._
    val cap = Dedup.FatBucketCap
    val atCap = (1 to cap).map(i => (i.toLong, 0, 7L))
    val past = (1 to cap + 1).map(i => (1000L + i, 1, 9L))
    val got = pairs(Dedup.bandPairs((atCap ++ past).toDF("doc_id", "band", "band_hash")))
    val all = for (a <- 1 to cap; b <- a + 1 to cap) yield (a.toLong, b.toLong, 1L)
    assert(got.size == cap * (cap - 1) / 2)
    assert(got == all)
  }

  test("documents with a null band_hash never pair") {
    import spark.implicits._
    // docs 1-3 have no shingles (every band null); 4 and 5 share band 2
    val shingleless = for (d <- 1L to 3L; b <- 0 until Dedup.Bands) yield (d, b, None)
    val real = Seq((4L, 2, Some(5L)), (5L, 2, Some(5L)), (6L, 2, Some(6L)))
    val bands = (shingleless ++ real).toDF("doc_id", "band", "band_hash")
    assert(pairs(Dedup.bandPairs(bands)) == Seq((4L, 5L, 1L)))
    assert(pairs(reference(bands)) == Seq((4L, 5L, 1L)))
  }

  test("a seeded random band table pairs exactly as the capped self-join") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    // 700 docs × 8 bands over 30 hash values per band: buckets of ~20
    // members, a fat bucket of 300 (band 0, hash -1) past the cap, and
    // about 3% null hashes
    val rows = for (d <- 0L until 700L; b <- 0 until Dedup.Bands) yield {
      val h =
        if (rnd.nextDouble() < 0.03) None
        else if (b == 0 && d < 300L) Some(-1L)
        else Some(rnd.nextInt(30).toLong)
      (d, b, h)
    }
    val bands = rows.toDF("doc_id", "band", "band_hash").repartition(3)
    val got = pairs(Dedup.bandPairs(bands))
    assert(got.nonEmpty && got.exists(_._3 > 1L), "the table should give multi-band pairs")
    assert(got == pairs(reference(bands)))
  }

  test("0-, 1- and 2-token documents each stay their own cluster's keeper through the chain") {
    import spark.implicits._
    // no text here has a word 3-shingle, so every band hash is null
    val texts = Seq("", "   ", "alpha", "alpha", "alpha beta", "alpha beta")
    val dir = Files.createTempDirectory("bandpairs").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ids = texts.indices.map(_.toLong)

    val cl = Dedup.clusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("is_keeper")).collect()
    assert(cl.map(_.getLong(0)).sorted.toSeq == ids)
    assert(cl.forall(r => r.getLong(1) == r.getLong(0) && r.getBoolean(2)))

    val kb = Dedup.keepBest(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"), col("is_keeper")).collect()
    assert(kb.map(_.getLong(0)).sorted.toSeq == ids)
    assert(kb.forall(r => r.getLong(1) == r.getLong(0) && r.getLong(2) == r.getLong(0) &&
      r.getBoolean(3)))

    val fn = Corpus.funnel(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("is_keeper"), col("is_quality"),
        col("selected")).collect()
    assert(fn.map(_.getLong(0)).sorted.toSeq == ids)
    assert(fn.forall(r => r.getLong(1) == r.getLong(0) && r.getBoolean(2)))
    // under 10 tokens: none passes the quality gate, so none is selected
    assert(fn.forall(r => !r.getBoolean(3) && !r.getBoolean(4)))
  }
}
