package graft

import graft.queries.Relational
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Theta-sketch cohort overlap ([[Relational.thetaOverlap]]): the
  * oracle hash-checks the exact twin columns; these assert the SKETCH
  * math — exact-mode equality below the retained-set size, bounded
  * error above it, and partition invariance of the estimates (the
  * retained set is the k smallest hashes of the distinct key set, a
  * pure function of the set).
  */
class ThetaSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  /** |A| = na keys [0, na), |B| = nb keys [na - overlap, na - overlap + nb). */
  private def keyed(na: Int, nb: Int, overlap: Int, parts: Int) = {
    import spark.implicits._
    val a = (0 until na).map(k => (k.toLong, true, false))
    val b = (0 until nb).map(i => ((na - overlap + i).toLong, false, true))
    (a ++ b).toDF("k", "a", "b").repartition(parts)
  }

  test("exact mode: below 2^lgK retained entries the estimates ARE the exact counts") {
    val e = Relational.thetaEstimates(keyed(300, 200, 50, 3))
    assert(e.a == 300.0 && e.b == 200.0 && e.and == 50.0 && e.or == 450.0,
      s"exact-mode estimates drifted: $e")
    // exact mode collapses the intersection interval to the point
    assert(e.andLb == 50.0 && e.andUb == 50.0, s"exact-mode bounds not tight: $e")
  }

  test("estimation mode: 10k-key cohorts estimate within the documented error") {
    val e = Relational.thetaEstimates(keyed(10000, 8000, 2000, 5))
    assert(math.abs(e.a - 10000) <= 1000, s"|A| est ${e.a}")
    assert(math.abs(e.b - 8000) <= 800, s"|B| est ${e.b}")
    assert(e.andLb - 32 <= 2000 && 2000 <= e.andUb + 32, s"|A∩B| bounds exclude truth: $e")
    assert(math.abs(e.or - 16000) <= 1600, s"|A∪B| est ${e.or}")
  }

  test("intersection gate self-sizes: low overlap fraction under a large union") {
    // n_and = 500 against n_or ≈ 99.5k: intersection RSE here is driven
    // by the UNION size (~sqrt(n_or/n_and) × operand RSE), so the old
    // fixed 10%·n_and+32 envelope (±82) could flag a CORRECT sketch; the
    // sketch's own 3-σ interval contains the truth by construction
    val e = Relational.thetaEstimates(keyed(50000, 50000, 500, 5))
    assert(e.andLb - 32 <= 500 && 500 <= e.andUb + 32,
      s"3-σ intersection interval excludes the true overlap: $e")
    // and the interval is genuinely wider than the OLD fixed envelope
    // (2 × (10%·n_and + 32) = 164 total width) — the failure mode the
    // ADVICE flagged was exactly a gate smaller than the true error,
    // so a near-degenerate interval here must fail this spec
    assert(e.andUb - e.andLb > 2 * (0.10 * 500 + 32),
      s"interval no wider than the old fixed envelope — gate would under-size again: $e")
  }

  test("estimates are partition-invariant (retained set is a function of the key set)") {
    val e2 = Relational.thetaEstimates(keyed(5000, 5000, 1000, 2))
    val e7 = Relational.thetaEstimates(keyed(5000, 5000, 1000, 7))
    assert(e2 == e7, s"partitioning leaked into theta estimates: $e2 vs $e7")
  }

  test("theta sketches survive the lake: parquet binary round-trip merges to the direct estimate") {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    import spark.implicits._
    val lgK = Relational.ThetaLgK
    // daily sketches, as a production job would persist them
    val daily = (0 until 5000).map(k => (k % 7, k.toLong)).toDF("day", "k")
      .as[(Int, Long)].groupByKey(_._1)
      .mapGroups { (day, it) =>
        val sk = UpdateSketch.builder().setLogNominalEntries(lgK).build()
        it.foreach(t => sk.update(t._2))
        (day, sk.compact().toByteArray)
      }.toDF("day", "sk")
    val dir = java.nio.file.Files.createTempDirectory("thetalake").toString
    daily.write.mode("overwrite").parquet(dir)

    def unionOf(rows: Array[Array[Byte]]): Double = {
      val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
      rows.foreach(b => u.union(Sketches.wrapSketch(Memory.wrap(b))))
      u.getResult.getEstimate
    }
    val persisted = unionOf(spark.read.parquet(dir).select("sk")
      .collect().map(_.getAs[Array[Byte]](0)))
    val direct = unionOf(daily.select("sk").collect().map(_.getAs[Array[Byte]](0)))
    assert(persisted == direct, s"parquet round-trip changed the estimate: $persisted vs $direct")
    assert(math.abs(persisted - 5000.0) <= 5000 * 0.10, s"union estimate off: $persisted")
  }

  test("HLL sketches survive the lake: hll_union_agg over persisted binaries == direct") {
    import spark.implicits._
    val df = (0 until 5000).map(k => (k % 7, k.toLong)).toDF("day", "k")
    val daily = df.groupBy(col("day")).agg(expr("hll_sketch_agg(k)").as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("hlllake").toString
    daily.write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head.getLong(0)
    val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(k))")).head.getLong(0)
    assert(persisted == direct, s"round-trip changed the HLL estimate: $persisted vs $direct")
  }

  test("registered query: gates hold and jaccard is the exact ratio") {
    val r = Relational.aggThetaOverlap(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val row = r.head
    val (nAnd, nOr) = (row.getLong(2), row.getLong(3))
    assert(row.getDouble(4) == nAnd.toDouble / nOr.toDouble)
    (5 to 8).foreach(i => assert(row.getBoolean(i), s"gate $i failed"))
  }
}
