package graft

import graft.functions.TopKAggregator
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants for the Double-keyed bounded top-k aggregate
  * (the q_sim_project_search coarse shortlist): for EVERY input
  * multiset, partitioning, and merge order, the aggregate must equal
  * `sorted.take(k)` under (TotalOrdering, Long) — including the float
  * edge values (−0.0 vs 0.0, NaN) where TotalOrdering is what Spark's
  * window `ORDER BY` uses.
  */
class TopKDoubleSpec extends AnyFunSuite {

  private implicit val tupleOrd: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  private val keyGen: Gen[Double] = Gen.frequency(
    (8, Gen.chooseNum(-5.0, 5.0)),
    (1, Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)))

  private val rowGen: Gen[(Double, Long)] =
    Gen.zip(keyGen, Gen.chooseNum(0L, 1000L))

  private val rowsGen: Gen[List[(Double, Long)]] = Gen.listOf(rowGen)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  test("reduce over any input order equals global sorted take(k)") {
    val agg = new TopKAggregator(5, Ordering.Double.TotalOrdering)
    check(Prop.forAll(rowsGen) { rows =>
      val got = rows.foldLeft(agg.zero)(agg.reduce)
      // == on NaN-bearing tuples fails via primitive equality; compare
      // under the same total order instead
      val want = rows.sorted.take(5)
      got.size == want.size &&
        got.zip(want).forall { case (a, b) => tupleOrd.equiv(a, b) }
    })
  }

  test("merge of arbitrary partition splits equals the unpartitioned fold") {
    val agg = new TopKAggregator(3, Ordering.Double.TotalOrdering)
    check(Prop.forAll(rowsGen, Gen.chooseNum(0, 10)) { (rows, nSplits) =>
      val parts =
        if (rows.isEmpty || nSplits == 0) Seq(rows)
        else rows.grouped(math.max(1, rows.length / (nSplits + 1))).toSeq
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val want = rows.sorted.take(3)
      merged.size == want.size &&
        merged.zip(want).forall { case (a, b) => tupleOrd.equiv(a, b) }
    })
  }

  test("negated-score key reproduces (score DESC, id ASC) incl. -0.0/0.0") {
    // the projectSearch encoding: key = -score (NaN pre-mapped by the
    // caller). DESC rank-window order == ASC TotalOrdering on -score.
    val agg = new TopKAggregator(4, Ordering.Double.TotalOrdering)
    val scores = List((0.0, 7L), (-0.0, 3L), (1.5, 2L), (1.5, 1L), (-2.0, 9L))
    val keyed = scores.map { case (sc, id) => (-sc, id) }
    val got = keyed.foldLeft(agg.zero)(agg.reduce).map { case (k, id) => id }
    // expected window order: 1.5(id 1), 1.5(id 2), 0.0(id 7), -0.0(id 3)
    // (TotalOrdering DESC puts 0.0 before -0.0), then -2.0 dropped by k=4
    assert(got == List(1L, 2L, 7L, 3L))
  }
}
