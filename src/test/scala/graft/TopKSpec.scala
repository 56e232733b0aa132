package graft

import graft.functions.TopKAggregator
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants for the bounded top-k aggregate: for EVERY
  * input multiset, partitioning, and merge order, the aggregate must
  * equal `sorted.take(k)` — the property that makes the map-side
  * partial (which throws rows away early) safe.
  */
class TopKSpec extends AnyFunSuite {

  private val rowGen: Gen[(Long, Long)] =
    Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 1000L))

  private val rowsGen: Gen[List[(Long, Long)]] = Gen.listOf(rowGen)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  test("reduce over any input order equals global sorted take(k)") {
    val agg = new TopKAggregator(5, Ordering.Long)
    check(Prop.forAll(rowsGen) { rows =>
      val got = rows.foldLeft(agg.zero)(agg.reduce)
      got == rows.sorted.take(5)
    })
  }

  test("merge of arbitrary partition splits equals the unpartitioned fold") {
    val agg = new TopKAggregator(3, Ordering.Long)
    check(Prop.forAll(rowsGen, Gen.chooseNum(0, 10)) { (rows, nSplits) =>
      val parts =
        if (rows.isEmpty || nSplits == 0) Seq(rows)
        else rows.grouped(math.max(1, rows.length / (nSplits + 1))).toSeq
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      merged == rows.sorted.take(3)
    })
  }

  test("duplicate rows are retained up to k (multiset, not set, semantics)") {
    val agg = new TopKAggregator(4, Ordering.Long)
    val rows = List((1L, 1L), (1L, 1L), (1L, 1L), (2L, 2L), (0L, 9L))
    assert(rows.foldLeft(agg.zero)(agg.reduce) ==
      List((0L, 9L), (1L, 1L), (1L, 1L), (1L, 1L)))
  }
}
