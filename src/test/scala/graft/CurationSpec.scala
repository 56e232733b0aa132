package graft

import graft.llm.{Corpus, Dedup, Select}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior checks for the round-9 curation operators (temperature
  * mixture weights, the quality filter chain, cluster survivorship,
  * hybrid RRF retrieval): the oracle harness proves bit-equality with
  * DuckDB; these assert the SEMANTIC properties each operator exists
  * for.
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  private val sf = "/root/testdata/sf0.001"

  test("temperature: weights normalize, damping up-weights small sources monotonically") {
    val rows = Corpus.temperature(spark, sf)
      .select(col("source"), col("n_docs"), col("p_raw"), col("q_temp"),
        col("boost"), col("target_docs"))
      .collect()
    assert(rows.nonEmpty)
    val pSum = rows.map(_.getDouble(2)).sum
    val qSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(pSum - 1.0) < 1e-9, s"p_raw sums to $pSum")
    assert(math.abs(qSum - 1.0) < 1e-9, s"q_temp sums to $qSum")
    // boost = (N/Z)/sqrt(n) is strictly decreasing in source size: the
    // whole point of temperature sampling
    val bySize = rows.sortBy(_.getLong(1))
    bySize.sliding(2).foreach { case Array(a, b) =>
      if (a.getLong(1) < b.getLong(1))
        assert(a.getDouble(4) > b.getDouble(4),
          s"boost not decreasing: ${a.getString(0)} vs ${b.getString(0)}")
    }
    // materialized targets never exceed the budget (floor rounds down)
    assert(rows.map(_.getLong(5)).sum <= Corpus.TemperatureBudget)
    assert(rows.forall(_.getLong(5) > 0L))
  }

  test("filter chain: verdict names the first failing rule, selected = all rules pass") {
    val rows = Corpus.filterChain(spark, sf)
      .select(col("doc_id"), col("rule_len"), col("rule_word_len"),
        col("rule_stopword"), col("rule_repetition"), col("verdict"), col("selected"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rules = Seq("len" -> r.getBoolean(1), "word_len" -> r.getBoolean(2),
        "stopword" -> r.getBoolean(3), "repetition" -> r.getBoolean(4))
      val expected = rules.find(!_._2).map(_._1).getOrElse("keep")
      assert(r.getString(5) == expected,
        s"doc ${r.getLong(0)}: verdict ${r.getString(5)} != first-fail $expected")
      assert(r.getBoolean(6) == rules.forall(_._2))
    }
    // the cascade is live on the fixture corpus: keeps AND multiple
    // distinct failure modes both occur
    val verdicts = rows.map(_.getString(5)).toSet
    assert(verdicts.contains("keep"), "no document survives the chain")
    assert((verdicts - "keep").size >= 2, s"only failure modes $verdicts")
  }

  test("keep-best: one keeper per cluster, elected by (n_chars desc, doc_id)") {
    val rows = Dedup.keepBest(spark, sf)
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        col("keeper_id"), col("is_keeper"))
      .collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      val keepers = members.filter(_.getBoolean(4))
      assert(keepers.length == 1, s"cluster $cid has ${keepers.length} keepers")
      val elected = members.maxBy(r => (r.getLong(2), -r.getLong(0)))
      assert(keepers.head.getLong(0) == elected.getLong(0),
        s"cluster $cid keeper is not the longest member")
      // every member remaps to the same keeper, and the keeper is a member
      assert(members.forall(_.getLong(3) == elected.getLong(0)))
    }
    // survivorship agrees with the cluster partitioning itself
    val clusterOf = Dedup.clusters(spark, sf)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(clusterOf(r.getLong(0)) == r.getLong(1)))
    // at least one real (size>1) cluster exists on the fixture, so the
    // quality election is exercised
    assert(byCluster.exists(_._2.length > 1), "no non-trivial cluster in fixture")
  }

  test("hybrid rrf: fused score is exactly the two-term formula; lists fuse asymmetrically") {
    val rows = Select.hybridRrf(spark, sf)
      .select(col("q_id"), col("rk"), col("doc_id"), col("rrf"),
        col("r_lex"), col("r_dense"), col("dense_only"))
      .collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Select.HybridExemplars.toSet)
    byQ.foreach { case (q, hits) =>
      assert(hits.length == Select.HybridTopK, s"query $q: ${hits.length} rows")
      assert(hits.map(_.getLong(1)).sorted.toSeq == (1 to Select.HybridTopK).map(_.toLong))
      // ranked by rrf desc (doc_id tiebreak)
      val ordered = hits.sortBy(_.getLong(1))
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(3) > b.getDouble(3) ||
          (a.getDouble(3) == b.getDouble(3) && a.getLong(2) < b.getLong(2)))
      }
    }
    rows.foreach { r =>
      def term(i: Int): Double =
        if (r.isNullAt(i)) 0.0 else 1.0 / (Select.RrfC + r.getLong(i))
      assert(r.getDouble(3) == term(4) + term(5),
        s"rrf != 1/(C+r_lex) + 1/(C+r_dense) for doc ${r.getLong(2)}")
      assert(r.getBoolean(6) == r.isNullAt(4))
      assert(!(r.isNullAt(4) && r.isNullAt(5)), "row on neither list")
    }
    // both single-list and dual-list hits occur — the fusion is real,
    // not a rename of either retriever
    assert(rows.exists(r => !r.isNullAt(4) && !r.isNullAt(5)), "no dual-list hit")
    assert(rows.exists(r => r.isNullAt(4) || r.isNullAt(5)), "no single-list hit")
  }
}
