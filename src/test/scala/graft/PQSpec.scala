package graft

import graft.llm.PQ
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** PQ training internals (r18): the subspace assignment moved from a
  * rank window over all N·M·Kc scored rows to the map-side argmin, and
  * the per-(m, cid) mean moved from a full-cell
  * `sort_array(collect_list(...))` buffer to the KMeans streaming fold
  * (O(SubDim) live state). The oracle proves end-to-end bit-equality;
  * these pin the two replacements against their window/buffer
  * predecessors directly and gate the plan shape.
  */
class PQSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 4

  private val sf = "/root/testdata/sf0.001"

  private def subs = PQ.subspaces(
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")))

  private def c0 = subs.filter(col("vec_id") < PQ.Kc)
    .select(col("m"), col("vec_id").as("cid"),
      transform(col("sub"), x => x.cast(DoubleType)).as("c"))

  test("argmin assignment == the rank-window form it replaced, bit for bit") {
    import graft.llm.Portable.dist2
    val w = Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("cid"))
    val windowForm = subs.join(broadcast(c0), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"),
        dist2(col("sub"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"), col("d2"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => s"${r.getLong(0)}|${r.getInt(1)}|${r.getLong(2)}|" +
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))).sorted.toSeq
    val got = key(PQ.assign(subs, c0))
    assert(got.nonEmpty && got == key(windowForm),
      "map-side argmin drifted from the rank-window assignment")
  }

  test("streaming recenter == the collect_list fold it replaced, bit for bit") {
    val assigned = PQ.assign(subs, c0).join(subs, Seq("vec_id", "m"))
    val bufferForm = assigned
      .groupBy(col("m"), col("cid"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("sub")))).as("ms"),
        count(lit(1)).as("n"))
      .select(col("m"), col("cid"),
        transform(sequence(lit(1), lit(PQ.SubDim)), dd =>
          aggregate(col("ms"), lit(0.0), (acc, x) =>
            acc + element_at(x.getField("sub"), dd).cast(DoubleType)) / col("n"))
          .as("c"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => s"${r.getInt(0)}|${r.getLong(1)}|" +
        r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits).mkString(","))
        .sorted.toSeq
    val got = key(PQ.recenter(assigned))
    assert(got.size == PQ.M * PQ.Kc && got == key(bufferForm),
      "streaming recenter drifted from the collect_list fold")
  }

  test("training plan: no full-cell buffer, no assignment rank window") {
    val plan = SparkEntry.queries("q_sim_pq")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("collect_list") && !plan.contains("sort_array"),
      "PQ training re-grew a full-cell aggregation buffer:\n" + plan.take(1200))
    assert(plan.contains("partial_min"),
      "assignment lost its map-side argmin shape:\n" + plan.take(1200))
    assert(plan.contains("MapPartitions"),
      "recenter lost its streaming-fold shape:\n" + plan.take(1200))
  }

  /** r18 ADC rewrite: the scoring join moved from one row per
    * (candidate, query, subspace) — N·M·|queries| rows feeding a
    * (q_id, vec_id) pivot aggregate and a per-query rank window (the
    * shape that OOM'd the sf10 probe at 6.4 B rows) — to wide code
    * rows × broadcast per-query lookup arrays with the ADC sum as a
    * projection and a bounded top-k aggregate. This pins the rewrite
    * against the replaced form bit for bit (adc raw bits, rank, ids)
    * at sf0.1 (N = 2 000, 20 queries).
    */
  test("bounded ADC top-k == the join+pivot+window form it replaced, bit for bit") {
    import graft.llm.Portable.dist2
    import org.apache.spark.sql.types.LongType
    val sf01 = "/root/testdata/sf0.1"
    val subs01 = PQ.subspaces(
      Tables.embeddings(spark, sf01).select(col("vec_id"), col("embedding")))
    val c001 = subs01.filter(col("vec_id") < PQ.Kc)
      .select(col("m"), col("vec_id").as("cid"),
        transform(col("sub"), x => x.cast(DoubleType)).as("c"))
    val c1 = PQ.recenter(PQ.assign(subs01, c001).join(subs01, Seq("vec_id", "m")))
      .persist()
    val enc = PQ.assign(subs01, c1).select(col("vec_id"), col("m"), col("cid").as("code"))
    val qsubs = subs01.filter(col("vec_id") % PQ.QueryEvery === 0)
      .select(col("vec_id").as("q_id"), col("m"), col("sub").as("q_sub"))
    val lut = qsubs.join(c1, Seq("m"))
      .select(col("q_id"), col("m"), col("cid"), dist2(col("q_sub"), col("c")).as("pdist"))
    // the replaced form, verbatim
    val joined = enc.join(broadcast(lut), col("code") === lut("cid") && enc("m") === lut("m"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), enc("m").as("sm"), col("pdist"))
    val pivots = (0 until PQ.M).map(m => max(when(col("sm") === m, col("pdist"))).as(s"p$m"))
    val adc = (0 until PQ.M).map(m => col(s"p$m")).reduce(_ + _)
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
    val windowForm = joined.groupBy(col("q_id"), col("vec_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("q_id"), col("vec_id"), adc.as("adc"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= PQ.TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|" +
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))).sorted.toSeq
    val got = key(SparkEntry.queries("q_sim_pq")(spark, sf01))
    val want = key(windowForm)
    c1.unpersist()
    Tables.releaseCaches(spark)
    assert(got.nonEmpty && got == want,
      "bounded ADC top-k drifted from the join+pivot+window form")
  }
}
