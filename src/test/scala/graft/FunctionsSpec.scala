package graft

import graft.flags.FlagEval
import graft.functions.GraftExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression: SQL registration, Column API, codegen
  * path, and agreement with the scalar serving function.
  */
class FunctionsSpec extends AnyFunSuite with SparkSuite {

  protected def cores = 2

  override def beforeAll(): Unit = { super.beforeAll(); GraftExtensions.register(spark) }

  test("flag_bucket SQL function matches serving-path scalar + vectors") {
    val rows = spark.sql(
      """SELECT flag_bucket('flag-key', 'user-1') AS b1,
        |       flag_bucket('flag-key', 'user-2') AS b2,
        |       flag_bucket('beta', 'alice') AS b3""".stripMargin).collect().head
    assert(rows.getDouble(0) == 96.0) // python-hashlib vector
    assert(rows.getDouble(1) == 60.0)
    assert(rows.getDouble(2) == 98.0)
  }

  test("Column API + codegen over a column of ids agrees with scalar") {
    import spark.implicits._
    val ids = (1 to 200).map(i => s"user-$i").toDF("id")
    val out = ids.select(col("id"),
        GraftExtensions.flagBucket(lit("salt-x"), col("id")).as("b"))
      .collect()
    out.foreach { r =>
      assert(r.getDouble(1) == FlagEval.bucketFor("salt-x", r.getString(0)))
    }
  }

  test("null inputs yield null (nullIntolerant)") {
    val r = spark.sql("SELECT flag_bucket(NULL, 'x') AS b").collect().head
    assert(r.isNullAt(0))
  }

  test("constant folding: literal args are foldable at plan time") {
    val plan = spark.sql("SELECT flag_bucket('k', 'v') AS b").queryExecution.optimizedPlan
    // after constant folding no FlagBucket remains in the plan
    assert(!plan.expressions.exists(_.exists(_.isInstanceOf[graft.functions.FlagBucket])))
  }

  test("whole-stage codegen survives with the expression in the plan") {
    import spark.implicits._
    val df = spark.range(10).select(col("id").cast("string").as("id"))
      .select(GraftExtensions.flagBucket(lit("s"), col("id")).as("b"))
    // '*(1)' marks operators fused into a WholeStageCodegen stage
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("*(1) Project [flag_bucket"), exec)
  }

  test("vec_idot: equals the integer HOF fold, incl. null/mismatch poisoning") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs: Seq[(Seq[Option[Long]], Seq[Option[Long]])] =
      (1 to 50).map { _ =>
        val n = 1 + rnd.nextInt(8)
        def v = Seq.fill(n)(Option((rnd.nextInt(255) - 127).toLong))
        (v, v)
      } ++ Seq(
        (Seq(Some(1L), None), Seq(Some(2L), Some(3L))),    // null element
        (Seq(Some(1L), Some(2L)), Seq(Some(3L))),          // length mismatch
        (Seq.empty, Seq.empty))                            // empty → 0
    val df = vecs.toDF("a", "b")
      .select(
        call_function("vec_idot", col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("hof"))
    df.collect().foreach { r =>
      assert(Option(r.get(0)) == Option(r.get(1)),
        s"native=${r.get(0)} hof=${r.get(1)}")
    }
  }

  test("vec_dot: bit-equal to the HOF formulation, incl. null/mismatch poisoning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Seq[Option[Float]], Seq[Option[Float]])] =
      (1 to 50).map { i =>
        val n = 1 + rnd.nextInt(8)
        def v = Seq.fill(n)(Option(rnd.nextFloat() * 2 - 1))
        (v, v)
      } ++ Seq(
        (Seq(Some(1f), None), Seq(Some(2f), Some(3f))),    // null element
        (Seq(Some(1f), Some(2f)), Seq(Some(3f))),          // length mismatch
        (Seq.empty, Seq.empty))                            // empty → 0.0
    val df = vecs.toDF("a", "b")
      .select(
        call_function("vec_dot", col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("hof"))
    df.collect().foreach { r =>
      val (n, h) = (Option(r.get(0)), Option(r.get(1)))
      assert(n.map(_.asInstanceOf[Double].##) == h.map(_.asInstanceOf[Double].##) &&
        n.toString == h.toString, s"native=$n hof=$h")
      (n, h) match {
        case (Some(a: Double), Some(b: Double)) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ==
            java.lang.Double.doubleToRawLongBits(b))
        case (None, None) =>
        case other => fail(s"null disagreement: $other")
      }
    }
    // codegen fused: the native call sits inside a WholeStageCodegen
    // stage (non-literal input — literals constant-fold away, which the
    // folded `11.0` in the previous assertion run demonstrated)
    val exec = spark.range(2)
      .select(array(col("id").cast("float"), lit(2f)).as("a"),
        array(lit(3f), col("id").cast("float")).as("b"))
      .select(call_function("vec_dot", col("a"), col("b")).as("d"))
      .queryExecution.executedPlan.toString
    assert(exec.contains("*(1) Project [vec_dot"), exec)
  }
}
