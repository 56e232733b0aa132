package graft

import graft.flags.FlagEval
import graft.functions.GraftExtensions
import graft.llm.Dedup.{Bands, NumPerms, P31, RowsPerBand, permA, permB}
import graft.llm.Portable.{h60, minhashBands, wordShingles3}
import org.apache.spark.sql.Column
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

  // The higher-order-function chain the native MinHash kernels replaced,
  // kept here as their reference: tokenize → shingle → md5 → 32 folds.
  private def hofTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  private def hofShingles3(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  private def hofBands(sh: Column): Column = {
    val hp = transform(sh, s => h60(s) % P31)
    val sig = array((0 until NumPerms).map(i =>
      array_min(transform(hp, x => (x * permA(i) + permB(i)) % P31))): _*)
    array((0 until Bands).map(b =>
      (0 until RowsPerBand).map(r => element_at(sig, b * RowsPerBand + r + 1))
        .reduce((acc, v) => acc * 131L + v)): _*)
  }

  /** Randomized documents plus the tokenizer's edge cases. */
  private def minhashDocs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(19)
    val vocab = Array("a", "b", "c", "dup", "tok-1", "héllo", "naïve", "日本語", "x\u00A0y", "\uD83D\uDE00z")
    val seps = Array(" ", "  ", "\t", "\n", "\r\n", " \t ", "\u000B", "\f")
    def sep = seps(rnd.nextInt(seps.length))
    val random = (1 to 300).map { i =>
      val words = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
      val body = words.map(_ + sep).mkString
      (i.toLong, (if (rnd.nextBoolean()) sep else "") + body)
    }
    random ++ Seq(
      1001L -> null, 1002L -> "", 1003L -> "one", 1004L -> "one two",
      1005L -> " \t\n ", 1006L -> "  lead and trail  ", 1007L -> "\tmixed\nwhite \r\nspace\u000Bhere\f",
      1008L -> "a b c a b c a b c", 1009L -> "x\u00A0y z w", 1010L -> "x\u00A0y z",
      1011L -> "日本 語 テキスト 日本 語 テキスト", 1012L -> "one  two")
  }

  test("word_shingles3 / minhash_bands: bit-equal to the HOF formulation, codegen and interpreted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("minhash-kernels").resolve("docs").toString
    minhashDocs.toDF("doc_id", "text").write.parquet(dir)
    def compare(how: String): Unit = {
      val rows = spark.read.parquet(dir)
        .select(col("doc_id"),
          wordShingles3(col("text")).as("n_sh"), hofShingles3(hofTokens(col("text"))).as("h_sh"))
        .select(col("doc_id"), col("n_sh"), col("h_sh"),
          minhashBands(col("n_sh")).as("n_b"), hofBands(col("h_sh")).as("h_b"))
        .collect()
      assert(rows.length == minhashDocs.length)
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"$how shingles differ for doc $id")
        val hof = r.getSeq[java.lang.Long](4)
        assert(hof.length == Bands)
        assert(r.getSeq[java.lang.Long](3) == hof, s"$how bands differ for doc $id")
        // fewer than 3 tokens: no shingles, so 8 null bands
        if (r.getSeq[String](2).isEmpty) assert(hof.forall(_ == null), s"doc $id")
        else assert(hof.forall(_ != null), s"doc $id")
      }
      val short = rows.filter(_.getLong(0) > 1000).collect {
        case r if r.getSeq[String](1).isEmpty => r.getLong(0)
      }.toSet
      assert(short == Set(1001L, 1002L, 1003L, 1004L, 1005L, 1010L, 1012L), s"$how: $short")
      val repeated = rows.find(_.getLong(0) == 1008L).get.getSeq[String](1)
      assert(repeated == Seq("a b c", "b c a", "c a b"), repeated)
      assert(rows.find(_.getLong(0) == 1009L).get.getSeq[String](1) == Seq("x\u00A0y z w"))
    }
    try {
      compare("codegen")
      val exec = spark.read.parquet(dir)
        .select(minhashBands(wordShingles3(col("text"))).as("b"))
        .queryExecution.executedPlan.toString
      assert("""\*\(\d+\) Project \[minhash_bands""".r.findFirstIn(exec).nonEmpty, exec)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      compare("interpreted")
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
