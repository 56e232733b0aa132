package graft.functions

import graft.flags.FlagEval
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry points — static forwarders callable from generated
  * Java. The math is the exact serving-path function
  * ([[FlagEval.bucketFor]]); one definition, three call sites
  * (interpreter, UDF, codegen) so assignment can never drift.
  */
object FlagBucketFn {
  def bucketUTF8(salt: UTF8String, id: UTF8String): Double =
    FlagEval.bucketFor(salt.toString, id.toString)
}

/** `flag_bucket(salt, distinct_id)` as a native Catalyst expression
  * with whole-stage codegen — unlike a Scala UDF there is no
  * encoder/boxing boundary: the generated code calls a static method
  * on two UTF8Strings inline inside the stage. On a 100 TB cohort
  * backfill this keeps the flag predicate inside one codegen'd map
  * stage end-to-end.
  *
  * Semantics (bit-exact, defines production flag assignment —
  * `/root/reference/src/feature_flags.rs:392-402`):
  * `u64_be(sha1(salt ":" id)[0..8]) mod 100`, as double.
  */
case class FlagBucket(left: Expression, right: Expression)
    extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override protected def nullSafeEval(salt: Any, id: Any): Any =
    FlagBucketFn.bucketUTF8(salt.asInstanceOf[UTF8String], id.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, i) =>
      s"graft.functions.FlagBucketFn.bucketUTF8($s, $i)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FlagBucket =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "flag_bucket"
}

/** Session extension wiring (`SparkSessionExtensions.injectFunction`):
  * deploy with `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * or `builder.withExtensions`. [[GraftExtensions.register]] also
  * installs into an already-running session (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.JsonFusion)
  }
}

object GraftExtensions {
  private[functions] val flagBucketDescriptor = (
    FunctionIdentifier("flag_bucket"),
    new ExpressionInfo(classOf[FlagBucket].getName, "flag_bucket"),
    (children: Seq[Expression]) => FlagBucket(children(0), children(1)))

  // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
  // internal runtime join filters but does not expose them in the SQL
  // registry; surfacing them makes the bloom-prefilter pattern
  // (decontamination against a sketch instead of a broadcast hash set)
  // a first-class function. Builders mirror the internal injection
  // sites: agg input is xxhash64(col) (long), might_contain's filter
  // side must be a foldable binary (or scalar subquery) — the
  // expression's own checkInputDataTypes enforces that.
  private[functions] val bloomAggDescriptor = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_filter_agg"),
    (children: Seq[Expression]) => children match {
      // all three arities the underlying expression supports (1/2-arg
      // forms take conf-derived defaults), with a proper analysis error
      // instead of an IndexOutOfBounds on a wrong-arity call
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      case _ => throw new IllegalArgumentException(
        s"bloom_filter_agg expects 1 to 3 arguments, got ${children.length}")
    })

  private[functions] val bloomMightContainDescriptor = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "might_contain"),
    (children: Seq[Expression]) => children match {
      case Seq(bf, v) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
      case _ => throw new IllegalArgumentException(
        s"might_contain expects exactly 2 arguments, got ${children.length}")
    })

  private[functions] val descriptors =
    Seq(flagBucketDescriptor, VecDot.descriptor, VecDist2.descriptor, VecIDot.descriptor,
      WordShingles3.descriptor, MinHashBands.descriptor,
      bloomAggDescriptor, bloomMightContainDescriptor)

  /** Install into an existing session: function registry + the
    * [[graft.plans.JsonFusion]] optimizer rule.
    */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    graft.plans.JsonFusionInstall.register(spark)
  }

  /** Column API for the native expression (resolves through the
    * session registry, so [[register]]/extensions must have run).
    */
  def flagBucket(salt: Column, id: Column): Column =
    org.apache.spark.sql.functions.call_function("flag_bucket", salt, id)
}
