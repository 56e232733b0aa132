package graft.functions

import graft.llm.Dedup.{Bands, NumPerms, P31, RowsPerBand, permA, permB}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash kernels as static entry points, callable from generated
  * Java. Both the interpreter and codegen call these same methods
  * ([[MinHashCall]]), so the two paths cannot drift.
  */
object MinHashFn {

  private val emptyShingles = new GenericArrayData(Array.empty[Any])
  private val permAs = Array.tabulate(NumPerms)(permA)
  private val permBs = Array.tabulate(NumPerms)(permB)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  // Java's `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Distinct word 3-shingles of `text`, in first-occurrence order. */
  def shingles(text: UTF8String): ArrayData = {
    if (text == null) return emptyShingles
    // `split` decodes to a Java String first, replacing malformed bytes;
    // valid UTF-8 is scanned in place (whitespace bytes are ASCII and
    // never occur inside a multi-byte sequence)
    val bytes = (if (text.isValid) text else UTF8String.fromString(text.toString)).getBytes
    val starts = new Array[Int](bytes.length / 2 + 1)
    val ends = new Array[Int](starts.length)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        starts(n) = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        ends(n) = i
        n += 1
      }
    }
    if (n < 3) return emptyShingles
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Any](n - 2)
    var k = 0
    var t = 0
    while (t < n - 2) {
      // three tokens and the two joining spaces
      val sh = new Array[Byte](
        ends(t) - starts(t) + ends(t + 1) - starts(t + 1) + ends(t + 2) - starts(t + 2) + 2)
      var p = 0
      var w = t
      while (w < t + 3) {
        val m = ends(w) - starts(w)
        System.arraycopy(bytes, starts(w), sh, p, m)
        p += m
        if (w < t + 2) { sh(p) = ' '; p += 1 }
        w += 1
      }
      val u = UTF8String.fromBytes(sh)
      if (seen.add(u)) { out(k) = u; k += 1 }
      t += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }

  /** The [[Bands]] LSH band hashes of a shingle array; all null when it
    * has no non-null shingle (null, empty, or all-null input).
    */
  def bands(sh: ArrayData): ArrayData = {
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    val md = md5.get()
    var any = false
    var j = 0
    val n = if (sh == null) 0 else sh.numElements()
    while (j < n) {
      if (!sh.isNullAt(j)) {
        any = true
        val d = md.digest(sh.getUTF8String(j).getBytes)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        // h60: the top 60 bits of the digest, i.e. its first 15 hex digits
        val x = (h >>> 4) % P31
        var i = 0
        while (i < NumPerms) {
          val v = (x * permAs(i) + permBs(i)) % P31
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) return new GenericArrayData(new Array[Any](Bands))
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var acc = mins(b * RowsPerBand)
      var r = 1
      while (r < RowsPerBand) { acc = acc * 131L + mins(b * RowsPerBand + r); r += 1 }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** A never-null unary expression whose value is one call of the static
  * [[MinHashFn]] method named `method`, from `eval` and from generated
  * code alike. (The name is a member, not a constructor parameter: Java
  * serialization of a task needs a no-argument constructor on the first
  * non-serializable superclass of the case class.)
  */
sealed abstract class MinHashCall extends UnaryExpression with ImplicitCastInputTypes {

  override def nullable: Boolean = false

  protected def method: String
  protected def call(in: Any): Any

  override def eval(input: InternalRow): Any = call(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.MinHashFn.$method(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `word_shingles3(text)` — the distinct word 3-shingles of a text as a
  * native Catalyst expression with whole-stage codegen.
  *
  * Bit-equal to the higher-order-function chain it replaces,
  * `shingles3(tokens(text))`: tokens are Java `split("\\s+", -1)` with
  * empty tokens dropped, each shingle is three consecutive tokens joined
  * with `" "`, duplicates keep their first occurrence, and fewer than 3
  * tokens (or a null text) give an empty array. The chain's lambdas
  * are interpreted and boxed (`CodegenFallback`), and it references its
  * token array five times, which codegen CSE cannot share across.
  */
case class WordShingles3(child: Expression) extends MinHashCall {

  override protected def method: String = "shingles"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def call(in: Any): Any = MinHashFn.shingles(in.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): WordShingles3 =
    copy(child = newChild)

  override def prettyName: String = "word_shingles3"
}

object WordShingles3 {
  private[functions] val descriptor = (
    FunctionIdentifier("word_shingles3"),
    new ExpressionInfo(classOf[WordShingles3].getName, "word_shingles3"),
    (children: Seq[Expression]) => WordShingles3(children.head))
}

/** `minhash_bands(sh)` — the 8 LSH band hashes of a shingle array's
  * MinHash signature, as a native Catalyst expression with whole-stage
  * codegen.
  *
  * Bit-equal to the formulation it replaces, band b of
  * `signature(transform(sh, s -> h60(s) % P31))`:
  *   - `h60(s)` is the top 60 bits of `md5(s)` (the first 8 digest bytes
  *     as a big-endian long, `>>> 4`);
  *   - signature element i is the minimum over shingles of
  *     `(x·(2i+1) + 12345 + 789i) mod P31` ([[graft.llm.Dedup]]'s
  *     `permA`/`permB`, 32 permutations);
  *   - band b packs elements 4b..4b+3 base-131, exactly (< 2^53);
  *   - an input without a non-null shingle gives 8 nulls, as
  *     `array_min` over an empty array does.
  * One pass per shingle: one digest, 32 minima updated in place, where
  * the higher-order form ran 32 interpreted folds per document.
  */
case class MinHashBands(child: Expression) extends MinHashCall {

  override protected def method: String = "bands"

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def call(in: Any): Any = MinHashFn.bands(in.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {
  private[functions] val descriptor = (
    FunctionIdentifier("minhash_bands"),
    new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
    (children: Seq[Expression]) => MinHashBands(children.head))
}
