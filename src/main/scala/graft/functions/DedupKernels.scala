package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash kernels of the dedup family as plain loops over one
  * document: its word 3-gram shingles, its 8 permutation minima, and the
  * shared-shingle count of two sorted shingle sets. They replace the
  * interpreted `transform` lambdas, the `md5 → hex → substring → conv →
  * cast` chain and the per-candidate shingle join, and are bit-identical
  * to those forms (DedupKernelsSpec pins that on both evaluation paths).
  */
object DedupKernels {

  val Prime = 1000000007L

  /** (a, b) parameters of the 8 minhash permutations h_i = (a*h+b) mod p. */
  val MinhashParams: Seq[(Int, Int)] = Seq(
    (387, 1031), (1049, 2477), (2503, 4099), (4111, 8221),
    (8231, 16411), (16417, 32771), (32779, 65537), (65539, 131071))

  /** Shingle positions considered per document — the oracle's
    * `range(1, 1024)`, i.e. `sequence(0, least(size(tok) - 3, 1022))`.
    */
  val MaxShinglePositions = 1023

  private val A = MinhashParams.map(_._1.toLong).toArray
  private val B = MinhashParams.map(_._2.toLong).toArray
  private val Md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val NoShingles = new GenericArrayData(Array.empty[Any])

  /** The distinct word 3-grams of `text` in first-occurrence order: the
    * value of `array_distinct(transform(sequence(0, least(size(tok)-3,
    * 1022)), i -> concat_ws(' ', slice(tok, i+1, 3))))` over
    * `tok = split(text, ' ')`. Tokens are separated by single 0x20 bytes,
    * so a shingle is the byte range from its first token's start to its
    * third token's end. Null text or fewer than 3 tokens yield an empty
    * array.
    */
  def shingleArray(text: UTF8String): ArrayData = {
    if (text == null) return NoShingles
    // split() decodes through java.lang.String, which replaces malformed
    // UTF-8 with U+FFFD; do the same so the shingle bytes agree
    val bytes = (if (text.isValid) text else UTF8String.fromString(text.toString))
      .getBytes
    // starts of the first MaxShinglePositions + 3 tokens: token k spans
    // [starts(k), starts(k + 1) - 1), the last one found ends at the text's
    // end unless the scan stopped at the cap
    val starts = new Array[Int](MaxShinglePositions + 3)
    var nt = 1
    var p = 0
    while (p < bytes.length && nt < starts.length) {
      if (bytes(p) == ' ') { starts(nt) = p + 1; nt += 1 }
      p += 1
    }
    if (nt < 3) return NoShingles
    val positions = math.min(nt - 2, MaxShinglePositions)
    val seen = new java.util.HashSet[UTF8String](positions * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Any](positions)
    var i = 0
    while (i < positions) {
      val end = if (i + 3 < nt) starts(i + 3) - 1 else bytes.length
      val sh = UTF8String.fromBytes(bytes, starts(i), end - starts(i))
      if (seen.add(sh)) out += sh
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The 8 permutation minima of a shingle array: min over shingles s of
    * `(a * h + b) % Prime`, h = the top 60 bits of md5(s) taken % Prime —
    * the first 15 hex digits of `md5`, bit for bit. Null elements are
    * skipped; an array with no shingle yields null.
    */
  def minimaOf(shingles: ArrayData): ArrayData = {
    val md = Md5.get()
    val mins = Array.fill(A.length)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        var top = 0L
        var k = 0
        while (k < 8) { top = (top << 8) | (d(k) & 0xffL); k += 1 }
        val h = (top >>> 4) % Prime
        k = 0
        while (k < A.length) {
          val v = (A(k) * h + B(k)) % Prime
          if (v < mins(k)) mins(k) = v
          k += 1
        }
        any = true
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  /** Elements two ascending, distinct string arrays share, in one merge
    * pass (binary UTF-8 order — `sort_array`'s). Null elements match
    * nothing. Unsafe arrays (every codegen'd row) are compared in place,
    * without a UTF8String per step.
    */
  def mergeCount(a: ArrayData, b: ArrayData): Int = (a, b) match {
    case (x: UnsafeArrayData, y: UnsafeArrayData) =>
      merge(x.numElements(), y.numElements(), x.isNullAt, y.isNullAt,
        (i, j) => {
          // a string slot holds (offset << 32 | size), offset from the base
          val (p, q) = (x.getLong(i), y.getLong(j))
          compareBytes(x.getBaseObject, x.getBaseOffset + (p >> 32), p.toInt,
            y.getBaseObject, y.getBaseOffset + (q >> 32), q.toInt)
        })
    case _ =>
      merge(a.numElements(), b.numElements(), a.isNullAt, b.isNullAt,
        (i, j) => a.getUTF8String(i).binaryCompare(b.getUTF8String(j)))
  }

  @inline private def merge(na: Int, nb: Int, nullA: Int => Boolean,
      nullB: Int => Boolean, cmp: (Int, Int) => Int): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      if (nullA(i)) i += 1
      else if (nullB(j)) j += 1
      else {
        val c = cmp(i, j)
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }

  /** Unsigned lexicographic byte order, then length — UTF8String's
    * `binaryCompare` — eight bytes at a time.
    */
  private def compareBytes(lb: AnyRef, lo: Long, ln: Int,
      rb: AnyRef, ro: Long, rn: Int): Int = {
    val len = math.min(ln, rn)
    var k = 0
    while (k + 8 <= len) {
      val l = Platform.getLong(lb, lo + k)
      val r = Platform.getLong(rb, ro + k)
      if (l != r) return if (LittleEndian)
        java.lang.Long.compareUnsigned(java.lang.Long.reverseBytes(l),
          java.lang.Long.reverseBytes(r))
      else java.lang.Long.compareUnsigned(l, r)
      k += 8
    }
    while (k < len) {
      val d = (Platform.getByte(lb, lo + k) & 0xff) -
        (Platform.getByte(rb, ro + k) & 0xff)
      if (d != 0) return d
      k += 1
    }
    ln - rn
  }

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  private val Self = "graft.functions.DedupKernels"

  /** `sea_word_shingles(text)` */
  case class WordShingles(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "sea_word_shingles"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.simpleString}")

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      shingleArray(child.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code + code"""
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          $Self.shingleArray(${c.isNull} ? null : ${c.value});""",
        isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(
        newChild: Expression): WordShingles = copy(child = newChild)
  }

  /** `sea_minhash(shingles)` */
  case class Minhash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "sea_minhash"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${t.simpleString}")
    }

    override protected def nullSafeEval(a: Any): Any =
      minimaOf(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = $Self.minimaOf($a);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)

    override protected def withNewChildInternal(
        newChild: Expression): Minhash = copy(child = newChild)
  }

  /** `sea_sorted_intersect_size(a, b)` */
  case class SortedIntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sea_sorted_intersect_size"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<STRING> on both sides, got " +
            s"${l.simpleString} and ${r.simpleString}")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      mergeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$Self.mergeCount($a, $b)")

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): SortedIntersectSize =
      copy(left = newLeft, right = newRight)
  }

  /** Column forms. */
  def wordShingles(text: Column): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text)))

  def minhash(shingles: Column): Column =
    ColumnBridge.column(Minhash(ColumnBridge.expression(shingles)))

  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Register the three kernels for SQL use on this session. */
  def register(spark: SparkSession): Unit = {
    def fn(name: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => {
          if (exprs.length != arity)
            throw new IllegalArgumentException(
              s"$name requires exactly $arity argument(s), got ${exprs.length}")
          build(exprs)
        }, "built-in")
    fn("sea_word_shingles", 1)(e => WordShingles(e.head))
    fn("sea_minhash", 1)(e => Minhash(e.head))
    fn("sea_sorted_intersect_size", 2)(e => SortedIntersectSize(e.head, e(1)))
  }
}
