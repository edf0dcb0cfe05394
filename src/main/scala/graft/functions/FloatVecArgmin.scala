package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StructType}

/** Packed-long ARGMIN of a float vector against a k-bounded centroid array —
  * the ROW-LOCAL assignment idiom, as a whole-stage-codegen expression.
  *
  * `left` is the vector (ARRAY<FLOAT>); `right` is the centroid array
  * (ARRAY<STRUCT<id BIGINT, vec ARRAY<FLOAT>>> — field NAMES are free, the
  * first two ordinals are the contract). The result replicates bit-for-bit
  * the fold
  *
  * {{{
  * aggregate(cs, 9223372036854775807L, (acc, c) -> least(acc,
  *   CAST(round(round(sea_fdist2_exact(emb, c.vec), 6) * 1e6) AS BIGINT)
  *     * 1048576 + c.id))
  * }}}
  *
  * i.e. [[FloatVecDecimal]]'s exact-decimal squared-L2 distance per
  * centroid, Spark's HALF_UP `round` to the 6-dp grid, the packedArgmin
  * pack (key grid in the high bits, 20-bit id field, min ⇒ smaller-id
  * tie-break), `least`'s null-skip (a NULL distance — length mismatch,
  * null element, overflow — skips that centroid), and the fold's
  * Long.MaxValue identity when the array is empty or every distance is
  * NULL. FloatVecArgminSpec pins the equality against the interpreted
  * fold form, near-exact ties and null shapes included.
  *
  * Why it exists: the interpreted `aggregate` lambda costs more per row
  * than the corpus-keyed exchange it removes (measured at sf0.1 this
  * round: c4 1.73→3.86 s, s9 2.69→6.99 s under the HOF form) — the same
  * reason FloatVecDecimal replaced `aggregate(zip_with(...))`.
  *
  * Why it is FAST (the d5 prefilter discipline applied to assignment):
  * the exact-decimal distance costs ~650 ns/dim (BigDecimal.valueOf is a
  * Double.toString per term), and an argmin needs the EXACT value only
  * for centroids that can win. Pass 1 scores every centroid with a plain
  * double sum (~ns/dim); pass 2 runs the exact decimal distance only for
  * centroids that can still be within [[Margin]] of the approximate
  * minimum once both sums are widened by their worst-case error
  * ([[slack]]: the n-term double sum is off by at most ~n·2⁻⁵³·s, the
  * decimal steps by ~n·1e-14), plus any centroid whose approximate pass
  * looked numerically suspicious — non-finite sums, and sums at or above
  * [[ExactAbove]], where the 6-dp key no longer fits the pack's high bits
  * and the packed order stops following the distance order. A centroid
  * can only influence the result — win outright or steal the 6-dp-grid
  * tie-break — if its exact distance is within 1e-6 of the exact
  * minimum, so exclusion by the double pass can never change the answer
  * at any dimension or magnitude; typically one centroid survives and the
  * BigDecimal work drops ~k×.
  */
case class FloatVecArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sea_fargmin_pk"

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = isFloatArray(left.dataType) && (right.dataType match {
      case ArrayType(st: StructType, _) if st.length >= 2 =>
        st(0).dataType == LongType && isFloatArray(st(1).dataType)
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT>, ARRAY<STRUCT<BIGINT, " +
        s"ARRAY<FLOAT>, ...>>), got ${left.dataType.simpleString} / " +
        s"${right.dataType.simpleString}")
  }

  // empty/all-null centroid arrays yield the fold identity, never NULL
  override def nullable: Boolean = left.nullable || right.nullable

  /** DECLARED non-deterministic although the math is pure — the guide
    * §4.4 duplication guard: with it deterministic, constraint inference
    * on a downstream equi-join (e.g. the k-row centroid side's
    * `centroid_id < 16`) rewrote the inferred predicate through the
    * assignment projection and inlined THIS WHOLE EXPRESSION into the
    * broadcast join condition — one extra interpreted k×dim BigDecimal
    * argmin per corpus row, plus an isnotnull copy (measured: c2
    * 7.0→16.1 s, s9 2.8→8.0 s; the r20 plan receipt showed
    * `sea_fargmin_pk(...)` literally inside `Join condition`).
    * Non-determinism forbids the optimizer from duplicating or moving
    * it, which is the entire intent; every value it feeds is computed
    * once, in the one projection that owns it.
    */
  override lazy val deterministic: Boolean = false

  /** The element struct's TRUE arity — getStruct's numFields must match
    * the physical layout exactly (UnsafeRow offsets), even though only
    * ordinals 0/1 are read.
    */
  private lazy val csFields: Int = right.dataType match {
    case ArrayType(st: StructType, _) => st.length
    case _ => 2
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVecArgmin.argminPk(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], csFields)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = FloatVecArgmin.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.argminPk($a, $b, $csFields);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecArgmin =
    copy(left = newLeft, right = newRight)
}

object FloatVecArgmin {
  /** Packing constants — MUST agree with Similarity's packedArgmin
    * (6-dp key grid in the high bits, 20-bit id field).
    */
  val IdBits = 20
  val KeyScale = 1000000d

  /** Pass-1 prefilter margin over the error-widened sums (influence
    * radius 1e-6, one extra order of headroom). */
  val Margin = 1e-5

  /** Approximate sums at or above this always re-check exactly: half the
    * distance whose 6-dp key overflows the pack's high bits. */
  val ExactAbove: Double = (1L << (63 - IdBits)).toDouble / KeyScale / 2

  /** Worst-case |double − exact| of an `n`-term squared-L2 sum `s`: the
    * recursive double sum's error (≤ (n−1)·2⁻⁵³·s, taken as n·2⁻⁵²·s) plus
    * the decimal path's per-term and per-step rounding. */
  def slack(n: Int, s: Double): Double = n * (2.3e-16 * s + 1e-14)

  /** One row's argmin — shared verbatim by eval and codegen so the two
    * paths cannot drift. Returns the packed long; Long.MaxValue when no
    * centroid qualifies (empty array / every distance NULL).
    */
  def argminPk(emb: ArrayData, cs: ArrayData, csFields: Int): Long = {
    val k = cs.numElements()
    if (k == 0) return Long.MaxValue
    val n = emb.numElements()
    // ---- pass 1: plain-double distances; NaN marks "exact would be
    // NULL, skip", -Inf marks "numerically suspicious, always re-check
    // exactly" ----
    val approx = new Array[Double](k)
    var minA = Double.PositiveInfinity
    var i = 0
    while (i < k) {
      approx(i) = Double.NaN
      if (!cs.isNullAt(i)) {
        val c = cs.getStruct(i, csFields)
        if (!c.isNullAt(0) && !c.isNullAt(1)) {
          val v = c.getArray(1)
          if (v.numElements() == n) {
            var s = 0.0
            var ok = true
            var j = 0
            while (ok && j < n) {
              if (emb.isNullAt(j) || v.isNullAt(j)) ok = false
              else {
                val d = emb.getFloat(j).toDouble - v.getFloat(j).toDouble
                val p = d * d
                // the exact form NULLs on any non-finite or ≥1e15 term —
                // mirror it so exclusion is exact-consistent
                if (java.lang.Double.isNaN(p) ||
                    java.lang.Double.isInfinite(p) || p >= 1e15) ok = false
                else s += p
              }
              j += 1
            }
            if (ok) {
              if (java.lang.Double.isNaN(s) || s >= ExactAbove)
                approx(i) = Double.NegativeInfinity // suspicious
              else {
                approx(i) = s
                if (s < minA) minA = s
              }
            }
          }
        }
      }
      i += 1
    }
    // ---- pass 2: exact decimal only where it can matter ----
    val thr = minA + slack(n, minA) + Margin // +Inf min ⇒ +Inf thr
    var best = Long.MaxValue
    i = 0
    while (i < k) {
      val a = approx(i)
      // -Inf (suspicious) always re-checks; NaN (NULL) compares false
      if (a == Double.NegativeInfinity || a - slack(n, a) <= thr) {
        val c = cs.getStruct(i, csFields)
        val d = dist2Exact(emb, c.getArray(1), n)
        if (!java.lang.Double.isNaN(d)) {
          val pk = pack(d, c.getLong(0))
          if (pk < best) best = pk
        }
      }
      i += 1
    }
    best
  }

  /** [[FloatVecDecimal]]'s exact-decimal squared-L2 (same BigDecimal
    * steps), returned as a double; NaN encodes the NULL result (length
    * mismatch, null element, non-finite term, precision overflow) so the
    * argmin can skip the centroid exactly like `least` skips NULLs.
    * (A true distance is never NaN: every term is finite and ≥ 0.)
    */
  def dist2Exact(x: ArrayData, y: ArrayData, n: Int): Double = {
    if (y.numElements() != n) return Double.NaN
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      val prod = (xv - yv) * (xv - yv)
      if (java.lang.Double.isNaN(prod) || java.lang.Double.isInfinite(prod) ||
          math.abs(prod) >= 1e15)
        return Double.NaN
      acc = acc.add(java.math.BigDecimal.valueOf(prod)
        .setScale(15, java.math.RoundingMode.HALF_UP))
        .setScale(14, java.math.RoundingMode.HALF_UP)
      if (acc.precision() > 38) return Double.NaN
      i += 1
    }
    acc.doubleValue()
  }

  /** The packedArgmin pack with Spark's exact `round` semantics:
    * round(d, 6) (BigDecimal HALF_UP, as Spark's Round on DOUBLE), then
    * round(d2r·10⁶) cast to long, shifted over the 20-bit id field.
    */
  def pack(d: Double, id: Long): Long = {
    val d2r = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val key = java.math.BigDecimal.valueOf(d2r * KeyScale)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    key.toLong * (1L << IdBits) + id
  }

  /** Row-local packed argmin (LONG pk; Long.MaxValue when no centroid
    * qualifies). `cs` must be ARRAY<STRUCT<id BIGINT, vec ARRAY<FLOAT>>>
    * by ordinal.
    */
  def pkOf(emb: Column, cs: Column): Column =
    ColumnBridge.column(FloatVecArgmin(
      ColumnBridge.expression(emb), ColumnBridge.expression(cs)))

  /** The winning id of a packed argmin; NULL for the no-centroid
    * sentinel. */
  def idOf(pk: Column): Column =
    ColumnBridge.column(FloatVecArgminId(ColumnBridge.expression(pk)))
}

/** The id field of a [[FloatVecArgmin]] pack — NULL when no centroid
  * qualified (the Long.MaxValue sentinel would otherwise decode to the
  * phantom id 2^20 − 1). One expression so the pack, which is
  * non-deterministic and so never common-subexpression-eliminated, is
  * evaluated once per row.
  */
case class FloatVecArgminId(child: Expression) extends UnaryExpression {
  private val mask = (1L << FloatVecArgmin.IdBits) - 1

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sea_fargmin_id"

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => null
    case pk: Long => if (pk == Long.MaxValue) null else pk & mask
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val pk = child.genCode(ctx)
    ev.copy(code = code"""
      ${pk.code}
      boolean ${ev.isNull} = ${pk.isNull} || ${pk.value} == ${Long.MaxValue}L;
      long ${ev.value} = ${ev.isNull} ? -1L : (${pk.value} & ${mask}L);""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): FloatVecArgminId = copy(child = newChild)
}
