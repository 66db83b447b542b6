package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types._

/** Exact fixed-scale decimal aggregation over a two-long int128
  * accumulator.
  *
  * Spark's built-in `sum(DECIMAL(18,2))` promotes the accumulator to
  * DECIMAL(28,2); precision 28 no longer fits the compact long
  * representation, so every row update round-trips through a boxed
  * `java.math.BigDecimal` — measured at ~3× the cost of a primitive
  * sum on the TPC-H-style star aggregates (BENCHNOTES_r6), which are
  * exactly the queries a 100 TB cluster runs all day. DuckDB (the
  * reference's engine, component.py delegates all SQL to it) sums
  * decimals in native int128 and pays no such tax.
  *
  * `DecimalSum128` closes that gap Spark-natively: the aggregation
  * buffer is two primitive longs (a signed 128-bit integer holding the
  * unscaled sum) plus two booleans (seen-any-input, overflow-latch).
  * All four live as fixed-width primitives in the UnsafeRow hash-agg
  * buffer, and every update/merge expression is built from codegen'd
  * long arithmetic (add, bitwise carry/overflow detection) — the whole
  * aggregate stays inside whole-stage codegen with zero allocation per
  * row. Only the once-per-group finish converts (hi, lo) back to a
  * `Decimal`.
  *
  * `DecimalSumProduct128` extends the same idea to
  * `SUM(a * b[ * c])` — the TPC-H revenue/charge shape — computing the
  * full 128-bit product of the unscaled longs per row
  * (`Math.multiplyHigh` for the high word) and accumulating in int128,
  * so the per-row `Decimal` multiply AND the boxed sum both disappear.
  *
  * Semantics match the built-in non-ANSI `sum` exactly:
  *  - null inputs are skipped; empty input → null;
  *  - result scale = Σ input scales, precision = min(38, Σp + 10)
  *    (the built-in's sum-result rule);
  *  - a sum that overflows the result precision — or, for the product
  *    form, the int128 accumulator itself (reachable past ~1.7e38,
  *    i.e. ~10¹² max-magnitude rows) — returns null, the same
  *    "overflow under non-ANSI" contract as the built-in. The overflow
  *    latch makes the wrap case safe rather than silently wrong.
  *
  * Per-row products cannot overflow by construction: inputs are
  * restricted to precision ≤ 18 (unscaled value fits a long) and the
  * precisions must sum to ≤ 36, so |product| < 10³⁶ < 2¹²⁷.
  *
  * No reference analog (the reference ships no arithmetic of its own);
  * this is the engine-level replacement for the one measured gap vs
  * its DuckDB delegate.
  */
object DecimalFunctions {

  /** Exact `sum` over a decimal column with precision ≤ 18. */
  def decimalSum(c: Column): Column = column(DecimalSum128(expression(c)).toAggregateExpression())

  /** Exact `sum(a * b)` / `sum(a * b * c)` over decimal columns whose
    * precisions sum to ≤ 36 (each ≤ 18).
    */
  def decimalSumProduct(cs: Column*): Column = {
    require(cs.length == 2 || cs.length == 3,
      s"decimalSumProduct takes 2 or 3 columns, got ${cs.length}")
    column(DecimalSumProduct128(cs.map(expression)).toAggregateExpression())
  }

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[DecimalSum128]("graft_decimal_sum", 1)(e =>
      DecimalSum128(e(0)).toAggregateExpression()),
    SqlFunction.of[DecimalSumProduct128]("graft_decimal_sum_product", 2, 3)(e =>
      DecimalSumProduct128(e).toAggregateExpression()),
    SqlFunction.of[MoneyCastExpr]("graft_money", 3)(e => MoneyCastExpr(e(0),
      SqlFunction.intArg("graft_money", "precision", e(1)),
      SqlFunction.intArg("graft_money", "scale", e(2)))))

  /** `CAST(double AS DECIMAL(p,s))` with the boxed path reserved for
    * values that need it. See [[MoneyCastExpr]].
    */
  def moneyCast(c: Column, precision: Int, scale: Int): Column =
    column(MoneyCastExpr(expression(c), precision, scale))

  /** The exact built-in slow path of the double→decimal cast:
    * Double.toString-based BigDecimal (Decimal(d) goes through
    * java.math.BigDecimal.valueOf), HALF_UP re-scale, null on
    * overflow/NaN/Infinity — bit-identical to non-ANSI Cast
    * (MoneyCastSpec pins it).
    */
  def moneySlow(v: Double, p: Int, s: Int): Decimal = {
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) null
    else {
      val d = Decimal(v)
      if (d.changePrecision(p, s)) d else null
    }
  }
}

/** `MoneyCastExpr(double, p, s)` ≡ `CAST(x AS DECIMAL(p,s))` (p ≤ 18,
  * non-ANSI), with the allocation tower of the built-in cast paid only
  * by values that actually need it.
  *
  * The built-in cast runs Double.toString → java.math.BigDecimal →
  * setScale → Decimal for EVERY row — measured ~1.0 s of the q10 star
  * aggregate at sf1 (4 casts × 5.9M rows; the aggregation itself is
  * 0.30 s). But money columns are fixed-point data stored as doubles:
  * for them `l = Math.round(v·10^s)` is the right unscaled long, and
  * that fact is *checkable exactly*: if `(double)(l / 10^s) == v` then
  * v is the closest double to the 2-decimal value l/10^s, the shortest
  * decimal representation Double.toString would emit identifies the
  * same value, and HALF_UP re-scaling reproduces l — so emitting
  * `Decimal.createUnsafe(l, p, s)` is bit-identical to the built-in
  * cast with zero heavy allocation. Every value the check rejects
  * (extra decimals, NaN/Inf, magnitude past 10^p, past the 2^51
  * uniqueness bound, or past 2^63) takes
  * the built-in's own path via [[DecimalFunctions.moneySlow]].
  * MoneyCastSpec pins agreement on adversarial doubles (2.675-style
  * binary-vs-shortest-repr traps included).
  */
case class MoneyCastExpr(child: Expression, precision: Int, scale: Int)
    extends UnaryExpression {
  require(precision >= 1 && precision <= 18 && scale >= 0 && scale <= precision,
    s"money cast needs 1 <= precision <= 18, 0 <= scale <= precision; got ($precision,$scale)")
  private val factor: Double = math.pow(10, scale)
  private val maxUnscaled: Long = {
    var m = 1L; var i = 0
    while (i < precision) { m *= 10; i += 1 }
    // the round-trip check proves uniqueness only while the double
    // grid is finer than the decimal grid: at |f| <= 2^51,
    // ulp(v) <= 10^-s/2, so v's rounding interval contains at most
    // one scale-s value and `(double) f / 10^s == v` identifies it.
    // Past that (|money| > ~22.5 trillion at s=2) several scaled
    // longs round-trip to the same double and shortest-repr choice
    // takes over -> slow path.
    math.min(m - 1, 1L << 51)
  }
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_money"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a double column, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    val f = Math.round(v * factor)
    if ((f.toDouble) / factor == v && f <= maxUnscaled && f >= -maxUnscaled)
      Decimal.createUnsafe(f, precision, scale)
    else DecimalFunctions.moneySlow(v, precision, scale)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""long f = Math.round($v * ${factor}D);
         |if (((double) f) / ${factor}D == $v && f <= ${maxUnscaled}L && f >= -${maxUnscaled}L) {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.createUnsafe(f, $precision, $scale);
         |} else {
         |  org.apache.spark.sql.types.Decimal r =
         |    graft.functions.DecimalFunctions.moneySlow($v, $precision, $scale);
         |  if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
         |}
         |""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MoneyCastExpr =
    copy(child = newChild)
}

/** `ScaledLongExpr(double, p, s)` ≡
  * `UnscaledValue(CAST(x AS DECIMAL(p,s)))` — the unscaled long of the
  * money cast with no `Decimal` materialized at all. Same fast-path
  * proof and slow-path delegation as [[MoneyCastExpr]]; null exactly
  * when the cast nulls.
  */
case class ScaledLongExpr(child: Expression, precision: Int, scale: Int)
    extends UnaryExpression {
  require(precision >= 1 && precision <= 18 && scale >= 0 && scale <= precision,
    s"scaled long needs 1 <= precision <= 18, 0 <= scale <= precision; got ($precision,$scale)")
  private val factor: Double = math.pow(10, scale)
  private val maxUnscaled: Long = {
    var m = 1L; var i = 0
    while (i < precision) { m *= 10; i += 1 }
    math.min(m - 1, 1L << 51) // uniqueness bound — see MoneyCastExpr
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_scaled_long"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a double column, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    val f = Math.round(v * factor)
    if ((f.toDouble) / factor == v && f <= maxUnscaled && f >= -maxUnscaled)
      java.lang.Long.valueOf(f)
    else {
      val d = DecimalFunctions.moneySlow(v, precision, scale)
      if (d == null) null else java.lang.Long.valueOf(d.toUnscaledLong)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""long f = Math.round($v * ${factor}D);
         |if (((double) f) / ${factor}D == $v && f <= ${maxUnscaled}L && f >= -${maxUnscaled}L) {
         |  ${ev.value} = f;
         |} else {
         |  org.apache.spark.sql.types.Decimal r =
         |    graft.functions.DecimalFunctions.moneySlow($v, $precision, $scale);
         |  if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.toUnscaledLong(); }
         |}
         |""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ScaledLongExpr =
    copy(child = newChild)
}

/** Rewrites a decimal-typed aggregate input into its unscaled-long
  * form, fusing money casts so the hot update loop is pure long
  * arithmetic with ZERO `Decimal` objects:
  *
  *   unscaled(MoneyCast(x, p, s))          = ScaledLong(x, p, s)
  *   unscaled(Cast(d, widerSameScale))     = unscaled(d)   (widening
  *     precision at equal scale leaves the unscaled value unchanged)
  *   unscaled(CheckOverflow(e, t))         = unscaled(e) when t is the
  *     analyzer's exact result type for e (max(p1,p2)+1 at equal
  *     scale), i.e. the check cannot fire
  *   unscaled(a ± b) at equal scale        = unscaled(a) ± unscaled(b)
  *     in longs (|values| < 10^18 each, so the long op is exact)
  *   unscaled(decimal literal)             = its unscaled long
  *   unscaled(anything else)               = UnscaledValue(e)
  *
  * Every rule preserves value AND nullability exactly (a null factor
  * stays null through long arithmetic), so the aggregate semantics —
  * pinned by DecimalSumSpec against the built-in `sum` — are
  * untouched; expressions the rules don't cover simply keep the
  * generic `UnscaledValue` path.
  */
private[functions] object UnscaledOf {
  private def scaleOf(e: Expression): Option[Int] = e.dataType match {
    case d: DecimalType => Some(d.scale)
    case _ => None
  }
  private def precOf(e: Expression): Int =
    e.dataType.asInstanceOf[DecimalType].precision
  private def addSub(e: Expression): Option[(Expression, Expression)] = e match {
    case Add(a, b, _) => Some((a, b))
    case Subtract(a, b, _) => Some((a, b))
    case _ => None
  }
  /** both operands decimal at equal scale, small enough that the long
    * op is exact (|unscaled| ≤ 10^17 each → sum within long range)
    */
  private def fusableAddSub(a: Expression, b: Expression): Boolean =
    scaleOf(a).isDefined && scaleOf(a) == scaleOf(b) &&
      precOf(a) <= 17 && precOf(b) <= 17

  def apply(e: Expression): Expression = e match {
    case m: MoneyCastExpr => ScaledLongExpr(m.child, m.precision, m.scale)
    case Cast(inner, dt: DecimalType, _, _) if scaleOf(inner).contains(dt.scale) &&
        precOf(inner) <= dt.precision =>
      apply(inner)
    case co @ CheckOverflow(inner, dt, _) =>
      addSub(inner) match {
        case Some((a, b)) if scaleOf(a).contains(dt.scale) &&
            scaleOf(b).contains(dt.scale) && fusableAddSub(a, b) &&
            dt.precision >= math.max(precOf(a), precOf(b)) + 1 =>
          apply(inner)
        case _ => UnscaledValue(co)
      }
    case Add(a, b, _) if fusableAddSub(a, b) =>
      Add(apply(a), apply(b), EvalMode.LEGACY)
    case Subtract(a, b, _) if fusableAddSub(a, b) =>
      Subtract(apply(a), apply(b), EvalMode.LEGACY)
    case Literal(d: Decimal, _: DecimalType) => Literal(d.toUnscaledLong)
    case other => UnscaledValue(other)
  }
}

/** Shared int128 expression plumbing for the two aggregates. */
private[functions] trait Int128AggArithmetic {
  self: DeclarativeAggregate =>

  protected def add(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)
  protected def mul(l: Expression, r: Expression): Expression =
    Multiply(l, r, EvalMode.LEGACY)

  protected lazy val accHi = AttributeReference("hi", LongType, nullable = false)()
  protected lazy val accLo = AttributeReference("lo", LongType, nullable = false)()
  protected lazy val accEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()
  protected lazy val accOvf =
    AttributeReference("overflow", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(accHi, accLo, accEmpty, accOvf)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true), Literal(false))

  /** (newHi, newLo, overflowedThisAdd) of signed-128 `acc + (vHi, vLo)`.
    *
    * Carry out of the low word via the standard bitwise
    * majority-of-(a, b, ¬sum) formula; signed overflow of the high word
    * via the two's-complement `(~(a^b) & (a^s)) < 0` test, which is
    * exact for add-with-carry-in as well (operands of differing sign
    * can never overflow regardless of carry).
    */
  protected def add128(
      hi: Expression, lo: Expression,
      vHi: Expression, vLo: Expression): (Expression, Expression, Expression) = {
    val newLo = add(lo, vLo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(
        BitwiseAnd(lo, vLo),
        BitwiseAnd(BitwiseOr(lo, vLo), BitwiseNot(newLo))),
      Literal(63))
    val newHi = add(add(hi, vHi), carry)
    val ovf = LessThan(
      BitwiseAnd(BitwiseNot(BitwiseXor(hi, vHi)), BitwiseXor(hi, newHi)),
      Literal(0L))
    (newHi, newLo, ovf)
  }

  protected def mergeWith(vHi: Expression, vLo: Expression,
      otherEmpty: Expression, otherOvf: Expression): Seq[Expression] = {
    val (nHi, nLo, aOvf) = add128(accHi.left, accLo.left, vHi, vLo)
    Seq(nHi, nLo, And(accEmpty.left, otherEmpty), Or(Or(accOvf.left, otherOvf), aOvf))
  }

  protected def finish(resultType: DecimalType): Expression =
    If(Or(accEmpty, accOvf),
      Literal(null, resultType),
      Long128ToDecimal(accHi, accLo, resultType.precision, resultType.scale))
}

/** Exact int128 `sum` for `DecimalType(p ≤ 18, s)` inputs. */
case class DecimalSum128(child: Expression)
    extends DeclarativeAggregate with Int128AggArithmetic {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DecimalSum128 =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_decimal_sum"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_decimal_sum requires DECIMAL(p <= 18, s) input " +
        s"(unscaled value must fit a long), got ${other.catalogString}")
  }

  private lazy val inType = child.dataType.asInstanceOf[DecimalType]
  override lazy val dataType: DecimalType =
    DecimalType(
      math.min(DecimalType.MAX_PRECISION, inType.precision + 10), inType.scale)

  override lazy val updateExpressions: Seq[Expression] = {
    // money casts fuse to pure long arithmetic (UnscaledOf); null
    // input contributes an exact zero — branch-free skip
    val sl = UnscaledOf(child)
    val x = If(IsNull(sl), Literal(0L), sl)
    val (nHi, nLo, aOvf) = add128(accHi, accLo, ShiftRight(x, Literal(63)), x)
    Seq(nHi, nLo, And(accEmpty, IsNull(sl)), Or(accOvf, aOvf))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    mergeWith(accHi.right, accLo.right, accEmpty.right, accOvf.right)

  override lazy val evaluateExpression: Expression = finish(dataType)
}

/** Exact int128 `sum(a * b[ * c])` for decimal inputs whose precisions
  * sum to ≤ 36 (each ≤ 18) — the TPC-H revenue/charge aggregate shape.
  * The per-row product is computed in full 128-bit integer arithmetic
  * from the unscaled longs (`Math.multiplyHigh` high word; the
  * signed-128 × signed-64 step for the 3-ary form uses
  * hi·b + mulHigh(lo, b) + ((lo >> 63) & b), exact mod 2¹²⁸).
  */
case class DecimalSumProduct128(children: Seq[Expression])
    extends DeclarativeAggregate with Int128AggArithmetic {

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DecimalSumProduct128 =
    copy(children = newChildren)

  override def prettyName: String = "graft_decimal_sum_product"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length < 2 || children.length > 3)
      TypeCheckResult.TypeCheckFailure(
        s"graft_decimal_sum_product takes 2 or 3 decimal arguments, " +
          s"got ${children.length}")
    else if (!children.forall(_.dataType.isInstanceOf[DecimalType]))
      TypeCheckResult.TypeCheckFailure(
        "graft_decimal_sum_product requires decimal arguments, got (" +
          children.map(_.dataType.catalogString).mkString(", ") + ")")
    else {
      val ps: Seq[Int] =
        children.map(_.dataType.asInstanceOf[DecimalType].precision)
      if (ps.exists(_ > Decimal.MAX_LONG_DIGITS))
        TypeCheckResult.TypeCheckFailure(
          "each argument needs precision <= 18 (unscaled value must fit a long)")
      else if (ps.sum > 36)
        TypeCheckResult.TypeCheckFailure(
          s"argument precisions sum to ${ps.sum} > 36; the per-row product " +
            "could exceed int128")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  private lazy val inTypes = children.map(_.dataType.asInstanceOf[DecimalType])
  override lazy val dataType: DecimalType = DecimalType(
    math.min(DecimalType.MAX_PRECISION, inTypes.map(_.precision).sum + 10),
    inTypes.map(_.scale).sum)

  override lazy val updateExpressions: Seq[Expression] = {
    // money casts fuse to pure long arithmetic (UnscaledOf); the
    // null test runs on the fused form so a cast that nulls (NaN,
    // overflow) skips the row exactly like the decimal path did
    val sls = children.map(UnscaledOf(_))
    val anyNull = sls.map(IsNull).reduce[Expression](Or(_, _))
    // a null factor zeroes the whole row's contribution (skip)
    val xs = sls.map(sl => If(anyNull, Literal(0L), sl))
    val pLo = mul(xs.head, xs(1))
    val pHi = MultiplyHigh(xs.head, xs(1))
    val (vHi, vLo) = if (xs.length == 2) (pHi, pLo) else {
      val z = xs(2)
      // (pHi, pLo) × z, exact mod 2^128 (result < 2^127 by precision bound)
      val qLo = mul(pLo, z)
      val qHi = add(add(mul(pHi, z), MultiplyHigh(pLo, z)),
        BitwiseAnd(ShiftRight(pLo, Literal(63)), z))
      (qHi, qLo)
    }
    val (nHi, nLo, aOvf) = add128(accHi, accLo, vHi, vLo)
    Seq(nHi, nLo, And(accEmpty, anyNull), Or(accOvf, aOvf))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    mergeWith(accHi.right, accLo.right, accEmpty.right, accOvf.right)

  override lazy val evaluateExpression: Expression = finish(dataType)
}

/** High 64 bits of the signed 128-bit product of two longs — one
  * `Math.multiplyHigh` instruction under codegen (HotSpot intrinsifies
  * it to `mulh`/`umulh`-class hardware multiplies).
  */
case class MultiplyHigh(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_multiply_high requires (bigint, bigint) arguments")
  override def prettyName: String = "graft_multiply_high"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Math.multiplyHigh(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = java.lang.Math.multiplyHigh($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiplyHigh =
    copy(left = newLeft, right = newRight)
}

/** Converts a signed int128 (hi, lo) unscaled value back to a
  * `Decimal(precision, scale)` — the once-per-group aggregate finish.
  * Returns null when the exact value needs more digits than
  * `precision` (the non-ANSI sum-overflow contract).
  */
case class Long128ToDecimal(hi: Expression, lo: Expression,
    precision: Int, scale: Int)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int128_to_decimal"

  override protected def nullSafeEval(h: Any, l: Any): Any =
    Decimal128.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long],
      precision, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) => {
      s"""
         |${ev.value} = graft.functions.Decimal128$$.MODULE$$.toDecimal(
         |  $h, $l, $precision, $scale);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Long128ToDecimal =
    copy(hi = newLeft, lo = newRight)
}

object Decimal128 {
  private val Mask64 = java.math.BigInteger.ONE.shiftLeft(64)
    .subtract(java.math.BigInteger.ONE)

  /** (hi·2⁶⁴ + lo-as-unsigned) as a Decimal, or null past `precision`. */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    val unscaled = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(lo).and(Mask64))
    val bd = new java.math.BigDecimal(unscaled, scale)
    if (bd.precision > precision) null
    else Decimal(BigDecimal(bd), precision, scale)
  }
}
