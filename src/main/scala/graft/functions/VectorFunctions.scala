package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector kernels.
  *
  * `CosineSimilarity` is a native Catalyst expression with codegen —
  * the scalar hot loop of every similarity/dedup operator. At 100 TB
  * the distance kernel runs trillions of times; a codegen'd tight
  * `double` loop stays inside whole-stage codegen, where a Scala UDF
  * (ser/de per row) or higher-order-function composition
  * (CodegenFallback) would dominate the profile.
  *
  * The reference delegates all compute to DuckDB/Databricks and has no
  * vector ops; these back the mandated extension operators
  * (SURVEY.md §7.5). Accumulation is sequential in `double`, matching
  * the oracle's `list_cosine_similarity` over `DOUBLE[]`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lg, rg) = (readerOf(leftElem), readerOf(rightElem))
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = lg(x, i); val yv = rg(y, i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${elemGet(a, i, leftElem)};
         |  double $yv = ${elemGet(b, i, rightElem)};
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over double arrays — same codegen posture as cosine. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lg, rg) = (readerOf(leftElem), readerOf(rightElem))
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += lg(x, i) * rg(y, i); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${elemGet(a, i, leftElem)} * ${elemGet(b, i, rightElem)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared float/double adaptivity for the vector kernels. Embeddings
  * land from parquet as array<float>; computing in double FROM the
  * float elements is bit-identical to casting the array up first
  * (float→double widening is exact), but skips a per-EVALUATION
  * array<double> materialization — inside a broadcast nested-loop
  * join that cast allocated two 64-element arrays per candidate PAIR
  * and dominated the kernel's own arithmetic.
  */
private[functions] object VectorElem {
  // Any numeric element type is consumed natively, each widened to
  // double in-loop — semantically identical to casting the array to
  // array<double> first (what integer-array SQL callers relied on
  // before the float-native rework narrowed the signature), minus the
  // per-row array materialization that cast paid.
  def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(et @ (FloatType | DoubleType | IntegerType | LongType |
                         ShortType | ByteType), _) => Some(et)
    case _ => None
  }
  def elemGet(arr: String, i: String, et: DataType): String = et match {
    case DoubleType => s"$arr.getDouble($i)"
    case FloatType  => s"(double) $arr.getFloat($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType   => s"(double) $arr.getLong($i)"
    case ShortType  => s"(double) $arr.getShort($i)"
    case ByteType   => s"(double) $arr.getByte($i)"
  }

  /** Interpreted-path element reader (codegen is the hot path; this
    * backs eval-only contexts like constant folding).
    */
  def readerOf(et: DataType): (ArrayData, Int) => Double = et match {
    case DoubleType => (a, i) => a.getDouble(i)
    case FloatType  => (a, i) => a.getFloat(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType   => (a, i) => a.getLong(i).toDouble
    case ShortType  => (a, i) => a.getShort(i).toDouble
    case ByteType   => (a, i) => a.getByte(i).toDouble
  }
}

private[functions] trait VectorKernel { self: BinaryExpression =>
  protected def leftElem: DataType = VectorElem.elemType(left.dataType).get
  protected def rightElem: DataType = VectorElem.elemType(right.dataType).get
  protected def elemGet(arr: String, i: String, et: DataType): String =
    VectorElem.elemGet(arr, i, et)
  protected def readerOf(et: DataType): (ArrayData, Int) => Double =
    VectorElem.readerOf(et)
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorElem.elemType(left.dataType).isDefined &&
        VectorElem.elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects numeric array inputs, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
}

/** L2 norm (sqrt of the sum of squares) — the per-SIDE half of the
  * cosine denominator, codegen'd. Computing it once per row lets pair
  * scorers run a dot-only loop: `dot/(norm_a*norm_b)` with norms from
  * this kernel is BIT-identical to `graft_cosine` (same left-to-right
  * accumulation, same `sqrt(nx)*sqrt(ny)` product, same zero guard on
  * the caller side), at one third of the per-pair arithmetic. On a
  * probes × corpus scorer the norms amortize over every pair the row
  * participates in.
  */
case class Norm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm2"
  private def elem: DataType = VectorElem.elemType(child.dataType).get

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorElem.elemType(child.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a numeric array input, got ${child.dataType.sql}")

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VectorElem.readerOf(elem)
    var nx = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) { val v = g(x, i); nx += v * v; i += 1 }
    math.sqrt(nx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val nx = ctx.freshName("nx"); val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $nx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ${VectorElem.elemGet(a, i, elem)};
         |  $nx += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($nx);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[CosineSimilarity]("graft_cosine", 2)(e => CosineSimilarity(e(0), e(1))),
    SqlFunction.of[DotProduct]("graft_dot", 2)(e => DotProduct(e(0), e(1))),
    SqlFunction.of[Norm2]("graft_norm2", 1)(e => Norm2(e(0))))

  /** Cosine similarity computed in double. Float arrays are consumed
    * natively (exact widening inside the kernel loop — no per-row
    * array<double> materialization); see [[VectorKernel]].
    */
  def cosine(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  /** Codegen'd L2 norm — the per-side cosine denominator half (see
    * [[Norm2]]); pair scorers combine it with [[dot]] for a one-loop
    * per-pair kernel that is bit-identical to [[cosine]].
    */
  def norm2(c: Column): Column = column(Norm2(expression(c)))
}
