package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Mergeable quantile sketches (KLL, Karnin-Lang-Liberty FOCS'16) —
  * the quantile complement to the theta-distinct family: exact
  * quantiles (Ranking) need a full sort per query, but a KLL sketch is
  * ~KB of state, merges associatively (map-side partial aggregation,
  * day→month rollups), and answers any quantile later without
  * rescanning raw data. Normalized rank error ≈1.65% at the default
  * k=200 — spec-tested against exact ranks.
  */
private[functions] object KllUpdates {
  def toDouble(dt: DataType, v: Any): Double = dt match {
    case DoubleType  => v.asInstanceOf[Double]
    case FloatType   => v.asInstanceOf[Float].toDouble
    case LongType    => v.asInstanceOf[Long].toDouble
    case IntegerType => v.asInstanceOf[Int].toDouble
    case ShortType   => v.asInstanceOf[Short].toDouble
    case ByteType    => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case other => throw new UnsupportedOperationException(
      s"kll sketch: unsupported input type $other")
  }
}

/** Aggregates raw numeric values into a SERIALIZED KLL sketch (binary
  * column) — one row per (entity, period) in a summary table.
  */
case class KllSketchBuild(
    child: Expression,
    k: Int = KllFunctions.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch] {
  KllFunctions.checkK(k)
  override def prettyName: String = "graft_kll_sketch"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def update(buffer: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(KllUpdates.toDouble(child.dataType, v))
    buffer
  }
  override def merge(buffer: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other); buffer
  }
  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray
  override def serialize(buffer: KllDoublesSketch): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))
  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Merges STORED KLL sketches (binary column) into one sketch — the
  * rollup half (day → month → year): re-emits binary so rollups chain.
  */
case class KllSketchMerge(
    child: Expression,
    k: Int = KllFunctions.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch] {
  KllFunctions.checkK(k)
  override def prettyName: String = "graft_kll_union"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FreqSerde.checkBinary(prettyName, child.dataType)
  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def update(buffer: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null)
      buffer.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }
  override def merge(buffer: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other); buffer
  }
  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray
  override def serialize(buffer: KllDoublesSketch): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))
  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Scalar: quantile `q` of ONE stored sketch row (binary → double).
  * Reading a stored summary row is not a hot codegen path —
  * CodegenFallback keeps it simple; NULL for empty sketches.
  */
case class KllQuantile(child: Expression, q: Double)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_kll_quantile"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FreqSerde.checkBinary(prettyName, child.dataType)
  override def nullSafeEval(v: Any): Any = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null else sk.getQuantile(q)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KllFunctions {
  /** DataSketches' default k (≈1.65% rank error). `k` is the
    * accuracy/state budget AND the exactness switch: a KLL sketch
    * retains every value while n ≤ k (no compaction has fired), so
    * with k chosen ≥ the per-group row count the sketch IS the sorted
    * sample and `getQuantile` returns the exact order statistic —
    * matching DuckDB's `quantile_disc` value-for-value (both follow
    * the inclusive convention: smallest v with #(≤v)/n ≥ rank;
    * probed on ties/singletons/extreme ranks). That is what makes
    * q58's rollup hash-checkable (the q63 pattern).
    */
  val DefaultK = 200
  val MaxK = 65535
  private[functions] def checkK(k: Int): Unit =
    require(k >= 8 && k <= MaxK, s"kll k must be in [8, $MaxK], got $k")

  private def kArg(name: String, exprs: Seq[Expression]): Int =
    if (exprs.length == 2) SqlFunction.intArg(name, "k", exprs(1)) else DefaultK

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[KllSketchBuild]("graft_kll_sketch", 1, 2)(e =>
      KllSketchBuild(e.head, kArg("graft_kll_sketch", e)).toAggregateExpression()),
    SqlFunction.of[KllSketchMerge]("graft_kll_union", 1, 2)(e =>
      KllSketchMerge(e.head, kArg("graft_kll_union", e)).toAggregateExpression()),
    SqlFunction.of[KllQuantile]("graft_kll_quantile", 2)(e =>
      KllQuantile(e.head, quantileArg(e(1)))))

  /** The rank literal, validated at ANALYSIS time, not per row on the
    * executors. Foldable, not only a Literal: the builder runs before
    * constant folding, so CAST(0.5 AS DOUBLE) arrives unfolded.
    */
  private def quantileArg(arg: Expression): Double = {
    def fail(got: Any): Nothing = throw new IllegalArgumentException(
      s"graft_kll_quantile: q must be a numeric literal, got $got")
    val v = if (arg.foldable) arg.eval() else fail(arg)
    if (v == null) fail("NULL")
    if (!arg.dataType.isInstanceOf[NumericType]) fail(arg)
    checkQ(v.toString.toDouble)
  }

  private def checkQ(q: Double): Double = {
    // NaN compares false against both bounds, so reject it explicitly —
    // otherwise CAST('NaN' AS DOUBLE) reaches getQuantile at runtime
    if (q.isNaN || q < 0.0 || q > 1.0)
      throw new IllegalArgumentException(
        s"graft_kll_quantile: q must be in [0, 1], got $q")
    q
  }

  def kllSketch(c: Column, k: Int = DefaultK): Column =
    column(KllSketchBuild(expression(c), k).toAggregateExpression())

  def kllUnion(c: Column, k: Int = DefaultK): Column =
    column(KllSketchMerge(expression(c), k).toAggregateExpression())

  def kllQuantile(sketch: Column, q: Double): Column =
    column(KllQuantile(expression(sketch), checkQ(q)))
}
