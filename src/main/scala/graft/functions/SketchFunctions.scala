package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Approximate distinct count as a mergeable Theta sketch — a custom
  * `TypedImperativeAggregate` over the DataSketches library that ships
  * with Spark.
  *
  * Why this shape at 100 TB: exact `count(distinct x)` shuffles every
  * distinct value; a theta sketch caps the per-group state at ~KBs,
  * merges associatively across partitions (map-side partial
  * aggregation works), and — unlike `approx_count_distinct`'s HLL —
  * sketches can later be UNIONed across groups/days or intersected,
  * which is what corpus bookkeeping pipelines do with them.
  *
  * `lgK` (log2 of nominal entries, DataSketches default 12) is the
  * accuracy/state budget, exposed because it defines TWO regimes:
  *  - EXACT: while the number of distinct hashes stays under the
  *    nominal capacity the sketch never samples (theta = 1), every
  *    retained hash is kept, and the estimate IS the true distinct
  *    count — a deterministic integer a SQL oracle can replay with
  *    `COUNT(DISTINCT x)` (the q63 pattern; makes q40/q52
  *    hash-checkable);
  *  - estimation: past capacity, ±2% relative error at lgK=12,
  *    spec-tested in OperatorSpec.
  */
private[functions] object ThetaLg {
  val Default = 12
  def check(lgK: Int): Unit =
    require(lgK >= 4 && lgK <= 26, s"theta lgK must be in [4, 26], got $lgK")
  def union(lgK: Int): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
}

case class ThetaSketchDistinct(
    child: Expression,
    lgK: Int = ThetaLg.Default,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {
  ThetaLg.check(lgK)

  override def prettyName: String = "graft_theta_distinct"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Union = ThetaLg.union(lgK)

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) ThetaUpdates.update(buffer, child.dataType, v)
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any =
    math.round(buffer.getResult.getEstimate)

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(CompactSketch.wrap(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Shared raw-value → sketch update dispatch. */
private[functions] object ThetaUpdates {
  def update(buffer: Union, dt: DataType, v: Any): Unit = dt match {
    case StringType  => buffer.update(v.asInstanceOf[UTF8String].toString)
    case LongType    => buffer.update(v.asInstanceOf[Long])
    case IntegerType => buffer.update(v.asInstanceOf[Int].toLong)
    case ShortType   => buffer.update(v.asInstanceOf[Short].toLong)
    case DoubleType  => buffer.update(v.asInstanceOf[Double])
    case FloatType   => buffer.update(v.asInstanceOf[Float].toDouble)
    case BinaryType  => buffer.update(v.asInstanceOf[Array[Byte]])
    case DateType    => buffer.update(v.asInstanceOf[Int].toLong)
    case TimestampType | TimestampNTZType => buffer.update(v.asInstanceOf[Long])
    case other => throw new UnsupportedOperationException(
      s"theta sketch: unsupported input type $other")
  }
}

/** Aggregates raw values into a SERIALIZED theta sketch (binary
  * column) — the buildable half of incremental distinct maintenance:
  * a summary table stores one sketch per (entity, period) row, and new
  * periods append without touching history.
  */
case class ThetaSketchBuild(
    child: Expression,
    lgK: Int = ThetaLg.Default,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {
  ThetaLg.check(lgK)
  override def prettyName: String = "graft_theta_sketch"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): Union = ThetaLg.union(lgK)
  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) ThetaUpdates.update(buffer, child.dataType, v)
    buffer
  }
  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult); buffer
  }
  override def eval(buffer: Union): Any = buffer.getResult.toByteArray
  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(CompactSketch.wrap(Memory.wrap(bytes)))
    u
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Merges STORED sketches (binary column): the queryable half —
  * distinct count over any period/entity slice is a union of
  * kilobyte-sized summaries, never a rescan of the raw data.
  * `emitBinary=true` re-emits the merged sketch (multi-level rollups:
  * day → month → year); false emits the estimate. The union's own
  * `lgK` bounds the MERGED state — exactness of a rollup needs the
  * union capacity to cover the combined distinct count, not just each
  * input sketch's.
  */
case class ThetaSketchMerge(
    child: Expression,
    emitBinary: Boolean,
    lgK: Int = ThetaLg.Default,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {
  ThetaLg.check(lgK)
  override def prettyName: String =
    if (emitBinary) "graft_theta_union_sketch" else "graft_theta_union"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = if (emitBinary) BinaryType else LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FreqSerde.checkBinary(prettyName, child.dataType)
  override def createAggregationBuffer(): Union = ThetaLg.union(lgK)
  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null)
      buffer.union(CompactSketch.wrap(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }
  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult); buffer
  }
  override def eval(buffer: Union): Any =
    if (emitBinary) buffer.getResult.toByteArray
    else math.round(buffer.getResult.getEstimate)
  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(CompactSketch.wrap(Memory.wrap(bytes)))
    u
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SketchFunctions {

  /** Every theta function takes an optional trailing lgK int literal. */
  private def lgKArg(name: String, exprs: Seq[Expression]): Int =
    if (exprs.length == 2) SqlFunction.intArg(name, "lgK", exprs(1)) else ThetaLg.Default

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[ThetaSketchDistinct]("graft_theta_distinct", 1, 2)(e =>
      ThetaSketchDistinct(e.head, lgKArg("graft_theta_distinct", e)).toAggregateExpression()),
    SqlFunction.of[ThetaSketchBuild]("graft_theta_sketch", 1, 2)(e =>
      ThetaSketchBuild(e.head, lgKArg("graft_theta_sketch", e)).toAggregateExpression()),
    SqlFunction.of[ThetaSketchMerge]("graft_theta_union", 1, 2)(e =>
      ThetaSketchMerge(e.head, emitBinary = false, lgKArg("graft_theta_union", e))
        .toAggregateExpression()),
    SqlFunction.of[ThetaSketchMerge]("graft_theta_union_sketch", 1, 2)(e =>
      ThetaSketchMerge(e.head, emitBinary = true, lgKArg("graft_theta_union_sketch", e))
        .toAggregateExpression()))

  def thetaDistinct(c: Column, lgK: Int = ThetaLg.Default): Column =
    column(ThetaSketchDistinct(expression(c), lgK).toAggregateExpression())

  def thetaSketch(c: Column, lgK: Int = ThetaLg.Default): Column =
    column(ThetaSketchBuild(expression(c), lgK).toAggregateExpression())

  def thetaUnion(c: Column, lgK: Int = ThetaLg.Default): Column =
    column(ThetaSketchMerge(expression(c), emitBinary = false, lgK).toAggregateExpression())

  def thetaUnionSketch(c: Column, lgK: Int = ThetaLg.Default): Column =
    column(ThetaSketchMerge(expression(c), emitBinary = true, lgK).toAggregateExpression())
}
