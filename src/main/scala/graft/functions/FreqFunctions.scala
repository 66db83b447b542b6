package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable heavy-hitters sketches (Misra-Gries / space-saving family,
  * DataSketches `frequencies.ItemsSketch`) — the frequency complement
  * to theta (distinct) and KLL (quantiles): "which tokens/domains/
  * templates dominate this 100 TB corpus" without a full GROUP BY of
  * the vocabulary. Bounded state (`maxMapSize` counters, ~KB-MB),
  * associative merge (map-side partial aggregation, shard→corpus
  * rollups), and ε·N additive error where ε ≈ 3.5/maxMapSize.
  *
  * Two regimes, both spec-tested:
  *  - EXACT: while the number of distinct items stays under the map
  *    capacity no counter is ever purged, every estimate is the true
  *    count and the error bound is 0 — which makes the q63 query
  *    HASH-CHECKABLE against a plain GROUP BY oracle (the first
  *    sketch in the family with a full oracle, not rows-only);
  *  - lossy: past capacity, estimate ∈ [true, true + maximumError],
  *    and NO_FALSE_NEGATIVES guarantees every item with true count
  *    above the threshold is returned (FreqSketchSpec pins both the
  *    bound and the no-miss contract on a Zipf-ish stream).
  *
  * No reference analog (the reference ships no aggregation at all);
  * extension tier per SURVEY §7.5, same pattern as SketchFunctions /
  * KllFunctions.
  */
private[functions] object FreqSerde {
  val serde = new ArrayOfStringsSerDe
  def toBytes(s: ItemsSketch[String]): Array[Byte] = s.toByteArray(serde)
  def fromBytes(b: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(b), serde)

  /** Types whose string rendering is deterministic, so counting the
    * rendered item is counting the value. Binary/float/struct/array
    * are rejected at ANALYSIS time: `Array[Byte].toString` is JVM
    * identity ("[B@1a2b3c" — silently wrong counts), doubles have
    * shortest-repr traps, InternalRow.toString is representation-
    * dependent. Callers who want those must cast explicitly and own
    * the rendering.
    */
  def countable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Deterministic item rendering for a `countable` type. */
  def render(dt: DataType, v: Any): String = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case _          => v.toString // integral / boolean: stable JVM repr
  }

  def checkCountable(name: String, dt: DataType): TypeCheckResult =
    if (countable(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name: unsupported input type ${dt.catalogString} " +
        "(supported: string, integral, boolean; cast explicitly otherwise)")

  def checkBinary(name: String, dt: DataType): TypeCheckResult = dt match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name: expected a stored sketch (binary), got ${other.catalogString}")
  }
}

/** Aggregates raw string values into a serialized frequency sketch.
  * `maxMapSize` (power of 2) is the counter budget — the whole
  * accuracy/state trade in one analysis-time literal.
  */
case class FreqSketchBuild(
    child: Expression,
    maxMapSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]] {
  require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")
  override def prettyName: String = "graft_freq_sketch"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    FreqSerde.checkCountable(prettyName, child.dataType)
  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)
  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(FreqSerde.render(child.dataType, v))
    buffer
  }
  override def merge(buffer: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other); buffer
  }
  override def eval(buffer: ItemsSketch[String]): Any = FreqSerde.toBytes(buffer)
  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    FreqSerde.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSerde.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Merges STORED frequency sketches (binary column) — the rollup half
  * (shard → corpus, day → month); re-emits binary so rollups chain.
  */
case class FreqSketchMerge(
    child: Expression,
    maxMapSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ItemsSketch[String]] {
  require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")
  override def prettyName: String = "graft_freq_union"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    FreqSerde.checkBinary(prettyName, child.dataType)
  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)
  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.merge(FreqSerde.fromBytes(v.asInstanceOf[Array[Byte]]))
    buffer
  }
  override def merge(buffer: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other); buffer
  }
  override def eval(buffer: ItemsSketch[String]): Any = FreqSerde.toBytes(buffer)
  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    FreqSerde.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSerde.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Scalar: items of ONE stored sketch whose ESTIMATE is ≥ `minCount`,
  * as `array<struct<item:string, estimate:bigint>>` under
  * NO_FALSE_NEGATIVES (nothing truly frequent is missed; in the exact
  * regime the set and every estimate are exact, which is what lets
  * q63 carry a real GROUP BY oracle). A count threshold, not a top-k
  * cut: estimate ties at a k boundary would make the returned SET
  * depend on hash order, while the threshold set is deterministic.
  * Emitted in estimate-descending order; consumers that explode it
  * (q63) are order-insensitive anyway.
  */
case class FreqItems(child: Expression, minCount: Long)
    extends UnaryExpression with CodegenFallback {
  require(minCount >= 1, s"minCount must be >= 1, got $minCount")
  override def prettyName: String = "graft_freq_items"
  override def checkInputDataTypes(): TypeCheckResult =
    FreqSerde.checkBinary(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("estimate", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val sk = FreqSerde.fromBytes(v.asInstanceOf[Array[Byte]])
    val rows = sk.getFrequentItems(minCount, ErrorType.NO_FALSE_NEGATIVES)
    new GenericArrayData(rows.map { r =>
      InternalRow(UTF8String.fromString(r.getItem), r.getEstimate)
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FreqFunctions {

  val DefaultMapSize = 1024

  private def mapSizeArg(name: String, exprs: Seq[Expression]): Int =
    if (exprs.length == 2) SqlFunction.intArg(name, "maxMapSize", exprs(1))
    else DefaultMapSize

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[FreqSketchBuild]("graft_freq_sketch", 1, 2)(e =>
      FreqSketchBuild(e.head, mapSizeArg("graft_freq_sketch", e)).toAggregateExpression()),
    SqlFunction.of[FreqSketchMerge]("graft_freq_union", 1, 2)(e =>
      FreqSketchMerge(e.head, mapSizeArg("graft_freq_union", e)).toAggregateExpression()),
    SqlFunction.of[FreqItems]("graft_freq_items", 2)(e =>
      FreqItems(e.head, SqlFunction.longArg("graft_freq_items", "minCount", e(1)))))

  def freqSketch(c: Column, maxMapSize: Int = DefaultMapSize): Column =
    column(FreqSketchBuild(expression(c), maxMapSize).toAggregateExpression())

  def freqUnion(c: Column, maxMapSize: Int = DefaultMapSize): Column =
    column(FreqSketchMerge(expression(c), maxMapSize).toAggregateExpression())

  def freqItems(sketch: Column, minCount: Long): Column =
    column(FreqItems(expression(sketch), minCount))
}
