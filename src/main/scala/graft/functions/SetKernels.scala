package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.sql.Column

/** Sorted-set kernels for the pair-verification hot loop.
  *
  * The overlap operators (`Dedup.shingleOverlap` / `charNgramOverlap`,
  * reference semantics: exact n-gram Jaccard counts for candidate
  * pairs) spend their time computing |A ∩ B| per pair. The built-in
  * `size(array_intersect(ea, eb))` does that by building a hash set
  * and materializing the intersection ARRAY per evaluation — per PAIR,
  * even though each doc's set participates in thousands of pairs (a
  * cross-join-shaped pair frame at sf10 is 82M pairs over 26k docs).
  * At 100 TB the per-pair constant is the whole cost of the verify
  * stage.
  *
  * `SortedIntersectCount` instead counts a single merge pass over two
  * SORTED, DISTINCT arrays: O(|A|+|B|) comparisons, zero allocation,
  * no hashing, inside whole-stage codegen. Sorting happens once per
  * DOC (25k sorts) in the projection that feeds the broadcast, not
  * once per pair (82M hash-set builds) — the classic sort-once /
  * merge-many trade.
  *
  * PRECONDITIONS (the caller's contract, not checked at runtime):
  * both arrays ascending-sorted with Spark's ordering for the element
  * type (`sort_array`) and element-distinct. The overlap kernels emit
  * distinct elements by construction; `Dedup.setOverlapPruned` adds
  * the sort. Long elements compare numerically; string elements
  * compare as UTF8String binary — the same order `sort_array` uses
  * for StringType (UTF8_BINARY collation), so the merge never misses
  * an equal pair.
  */
object SetKernels {

  /** |A ∩ B| for ascending-sorted distinct long arrays. */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** JVM-array twin of [[sortedIntersectCountLong]] for group-local
    * verification loops (Dedup.lshVerifiedClusterEdges) that hold
    * plain `Array[Long]` gram sets rather than Catalyst ArrayData.
    */
  def sortedIntersectCountLongArrays(a: Array[Long], b: Array[Long]): Int = {
    val na = a.length; val nb = b.length
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** |A ∩ B| for ascending-sorted (UTF8 binary order) distinct string
    * arrays.
    */
  def sortedIntersectCountString(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** `SortedIntersectCount(a, b)` → int |A ∩ B| over sorted distinct
  * arrays (see [[SetKernels]] for the contract). Null-safe: null on
  * either null input (callers coalesce, matching
  * `size(array_intersect)`'s null behavior under an outer join miss).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(et @ (LongType | StringType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<long> or two array<string> " +
          s"inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
    }

  private def isLong: Boolean = elemType(left.dataType).contains(LongType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (isLong) SetKernels.sortedIntersectCountLong(x, y)
    else SetKernels.sortedIntersectCountString(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isLong) "sortedIntersectCountLong" else "sortedIntersectCountString"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SetKernels.$m($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQL entry + Column surface (same pattern as [[TextKernelFunctions]]). */
object SetKernelFunctions {
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[SortedIntersectCount]("graft_sorted_intersect_count", 2)(e =>
      SortedIntersectCount(e(0), e(1))))

  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
