package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into `private[sql]` Spark internals the DSv2 DML commands
  * need: running an already-analyzed LogicalPlan as a DataFrame,
  * converting between resolved `Expression`s and public `Column`s, and
  * running driver work on a pool thread under the caller's local
  * properties.
  *
  * Living under `org.apache.spark.sql` to reach package-private API is
  * the established pattern for Spark connectors that implement SQL DML
  * (Delta Lake's `org.apache.spark.sql.delta` does exactly this); the
  * rest of the engine stays in `graft.*` and goes through this one
  * narrow seam.
  */
object SparkBridge {

  /** Wraps an analyzed plan as a DataFrame (exprIds survive re-analysis,
    * so expressions resolved against `plan`'s output stay bound).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over an arbitrary (possibly already-resolved) expression. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Like [[expression]], but with the lazy `ColumnNodeExpression`
    * wrapper (public-API columns like `functions.avg` carry a
    * ColumnNode, converted only at analysis) eagerly converted, so
    * callers can pattern-match the Catalyst shape (e.g.
    * `UnresolvedFunction`) before a plan exists.
    */
  def convertedExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c) match {
      case classic.ColumnNodeExpression(node) =>
        classic.ColumnNodeToExpressionConverter(node)
      case e => e
    }

  /** A DataFrame over an InternalRow RDD. Flagged isStreaming=true, it
    * is what a V1 streaming `Source.getBatch` must return
    * (MicroBatchExecution asserts the plan is streaming) — the same
    * internal API FileStreamSource uses.
    */
  def rowsFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** `schema` with every field nullable, nested fields included. */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  private lazy val asyncPool: java.util.concurrent.ExecutorService =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-async", 16)

  /** Runs `body` on a pool thread under the CALLING thread's Spark
    * local properties (job group, description, scheduler pool) and
    * active session — Spark's own capture for its async stage work
    * (`SQLExecution.withThreadLocalCaptured`) — so `cancelJobGroup` and
    * FAIR pools reach every job `body` submits. A bare `Future` runs
    * under whatever properties its pool thread inherited when created.
    */
  def async[T](spark: SparkSession)(body: => T): java.util.concurrent.Future[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], asyncPool)(body)

  /** The result of an [[async]] body, rethrowing the body's own exception. */
  def await[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException if e.getCause != null => throw e.getCause }
}
