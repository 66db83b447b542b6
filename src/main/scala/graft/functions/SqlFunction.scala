package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import scala.reflect.ClassTag

/** One graft SQL function: the name SQL text calls, the expression
  * class `DESCRIBE FUNCTION` reports, and the builder the analyzer runs
  * over the call's argument expressions. Each object under
  * `graft.functions` lists its entries as `sqlFunctions`;
  * [[graft.GraftExtensions]] injects all of them into every session.
  * The Column helpers construct the same expressions directly, so no
  * session's function registry is touched while a DataFrame is built.
  */
private[graft] final case class SqlFunction(
    name: String, exprClass: Class[_], builder: Seq[Expression] => Expression)

private[graft] object SqlFunction {

  /** An entry for expression class `T` whose builder takes one of the
    * `arity` argument counts (checked before `build` runs).
    */
  def of[T <: Expression](name: String, arity: Int*)(
      build: Seq[Expression] => Expression)(implicit ct: ClassTag[T]): SqlFunction =
    SqlFunction(name, ct.runtimeClass, exprs => {
      requireArity(name, exprs, arity: _*)
      build(exprs)
    })

  /** Spark's own wrong-arity error (`WRONG_NUM_ARGS`). */
  private def requireArity(name: String, exprs: Seq[Expression], valid: Int*): Unit =
    if (!valid.contains(exprs.length))
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" ->
            (if (valid.length == 1) valid.head.toString else valid.mkString("[", ", ", "]")),
          "actualNum" -> exprs.length.toString, "docroot" -> "-"))

  /** The value of an integer-literal argument: any foldable
    * TINYINT/SMALLINT/INT/BIGINT expression (the builders run before
    * constant folding, so `CAST(8 AS BIGINT)` counts). NULL, any other
    * type or shape fails naming the function and the argument.
    */
  def longArg(name: String, arg: String, e: Expression): Long = {
    def fail(got: Any): Nothing = throw new IllegalArgumentException(
      s"$name: $arg must be an integer literal, got $got")
    val v = if (e.foldable) e.eval() else fail(e)
    if (v == null) fail("NULL")
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => v.asInstanceOf[Number].longValue
      case _ => fail(e)
    }
  }

  /** [[longArg]] for an INT parameter: a value outside the INT range
    * fails instead of wrapping.
    */
  def intArg(name: String, arg: String, e: Expression): Int = {
    val v = longArg(name, arg, e)
    if (!v.isValidInt) throw new IllegalArgumentException(
      s"$name: $arg must be in the INT range, got $v")
    v.toInt
  }
}
