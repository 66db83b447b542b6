package graft.core

import org.apache.spark.sql.SparkSession

/** Typed reads of graft's own `spark.graft.*` session confs. A
  * malformed value fails with a [[UserException]] naming the key and
  * the value, never a raw `NumberFormatException` or
  * `IllegalArgumentException` from deep inside an operator.
  */
object SessionConf {

  private def read[T](spark: SparkSession, key: String, default: T, what: String)
      (parse: String => Option[T]): T =
    spark.conf.getOption(key).fold(default) { raw =>
      parse(raw.trim).getOrElse(throw UserException(
        s"session conf $key must be $what, got '$raw'"))
    }

  /** The conf's value as a non-negative Int, `default` when unset. */
  def nonNegativeInt(spark: SparkSession, key: String, default: Int): Int =
    read(spark, key, default, "a non-negative integer")(_.toIntOption.filter(_ >= 0))

  /** The conf's value as a non-negative Long, `default` when unset. */
  def nonNegativeLong(spark: SparkSession, key: String, default: Long): Long =
    read(spark, key, default, "a non-negative integer")(_.toLongOption.filter(_ >= 0))

  /** The conf's value as a Boolean (`true`/`false`, any case),
    * `default` when unset.
    */
  def boolean(spark: SparkSession, key: String, default: Boolean): Boolean =
    read(spark, key, default, "true or false")(_.toBooleanOption)
}
