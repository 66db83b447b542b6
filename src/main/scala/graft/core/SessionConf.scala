package graft.core

import org.apache.spark.sql.SparkSession

/** Typed reads of graft's own `spark.graft.*` session confs. */
object SessionConf {

  /** The conf's value as a non-negative Int, `default` when unset. A
    * malformed value fails with a [[UserException]] naming the key and
    * the value, never a raw `NumberFormatException` from deep inside an
    * operator.
    */
  def nonNegativeInt(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).fold(default) { raw =>
      raw.trim.toIntOption.filter(_ >= 0).getOrElse(throw UserException(
        s"session conf $key must be a non-negative integer, got '$raw'"))
    }
}
