package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The session contract sizes Spark's JVM-wide generated-class cache
  * (`SparkEntry.configure`): a session that cycles through more plan
  * shapes than Spark's default 100 entries must not recompile them on
  * every pass.
  */
class CodegenCacheSpec extends AnyFunSuite {

  test("a second pass over 150 distinct whole-stage shapes compiles no class") {
    val spark = TestSpark.spark
    // an integral literal is inlined into the generated source, so each
    // multiplier is new whole-stage code (at Spark's default cache of
    // 100 entries the second pass compiles 300 classes)
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(i => spark.range(10).select(col("id") * lit(i)).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first >= 150, s"each shape should compile at least one class, got $first")
    assert(pass() == 0)
  }
}
