package graft

import graft.sources.ParquetSchema
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** `ParquetSchema.read` gives the frame Spark's schema inference gives,
  * without the inference job, and leaves every other case to Spark.
  */
class ParquetSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): Path = Files.createTempDirectory("graft-pqschema")

  /** Frames built by `read` and by Spark's inference, and the jobs
    * building the first ran.
    */
  private def both(paths: Seq[String]): (DataFrame, DataFrame, Int) = {
    var got: DataFrame = null
    val jobs = JobTrace.traced(spark) { got = ParquetSchema.read(spark, paths) }.jobs
    (got, spark.read.parquet(paths: _*), jobs)
  }

  /** A Spark-written directory of 3 part files (plus `_SUCCESS` and the
    * hidden `.crc` files) with nested and logical-typed columns.
    */
  private def typedDir(): String = {
    val dir = tmp().resolve("typed").toString
    spark.range(0, 300, 1, 3).select(
      col("id"),
      (col("id") / 7).cast("decimal(12,3)").as("amount"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      array((col("id") * 0.5).cast("float"), lit(1.5f)).as("vec"),
      struct(col("id").cast("int").as("a"), concat(lit("s"), col("id")).as("b")).as("st"))
      .write.parquet(dir)
    dir
  }

  test("every testdata table: the inferred schema, with no Spark job") {
    val dir = Paths.get("/root/testdata/sf0.001")
    val tables = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(tables.nonEmpty)
    tables.foreach { t =>
      val (got, inferred, jobs) = both(Seq(t))
      assert(got.schema == inferred.schema, t)
      assert(jobs == 0, t)
    }
    // the inference job the helper saves is really there
    assert(JobTrace.traced(spark)(spark.read.parquet(tables.head)).jobs == 1)
  }

  test("a multi-part directory with decimal, timestamp, array<float> and struct columns") {
    val dir = typedDir()
    val (got, inferred, jobs) = both(Seq(dir))
    assert(got.schema == inferred.schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "amount", "ts", "vec", "st"))
    assert(jobs == 0)
    assert(got.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    // two paths whose footers agree: still no job
    val parts = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-")).sorted
    val (got2, inferred2, jobs2) = both(parts.take(2).toSeq)
    assert(got2.schema == inferred2.schema && jobs2 == 0)
  }

  test("merging, disagreeing footers and partition directories fall back to Spark") {
    val root = tmp()
    val (a, b) = (root.resolve("a").toString, root.resolve("b").toString)
    spark.range(3).select(col("id"), lit(1).as("x")).write.parquet(a)
    spark.range(3).select(col("id"), lit("y").as("y")).write.parquet(b)
    val merged = spark.read.option("mergeSchema", "true").parquet(a, b).schema
    assert(merged.fieldNames.toSeq == Seq("id", "x", "y"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(ParquetSchema.footerSchema(spark, Seq(a, b)).isEmpty)
      assert(ParquetSchema.read(spark, Seq(a, b)).schema == merged)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // without merging the footers disagree: Spark picks, as before
    val (got, inferred, jobs) = both(Seq(a, b))
    assert(got.schema == inferred.schema && jobs == 1)
    // a partitioned directory: Spark's partition discovery adds `p`
    val parted = root.resolve("parted").toString
    spark.range(4).select(col("id"), (col("id") % 2).as("p")).write.partitionBy("p").parquet(parted)
    val (gotP, inferredP, _) = both(Seq(parted))
    assert(gotP.schema == inferredP.schema && gotP.schema.fieldNames.contains("p"))
  }

  test("a missing path raises Spark's own error") {
    val missing = tmp().resolve("nope.parquet").toString
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    val ours = intercept[AnalysisException](ParquetSchema.read(spark, Seq(missing)))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
