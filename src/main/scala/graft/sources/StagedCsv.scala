package graft.sources

import graft.core.TableDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV staging reader (S1 in SURVEY.md §2.1).
  *
  * The reference scans sliced headerless CSV with explicit column names
  * and dtypes, no inference (/root/reference/src/component.py:75-78);
  * its warehouse path stages everything as STRING `_c0.._cN` first
  * (:138-139, 166-170) and casts later. We reproduce the
  * stage-then-cast semantics: read as all-STRING with positional
  * names, so the cast projection (graft.operators.StageCast) is the
  * single place type coercion happens on every path.
  *
  * Scale note: `spark.read.csv(paths: _*)` parallelizes across files
  * and across splits of large files; no driver-side batching loop is
  * needed (SURVEY.md §7.3 — Spark partitions subsume the reference's
  * 25k-row Arrow batches).
  */
object StagedCsv {
  /** `hasHeader=false` matches production S3 slices (no header,
    * component.py:166-170); Keboola local-datadir fixtures carry a
    * header row, which the explicit schema lets us skip.
    */
  def read(
      spark: SparkSession,
      table: TableDef,
      paths: Seq[String],
      hasHeader: Boolean = false): DataFrame =
    spark.read
      .schema(table.stagingSchema)
      .option("header", hasHeader.toString)
      .option("mode", "PERMISSIVE")
      .csv(paths: _*)

  /** Parquet multi-file scan (S2): schema is self-describing
    * (/root/reference/src/component.py:79-81).
    * [[ParquetSchema]] reads it from the first footer on the driver.
    */
  def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    ParquetSchema.read(spark, paths)
}
