package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Parquet reads whose schema comes from a footer read on the driver.
  *
  * A schema-less `spark.read.parquet(paths)` infers the schema with a
  * one-task Spark job that reads one footer (`ParquetUtils.inferSchema`
  * → `mergeSchemasInParallel`): about 20 ms of job floor in front of
  * every small query. [[read]] reads the same footer on the driver and
  * hands Spark the schema, the way the lake's own reads pass the logged
  * schema (Delta Lake keeps the schema in table metadata for the same
  * reason).
  *
  * The footer is the one Spark's non-merging inference picks: after
  * Spark's listing filter (no `_`/`.` names, no `._COPYING_`), the data
  * file whose path sorts first. It is converted with the converter
  * settings inference uses. Spark infers the schema itself (the plain
  * read, with every error its own) when:
  *   - schema merging is on (`spark.sql.parquet.mergeSchema`);
  *   - a path is a glob, a directory holds a subdirectory (partition
  *     discovery) or a summary file, or no data file is found;
  *   - there are more paths than Spark lists without a job
  *     (`spark.sql.sources.parallelPartitionDiscovery.threshold`);
  *   - the paths' first footers disagree, or reading one throws.
  */
object ParquetSchema {

  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths).fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** The schema Spark's inference would give `paths`, or None where
    * Spark has to infer it (see the object doc).
    */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || paths.isEmpty ||
        paths.size > conf.parallelPartitionDiscoveryThreshold || paths.exists(isGlob)) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      // the arguments mergeSchemasInParallel passes; the rest default
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val schemas = paths.map(p => firstDataFile(new Path(p), hadoopConf).map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
      })
      if (schemas.forall(_.isDefined) && schemas.distinct.size == 1) schemas.head else None
    } catch { case NonFatal(_) => None }
  }

  // SparkHadoopUtil.isGlobPath
  private def isGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  // HadoopFSUtils.shouldFilterOutPathName
  private def listedAway(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** The file ParquetUtils.inferSchema reads for `path`: the path itself
    * for a file, else the first listed data file by path; None for the
    * shapes Spark lists differently.
    */
  private def firstDataFile(path: Path, hadoopConf: Configuration): Option[FileStatus] = {
    val fs = path.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(path)
    if (!status.isDirectory)
      Some(status).filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
    else {
      val listed = fs.listStatus(path).toSeq.filterNot(c => listedAway(c.getPath.getName))
      if (listed.exists(c => c.isDirectory || c.getPath.getName.startsWith("_"))) None
      else listed.sortBy(_.getPath.toString).headOption
    }
  }
}
