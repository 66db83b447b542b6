package graft.lake

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-file statistics harvested from parquet footers at commit time —
  * numRecords, per-column min/max/nullCount — written into the add
  * action's `stats` and served to the data-skipping evaluator
  * (GraftFileIndex). Reading a footer costs one small range read; at
  * 100 TB that single read per written file is what later lets a
  * point query open 3 files instead of 300 000.
  *
  * Encoding (internal, consumed only by our own reader; diverges from
  * Delta's ISO-string stats): timestamps as epoch MICROS longs, dates
  * as epoch days ints, strings as JSON strings, numerics as numbers.
  * Only top-level atomic columns carry min/max; anything else
  * contributes numRecords/nullCount only.
  */
object FileStats {

  /** Returns the Delta-style stats JSON for one parquet file, or None
    * if the footer can't be read (stats are an optimization — never
    * fail a write over them). `conf` is shared by every file of a
    * commit (the session's Hadoop conf; building one per file costs
    * more than the footer read).
    */
  def forFile(file: Path, conf: Configuration): Option[String] = try {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum

      val node = TransactionLog.mapper.createObjectNode()
      node.put("numRecords", numRecords)
      val minValues = node.putObject("minValues")
      val maxValues = node.putObject("maxValues")
      val nullCount = node.putObject("nullCount")

      // merge column-chunk stats across row groups, keyed by dot path
      val byCol = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
      byCol.foreach { case (colPath, chunks) =>
        if (!colPath.contains('.')) { // top-level columns only
          val primitive = chunks.head.getPrimitiveType
          val stats = chunks.map(_.getStatistics).filter(_ != null)
          if (stats.nonEmpty && stats.forall(s => s.isNumNullsSet)) {
            nullCount.put(colPath, stats.map(_.getNumNulls).sum)
          }
          if (stats.nonEmpty && stats.forall(s => s.hasNonNullValue)) {
            val mins = stats.map(_.genericGetMin.asInstanceOf[AnyRef])
            val maxs = stats.map(_.genericGetMax.asInstanceOf[AnyRef])
            putExtreme(minValues, colPath, primitive.getPrimitiveTypeName,
              primitive.getLogicalTypeAnnotation, mins, isMin = true)
            putExtreme(maxValues, colPath, primitive.getPrimitiveTypeName,
              primitive.getLogicalTypeAnnotation, maxs, isMin = false)
          }
        }
      }
      Some(TransactionLog.mapper.writeValueAsString(node))
    } finally reader.close()
  } catch { case NonFatal(_) => None }

  /** [[forFile]] for every file of a commit, in input order: the
    * footers are independent small reads, so they are read
    * concurrently, all under one shared conf.
    */
  def forFiles(files: Seq[Path], conf: Configuration): Seq[Option[String]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    files.map(f => Future(forFile(f, conf))).map(Await.result(_, Duration.Inf))
  }

  private def putExtreme(
      target: ObjectNode,
      col: String,
      ptype: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      logical: LogicalTypeAnnotation,
      values: Seq[AnyRef],
      isMin: Boolean): Unit = {
    def reduceL(vs: Seq[Long]) = if (isMin) vs.min else vs.max
    def reduceD(vs: Seq[Double]) = if (isMin) vs.min else vs.max
    (ptype, logical) match {
      case (INT64, ts: TimestampLogicalTypeAnnotation) =>
        val toMicros: Long => Long = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => identity
          case LogicalTypeAnnotation.TimeUnit.NANOS  => Math.floorDiv(_, 1000L)
        }
        target.put(col, toMicros(reduceL(values.map(_.asInstanceOf[java.lang.Long].longValue))))
      case (INT64, null) =>
        target.put(col, reduceL(values.map(_.asInstanceOf[java.lang.Long].longValue)))
      case (INT32, _: DateLogicalTypeAnnotation) =>
        target.put(col, (if (isMin) values.map(_.asInstanceOf[java.lang.Integer].intValue).min
                         else values.map(_.asInstanceOf[java.lang.Integer].intValue).max))
      case (INT32, null) | (INT32, _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
        target.put(col, (if (isMin) values.map(_.asInstanceOf[java.lang.Integer].intValue).min
                         else values.map(_.asInstanceOf[java.lang.Integer].intValue).max))
      case (DOUBLE, _) =>
        target.put(col, reduceD(values.map(_.asInstanceOf[java.lang.Double].doubleValue)))
      case (FLOAT, _) =>
        target.put(col, reduceD(values.map(_.asInstanceOf[java.lang.Float].floatValue.toDouble)))
      case (BOOLEAN, _) =>
        val bs = values.map(_.asInstanceOf[java.lang.Boolean].booleanValue)
        target.put(col, if (isMin) bs.forall(identity) && bs.nonEmpty && !bs.contains(false)
                        else bs.contains(true))
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        // merge chunks in UNSIGNED-byte (UTF-8 binary) order — the
        // order parquet computed each chunk's min/max in and the order
        // the skipping evaluator (UTF8String) compares with. Java
        // String order (UTF-16 code units) diverges beyond the BMP and
        // can understate a file's max, making an equality probe prune
        // a file that contains the row.
        val bs = values.map(_.asInstanceOf[Binary].getBytes)
        val extreme = bs.reduce((a, b) =>
          if (isMin == (unsignedCompare(a, b) <= 0)) a else b)
        target.put(col, new String(extreme, java.nio.charset.StandardCharsets.UTF_8))
      case _ => () // decimals/nested/etc: no min-max stats
    }
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}
