package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One input-table definition, resolved from a Keboola-style manifest.
  *
  * The reference reads `self.table.schema` — an ordered map column name
  * → definition whose typed dtype is `data_types["base"].dtype`
  * (/root/reference/src/component.py:72, :200-204) — and `primary_key`
  * (:206). Columns with no declared base type default to STRING (the
  * sample manifest declares none:
  * component_config/sample-config/in/tables/test.csv.manifest).
  */
final case class TableDef(
    name: String,
    columns: Seq[String],
    baseTypes: Map[String, String],
    primaryKey: Seq[String],
    /** All data files of the table. One element for a plain CSV;
      * many for a Keboola SLICED table, where the manifest's data
      * "file" is a directory of headerless chunks (the reference reads
      * the resolved slice-URL list in one read_csv call,
      * /root/reference/src/component.py:274-279).
      */
    dataPaths: Seq[String] = Nil,
    /** True when the data came from a slice directory — slices never
      * carry a header row.
      */
    sliced: Boolean = false,
) {
  def baseTypeOf(col: String): String = baseTypes.getOrElse(col, "STRING")

  /** Target Spark schema in manifest column order. */
  def sparkSchema: StructType =
    StructType(columns.map(c => StructField(c, BaseTypes.toSpark(baseTypeOf(c)))))

  /** The all-STRING staging schema with positional names `_c0.._cN`,
    * mirroring the reference's staging table
    * (/root/reference/src/component.py:138-139).
    */
  def stagingSchema: StructType =
    StructType(columns.indices.map(i => StructField(s"_c$i", StringType)))

  def requirePrimaryKey(): Unit =
    if (primaryKey.isEmpty)
      throw UserException(
        "Upsert mode requires primary keys to be defined in the table manifest.")
}

object TableDef {
  private val mapper = new ObjectMapper()

  /** Files.list with a closed stream (the returned java Stream holds
    * an open DirectoryStream; draining it does not close the fd).
    */
  private[graft] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Parses a `<table>.manifest` JSON file. Base types come from
    * `column_metadata[col]` entries with key `KBC.datatype.basetype`;
    * absent metadata → STRING.
    */
  def fromManifest(manifestPath: Path): TableDef = {
    val root = mapper.readTree(Files.readString(manifestPath))
    val name = Option(root.get("name")).map(_.asText)
      .getOrElse(manifestPath.getFileName.toString.stripSuffix(".manifest"))
    val columns = jsonArray(root.get("columns")).map(_.asText)
    val pk = jsonArray(root.get("primary_key")).map(_.asText)
    val colMeta = Option(root.get("column_metadata"))
    val baseTypes = columns.flatMap { c =>
      val entries = colMeta.flatMap(m => Option(m.get(c))).map(jsonArray).getOrElse(Nil)
      entries.collectFirst {
        case e if e.get("key") != null &&
          e.get("key").asText == "KBC.datatype.basetype" =>
          c -> e.get("value").asText
      }
    }.toMap
    val dataFile = Paths.get(manifestPath.toString.stripSuffix(".manifest"))
    // sliced table: the "data file" is a directory of headerless
    // chunks — resolve every slice (sorted for determinism; Spark
    // parallelizes across all of them in one read)
    val (paths, sliced) =
      if (Files.isDirectory(dataFile))
        (listDir(dataFile).filter(Files.isRegularFile(_))
          .map(_.toString).sorted, true)
      else if (Files.exists(dataFile)) (Seq(dataFile.toString), false)
      else (Nil, false)
    TableDef(name, columns, baseTypes, pk, dataPaths = paths, sliced = sliced)
  }

  /** Lists table defs in a Keboola datadir (`$dir/in/tables/<t>.manifest`),
    * like the reference's `get_input_tables_definitions()`
    * (/root/reference/src/component.py:35).
    */
  def fromDataDir(dataDir: Path): Seq[TableDef] = {
    val tablesDir = dataDir.resolve("in/tables")
    if (!Files.isDirectory(tablesDir)) return Nil
    listDir(tablesDir)
      .filter(_.toString.endsWith(".manifest"))
      .map(fromManifest)
      .sortBy(_.name)
  }

  /** Input-shape validation (M1, /root/reference/src/component.py:38-45):
    * exactly one of {1 table, ≥1 files}.
    */
  def validateInputShape(tables: Seq[TableDef], files: Seq[String]): Unit = {
    if (tables.isEmpty && files.isEmpty)
      throw UserException("Either one input table or input files must be specified.")
    if (tables.nonEmpty && files.nonEmpty)
      throw UserException("Only one of input table or input files can be specified.")
    if (tables.size > 1)
      throw UserException("Only one input table is supported.")
  }

  private def jsonArray(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq
}
