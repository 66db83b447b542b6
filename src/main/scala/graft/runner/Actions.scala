package graft.runner

import graft.core.TableDef
import org.apache.spark.sql.SparkSession

/** Sync actions (SURVEY.md §2.8, C1-C5): the component's query-less
  * metadata API, returning `SelectElement`-shaped (value, label) lists
  * for UI dropdowns (/root/reference/src/component.py:386-422).
  * Remote Unity-Catalog calls become `spark.catalog` calls; the
  * SAPI-backed column listing becomes manifest / lake-schema
  * introspection.
  */
object Actions {

  final case class SelectElement(value: String, label: String)

  /** C1: list_uc_catalogs. */
  def listCatalogs(spark: SparkSession): Seq[SelectElement] =
    spark.catalog.listCatalogs().collect().toSeq
      .map(c => SelectElement(c.name, c.name)).sortBy(_.value)

  /** C2: list_uc_schemas. */
  def listSchemas(spark: SparkSession): Seq[SelectElement] =
    spark.catalog.listDatabases().collect().toSeq
      .map(d => SelectElement(d.name, d.name)).sortBy(_.value)

  /** C3: list_uc_tables. */
  def listTables(spark: SparkSession, db: String): Seq[SelectElement] =
    spark.catalog.listTables(db).collect().toSeq
      .map(t => SelectElement(t.name, t.name)).sortBy(_.value)

  /** C4: list_warehouses — in-engine, Spark IS the warehouse; one
    * element describing the local session (the reference lists remote
    * DBX warehouses, component.py:404-408).
    */
  def listWarehouses(spark: SparkSession): Seq[SelectElement] =
    Seq(SelectElement(spark.sparkContext.master, s"local spark (${spark.version})"))

  /** C5: list_table_columns — from the input manifest (the reference
    * asks Keboola Storage API, storage_api_client.py:14-30).
    */
  def listTableColumns(table: TableDef): Seq[SelectElement] =
    table.columns.map(c => SelectElement(c, s"$c (${table.baseTypeOf(c)})"))
}
