package graft.operators

import graft.core.TableDef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The cast-and-rename projection (P2/P3 in SURVEY.md §2.4) — the only
  * scalar expression in the reference's whole data path:
  * `CAST(_c{i} AS {dtype}) AS {name}`
  * (/root/reference/src/component.py:196-204, applied at :230, :235,
  * and inlined in MERGE at :244-247).
  *
  * Uses Spark's built-in `Cast` (whole-stage-codegen'd; with ANSI off
  * it yields NULL on malformed input, matching permissive CSV ingest —
  * SURVEY.md §7.3). Casting the source once before a merge replaces
  * the reference's per-clause inline casts (P3) — semantically
  * identical, planned once.
  */
object StageCast {

  /** Positional staging (`_c0.._cN`) → typed, named columns. */
  def fromStaging(staged: DataFrame, table: TableDef): DataFrame = {
    val schema = table.sparkSchema
    staged.select(schema.fields.zipWithIndex.map { case (f, i) =>
      col(s"_c$i").cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** Round-trip through an all-string stage and back — the exact
    * shape of reference entry point B (stage table of STRINGs, then
    * INSERT ... SELECT CAST). Exposed as an operator so correctness
    * tests can exercise cast semantics on typed data.
    */
  def stageRoundTrip(df: DataFrame): DataFrame = {
    val schema = df.schema
    val staged = df.select(schema.fields.zipWithIndex.map { case (f, i) =>
      col(f.name).cast("string").as(s"_c$i")
    }.toSeq: _*)
    staged.select(schema.fields.zipWithIndex.map { case (f, i) =>
      col(s"_c$i").cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }
}
