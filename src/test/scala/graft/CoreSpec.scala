package graft

import graft.core._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class CoreSpec extends AnyFunSuite {

  test("base type mapping covers the Keboola surface") {
    assert(BaseTypes.toSpark("STRING") == StringType)
    assert(BaseTypes.toSpark("integer") == LongType)
    assert(BaseTypes.toSpark("NUMERIC") == DecimalType(38, 9))
    assert(BaseTypes.toSpark("FLOAT") == DoubleType)
    assert(BaseTypes.toSpark("BOOLEAN") == BooleanType)
    assert(BaseTypes.toSpark("DATE") == DateType)
    assert(BaseTypes.toSpark("TIMESTAMP") == TimestampType)
    val e = intercept[UserException](BaseTypes.toSpark("BLOB"))
    assert(e.getMessage.contains("Unsupported base type"))
  }

  test("config validation flattens errors in the reference shape") {
    val bad = Config(batchSize = -1, threads = 0)
    val e = intercept[UserException](Config.validated(bad))
    assert(e.getMessage.startsWith("Validation Error: "))
    assert(e.getMessage.contains("batch_size: must be positive"))
    assert(e.getMessage.contains("threads: must be positive"))
  }

  test("external mode gate rejects upsert; native requires warehouse") {
    val c = Config(destination = Destination(mode = LoadType.Upsert))
    assert(intercept[UserException](c.validateExternalMode())
      .getMessage.contains("Unsupported mode for external table"))
    val n = Config(destination = Destination(mode = LoadType.Append, warehouse = ""))
    assert(intercept[UserException](n.validateNativeMode())
      .getMessage.contains("Warehouse must be specified"))
    Config(destination = Destination(mode = LoadType.Upsert, warehouse = "wh",
      tableType = TableType.Native)).validateNativeMode()
  }

  test("manifest parsing: columns, pk, base types, staging schema") {
    val dir = Files.createTempDirectory("graft-manifest")
    val manifest = dir.resolve("t1.csv.manifest")
    Files.writeString(manifest,
      """{"name":"t1","columns":["id","amount","note"],"primary_key":["id"],
        |"column_metadata":{
        |  "id":[{"key":"KBC.datatype.basetype","value":"INTEGER"}],
        |  "amount":[{"key":"KBC.datatype.basetype","value":"FLOAT"}],
        |  "note":[]}}""".stripMargin)
    val td = TableDef.fromManifest(manifest)
    assert(td.name == "t1")
    assert(td.primaryKey == Seq("id"))
    assert(td.sparkSchema == StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType),
      StructField("note", StringType))))
    assert(td.stagingSchema.fieldNames.toSeq == Seq("_c0", "_c1", "_c2"))
  }

  test("reference sample manifest parses (all STRING, no pk)") {
    val p = Paths.get(
      "/root/reference/component_config/sample-config/in/tables/test.csv.manifest")
    val td = TableDef.fromManifest(
      if (Files.exists(p)) p else SampleConfig.dir(p).resolve("in/tables/test.csv.manifest"))
    assert(td.columns.size == 7)
    assert(td.primaryKey.isEmpty)
    assert(td.sparkSchema.fields.forall(_.dataType == StringType))
  }

  test("cast projection: malformed input yields NULL (ANSI off), valid edge values survive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val td = TableDef("t", Seq("n", "f", "b", "d", "ts"), Map(
      "n" -> "INTEGER", "f" -> "FLOAT", "b" -> "BOOLEAN",
      "d" -> "DATE", "ts" -> "TIMESTAMP"), Nil)
    val staged = Seq(
      ("42", "1.5", "true", "2024-02-29", "2024-01-01 12:34:56.789"),
      ("not-a-number", "NaN", "yes??", "2024-13-45", "garbage"),
      ("-9223372036854775808", "-0.0", "FALSE", "1970-01-01", "1970-01-01 00:00:00"))
      .toDF("_c0", "_c1", "_c2", "_c3", "_c4")
    val out = graft.operators.StageCast.fromStaging(staged, td).collect()
    // row 0: all valid, leap day included
    assert(out(0).getLong(0) == 42L && out(0).getDouble(1) == 1.5 && out(0).getBoolean(2))
    assert(out(0).getDate(3).toString == "2024-02-29")
    // row 1: malformed → NULL, not an error (permissive ingest contract)
    assert(out(1).isNullAt(0) && out(1).isNullAt(2) && out(1).isNullAt(3) && out(1).isNullAt(4))
    assert(out(1).getDouble(1).isNaN) // "NaN" is a valid double
    // row 2: Long.MinValue and negative zero round-trip
    assert(out(2).getLong(0) == Long.MinValue && !out(2).getBoolean(2))
  }

  test("text analysis edge cases: empty and whitespace-heavy text") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.TextAnalysis
    val t = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("id", "text")
    val out = t.select($"id",
      TextAnalysis.tokenCount($"text").as("tok"),
      graft.operators.Dedup.simhash($"text").as("sh"),
      TextAnalysis.fingerprint($"text").as("fp")).orderBy("id").collect()
    assert(out(0).getInt(1) == 0) // empty: zero tokens
    assert(out(2).getInt(1) == 1)
    // sketches stay defined (no crash) on degenerate inputs
    (0 to 2).foreach(i => assert(!out(i).isNullAt(2) && !out(i).isNullAt(3)))
  }

  test("input shape validation (M1)") {
    val t = TableDef("t", Seq("a"), Map.empty, Nil)
    TableDef.validateInputShape(Seq(t), Nil)
    TableDef.validateInputShape(Nil, Seq("f.parquet"))
    assert(intercept[UserException](TableDef.validateInputShape(Nil, Nil))
      .getMessage.contains("Either one input table or input files"))
    assert(intercept[UserException](
      TableDef.validateInputShape(Seq(t), Seq("f"))).getMessage.contains("Only one of"))
    assert(intercept[UserException](
      TableDef.validateInputShape(Seq(t, t), Nil)).getMessage.contains("Only one input table"))
  }
}
