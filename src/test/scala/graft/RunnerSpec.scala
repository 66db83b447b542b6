package graft

import graft.core._
import graft.lake.LakeTable
import graft.runner.{Actions, Runner}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** Entry-point parity tests, including the golden E2E on the
  * reference's sample datadir (SURVEY.md §7.6.2, [[SampleConfig]]).
  */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sampleDir = Paths.get("/root/reference/component_config/sample-config")
  private val sample = SampleConfig.dir(sampleDir)

  private def tmp(): Path = Files.createTempDirectory("graft-runner")

  test("golden E2E: sample datadir → lake table matches out/ mirror") {
    val dest = tmp().resolve("t")
    val cfg = Config(destination = Destination(mode = LoadType.Append))
    Runner.run(spark, cfg, sample, dest)
    val got = new LakeTable(spark, dest).read()
    // the reference's out/tables/test.csv mirrors the input byte-for-byte
    val expected = spark.read.option("header", "true")
      .csv(sample.resolve("out/tables/test.csv").toString)
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(got.count() == 21)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("mode=error on existing table raises; overwrite replaces") {
    val dest = tmp().resolve("t")
    def cfg(m: LoadType.Value) = Config(destination = Destination(mode = m))
    Runner.run(spark, cfg(LoadType.Error), sample, dest)
    val e = intercept[UserException](Runner.run(spark, cfg(LoadType.Error), sample, dest))
    assert(e.getMessage.contains("already exists"))
    Runner.run(spark, cfg(LoadType.Append), sample, dest)
    assert(new LakeTable(spark, dest).read().count() == 42)
    Runner.run(spark, cfg(LoadType.Overwrite), sample, dest)
    assert(new LakeTable(spark, dest).read().count() == 21)
  }

  test("external mode gate rejects upsert (M2)") {
    val cfg = Config(destination = Destination(mode = LoadType.Upsert))
    val e = intercept[UserException](
      Runner.run(spark, cfg, sample, tmp().resolve("t")))
    assert(e.getMessage.contains("Unsupported mode for external table"))
  }

  test("native upsert end-to-end with PK'd manifest and typed columns") {
    // synthetic datadir: typed manifest + headered CSV (SURVEY.md §1.3)
    val dd = tmp()
    val tdir = dd.resolve("in/tables"); Files.createDirectories(tdir)
    Files.writeString(tdir.resolve("acct.csv"),
      "id,amount,when\n1,10.5,2024-01-01T00:00:00\n2,20.25,2024-01-02T00:00:00\n")
    Files.writeString(tdir.resolve("acct.csv.manifest"),
      """{"name":"acct","columns":["id","amount","when"],"primary_key":["id"],
        |"column_metadata":{
        | "id":[{"key":"KBC.datatype.basetype","value":"INTEGER"}],
        | "amount":[{"key":"KBC.datatype.basetype","value":"FLOAT"}],
        | "when":[{"key":"KBC.datatype.basetype","value":"TIMESTAMP"}]}}""".stripMargin)
    val dest = dd.resolve("lake")
    def cfg(m: LoadType.Value) = Config(destination = Destination(
      mode = m, tableType = TableType.Native, warehouse = "local"))

    Runner.run(spark, cfg(LoadType.Append), dd, dest)
    val t = new LakeTable(spark, dest)
    assert(t.read().schema.map(_.dataType.typeName).toSeq ==
      Seq("long", "double", "timestamp"))

    // second run with updated row 2 + new row 3 via upsert
    Files.writeString(tdir.resolve("acct.csv"),
      "id,amount,when\n2,99.0,2024-01-02T00:00:00\n3,30.0,2024-01-03T00:00:00\n")
    Runner.run(spark, cfg(LoadType.Upsert), dd, dest)
    val rows = t.read().orderBy("id")
      .select($"id", $"amount").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 10.5), (2L, 99.0), (3L, 30.0)))
  }

  test("native mode gate: upsert without PKs raises the reference error") {
    // the sample manifest has no PKs
    val cfg = Config(destination = Destination(
      mode = LoadType.Upsert, tableType = TableType.Native, warehouse = "local"))
    val e = intercept[UserException](
      Runner.run(spark, cfg, sample, tmp().resolve("t")))
    assert(e.getMessage.contains("primary keys"))
  }

  /** A datadir whose in/files holds one single-part parquet file per
    * id range, with columns (id, v).
    */
  private def parquetDataDir(ranges: (Long, Long)*): Path = {
    val dd = tmp()
    val fdir = dd.resolve("in/files"); Files.createDirectories(fdir)
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val out = dd.resolve(s"p$i")
      spark.range(lo, hi).select($"id", ($"id" * 2).as("v"))
        .coalesce(1).write.parquet(out.toString)
      // move the part file up as a direct .parquet input
      val part = Files.list(out).iterator()
      val found = collection.mutable.Buffer[Path]()
      part.forEachRemaining(p => if (p.toString.endsWith(".parquet")) found += p)
      Files.move(found.head, fdir.resolve(s"data$i.parquet"))
    }
    dd
  }

  test("file inputs: parquet multi-file scan path") {
    val dd = parquetDataDir((0L, 5L))
    val dest = dd.resolve("lake")
    Runner.run(spark, Config(), dd, dest)
    assert(new LakeTable(spark, dest).read().count() == 5)
  }

  test("file inputs: loading in/files runs no Spark job before the write") {
    val dd = parquetDataDir((10L, 15L), (20L, 25L))
    var df: org.apache.spark.sql.DataFrame = null
    assert(JobTrace.traced(spark) { df = Runner.loadInput(spark, dd) }.jobs == 0)
    assert(df.schema == spark.read.parquet(Runner.parquetInputs(dd): _*).schema)
    assert(df.count() == 10)
  }

  test("dedup-on-ingest drops the sample fixture's duplicate rows") {
    val dest = tmp().resolve("t")
    val cfg = Config(destination = Destination(
      mode = LoadType.Append, dedupColumns = Seq("Eventbrite_link")))
    Runner.run(spark, cfg, sample, dest)
    val got = new LakeTable(spark, dest).read()
    assert(got.count() < 21)
    assert(got.select("Eventbrite_link").distinct().count() == got.count())
  }

  test("bucketing flows from the component config to the table layout") {
    val dest = tmp().resolve("t")
    val cfg = Config(destination = Destination(
      mode = LoadType.Append,
      bucketBy = Seq("Eventbrite_link"), numBuckets = 2))
    Runner.run(spark, cfg, sample, dest)
    val t = new LakeTable(spark, dest)
    assert(t.bucketing.contains(graft.lake.Bucketing(2, Seq("Eventbrite_link"))))
    assert(t.read().count() == 21)
    // config validation catches the inconsistent combinations
    val bad1 = intercept[UserException](Config.validated(
      Config(destination = Destination(bucketBy = Seq("x")))))
    assert(bad1.getMessage.contains("num_buckets"))
    val bad2 = intercept[UserException](Config.validated(
      Config(destination = Destination(numBuckets = 4))))
    assert(bad2.getMessage.contains("bucket_by"))
  }

  test("keep_stage keeps the all-string staged frame as a temp view; default drops it") {
    val keep = Config(destination = Destination(mode = LoadType.Append),
      keepStage = true)
    Runner.run(spark, keep, sample, tmp().resolve("t"))
    val view = spark.table("graft_stage_test")
    // the staged frame is the pre-cast ingest: all columns STRING
    assert(view.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    assert(view.count() == 21)
    // a later run without keep_stage drops the stale view (D3 semantics)
    Runner.run(spark, Config(destination = Destination(mode = LoadType.Append)),
      sample, tmp().resolve("t"))
    assert(!spark.catalog.tableExists("graft_stage_test"))
  }

  test("a fresh --conf spark.sql.extensions session serves graft SQL functions") {
    // getOrCreate applies extensions at session CREATION only, so the
    // shared test JVM can never prove the cluster deployment path —
    // fork a clean JVM whose only graft wiring is the conf line a real
    // spark-submit would pass, and let it run the sketch family in
    // pure SQL (graft.ExtensionsCheck).
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"), "graft.ExtensionsCheck")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val exit = proc.waitFor()
    assert(exit == 0 && out.contains("GRAFT_EXT_OK"), out.takeRight(2000))
  }

  test("sync actions return catalog + column metadata") {
    assert(Actions.listCatalogs(spark).nonEmpty)
    assert(Actions.listSchemas(spark).exists(_.value == "default"))
    assert(Actions.listWarehouses(spark).head.label.contains("local spark"))
    val td = TableDef("t", Seq("a", "b"), Map("a" -> "INTEGER"), Seq("a"))
    assert(Actions.listTableColumns(td).map(_.label) ==
      Seq("a (INTEGER)", "b (STRING)"))
  }

  test("native path as literal generated SQL: stage CREATE → COPY INTO → INSERT/MERGE → DROP") {
    // the reference's warehouse flow emits five statement shapes
    // (/root/reference/src/component.py:135-258); this runs the full
    // lifecycle — an append run then an upsert run — as the LITERAL
    // emitted text, every step spark.sql. Slices are headerless CSV
    // basenames under one staging dir, exactly the S3 layout the
    // generated FROM/FILES clauses address.
    val dd = tmp()
    val stage = dd.resolve("staging"); Files.createDirectories(stage)
    Files.writeString(stage.resolve("slice00.csv"), "1,10.5\n2,20.25\n")
    Files.writeString(stage.resolve("slice01.csv"), "2,99.0\n3,30.0\n")
    val stg = "graft.default.stg_9000_repl01"
    val dest = "graft.default.runner_copy_dest"
    spark.sql(s"DROP TABLE IF EXISTS $dest")

    def run(mode: String, files: String): Unit = {
      // _build_query_create_stage (component.py:135-144)
      spark.sql(s"""
    CREATE OR REPLACE TABLE $stg (_c0 STRING, _c1 STRING);
    """)
      // _build_query_load_stage (component.py:150-172) — CREDENTIAL
      // clause included verbatim; harmless for a local staging dir
      val loaded = spark.sql(s"""
        COPY INTO $stg
        FROM '$stage/' WITH (
          CREDENTIAL (AWS_ACCESS_KEY = 'AKTEST',
                      AWS_SECRET_KEY = 'secret',
                      AWS_SESSION_TOKEN = 'token')
        )
        FILEFORMAT = CSV
        FILES = ($files)
        FORMAT_OPTIONS (
          'header' = 'false',
          'inferSchema' = 'false',
          'mergeSchema' = 'false'
        );
        """)
      assert(loaded.columns.toSeq ==
        Seq("num_affected_rows", "num_inserted_rows"))
      assert(loaded.as[(Long, Long)].head() == ((2L, 2L)))
      // CREATE TABLE IF NOT EXISTS … PRIMARY KEY (component.py:221-224)
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $dest (id BIGINT, amount DOUBLE , PRIMARY KEY (id)) USING graft ;""")
      mode match {
        case "append" => // component.py:231-236
          spark.sql(s"""INSERT INTO $dest SELECT CAST(_c0 AS BIGINT) AS id, CAST(_c1 AS DOUBLE) AS amount FROM $stg;""")
        case "upsert" => // component.py:249-258
          spark.sql(s"""
                MERGE INTO $dest AS target
                USING $stg AS source
                ON target.id = CAST(source._c0 AS BIGINT)
                WHEN MATCHED THEN
                  UPDATE SET target.id = CAST(source._c0 AS BIGINT), target.amount = CAST(source._c1 AS DOUBLE)
                WHEN NOT MATCHED THEN
                  INSERT (id, amount)
                  VALUES (CAST(source._c0 AS BIGINT), CAST(source._c1 AS DOUBLE));
                """)
      }
      // _drop_stage_table (component.py:147-148)
      spark.sql(s"DROP TABLE IF EXISTS $stg;")
    }

    run("append", "'slice00.csv'")
    run("upsert", "'slice01.csv'")
    val got = spark.sql(s"SELECT id, amount FROM $dest ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.5), (2L, 99.0), (3L, 30.0)))
    // the stage is gone, not lingering
    assert(!spark.catalog.tableExists(stg))
    spark.sql(s"DROP TABLE $dest")
  }
}
