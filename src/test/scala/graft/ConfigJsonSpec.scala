package graft

import graft.core._
import graft.lake.LakeTable
import graft.runner._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** config.json ingestion, credential seam, sliced input, and resource
  * knobs — the parity surface of the reference's pydantic entry
  * contract (configuration.py + component.py:301-351).
  */
class ConfigJsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = Paths.get("src/test/resources/datadir-sample")
  private def tmp(): Path = Files.createTempDirectory("graft-cfg")

  // ---- parsing ------------------------------------------------------------

  test("fixture datadir parses: fields, secrets, defaults") {
    val dd = DataDirConfig.load(fixture)
    assert(dd.action == "run")
    val c = dd.config
    assert(c.destination.catalog == "analytics")
    assert(c.destination.schemaName == "bronze")
    assert(c.destination.table == "acct")
    assert(c.destination.tableType == TableType.Native)
    assert(c.destination.mode == LoadType.Append)
    assert(c.destination.compression == "SNAPPY")
    assert(c.batchSize == 1000)
    assert(c.threads == 3)
    assert(c.maxMemoryMb == 512)
    assert(c.secrets.awsKeySecret == "not-a-real-secret")
    // defaults for everything the file omits
    assert(c.accessMethod == AccessMethod.DirectStorage)
    assert(c.preserveInsertionOrder && !c.debug && !c.keepStage)
  }

  test("secrets never appear in toString (structural redaction)") {
    val c = DataDirConfig.load(fixture).config
    assert(!c.toString.contains("not-a-real-secret"))
    assert(c.toString.contains("--SENSITIVE--"))
  }

  test("validation errors flatten pydantic-style, all fields at once") {
    val e = intercept[UserException](DataDirConfig.parse(
      """{"parameters": {
        |  "batch_size": "lots",
        |  "debug": "maybe",
        |  "destination": {"table": "t", "table_type": "spreadsheet", "mode": "replace"}
        |}}""".stripMargin))
    val msg = e.getMessage
    assert(msg.startsWith("Validation Error: "))
    assert(msg.contains("batch_size: Input should be a valid integer"))
    assert(msg.contains("debug: Input should be a valid boolean"))
    assert(msg.contains("table_type: Input should be 'external' or 'native'"))
    assert(msg.contains(
      "mode: Input should be 'error', 'append', 'overwrite' or 'upsert'"))
  }

  test("missing destination is a required-field error") {
    val e = intercept[UserException](
      DataDirConfig.parse("""{"parameters": {"threads": 2}}"""))
    assert(e.getMessage.contains("destination: Field required"))
  }

  test("reference sample config.json fails exactly like pydantic would") {
    // the sample-config is the generic component
    // template (hubspot-ish parameters, no destination); its own
    // pydantic Configuration model would reject it with a
    // required-field error — so must we, with the same message shape
    val ref = Paths.get("/root/reference/component_config/sample-config")
    val e = intercept[UserException](DataDirConfig.load(SampleConfig.dir(ref)))
    assert(e.getMessage.startsWith("Validation Error: "))
    assert(e.getMessage.contains("destination: Field required"))
  }

  test("unknown parameters are ignored (pydantic extra-ignore)") {
    val c = DataDirConfig.parse(
      """{"parameters": {"print_hello": true, "endpoints": ["a"],
        |  "destination": {"table": "t"}}}""".stripMargin).config
    assert(c.destination.table == "t")
  }

  test("numeric strings coerce like pydantic; missing action defaults to run") {
    val dd = DataDirConfig.parse(
      """{"parameters": {"threads": "4", "destination": {"table": "t"}}}""")
    assert(dd.action == "run" && dd.config.threads == 4)
  }

  test("num_buckets validates like every other int field (coerce + error)") {
    val ok = DataDirConfig.parse(
      """{"parameters": {"destination": {"table": "t", "bucket_by": ["a"], "num_buckets": "4"}}}""")
    assert(ok.config.destination.numBuckets == 4)
    val e = intercept[UserException](DataDirConfig.parse(
      """{"parameters": {"destination": {"table": "t", "num_buckets": 4.5}}}"""))
    assert(e.getMessage.contains("num_buckets: Input should be a valid integer"))
  }

  test("string fields reject non-string scalars (pydantic v2 strict str)") {
    val e = intercept[UserException](DataDirConfig.parse(
      """{"parameters": {"provider": 42,
        |  "destination": {"table": null}}}""".stripMargin))
    assert(e.getMessage.contains("provider: Input should be a valid string"))
    assert(e.getMessage.contains("table: Input should be a valid string"))
  }

  // ---- resource knobs -----------------------------------------------------

  test("session conf derives from config: local[threads], batch_size file cap") {
    val conf = Sessions.sparkConfFor(
      Config(threads = 7, batchSize = 1234, destination = Destination()))
    assert(conf("spark.master") == "local[7]")
    assert(conf("spark.sql.shuffle.partitions") == "7")
    assert(conf("spark.sql.files.maxRecordsPerFile") == "1234")
  }

  // ---- credential seam ----------------------------------------------------

  test("direct-storage provider maps: s3 / abs / gcs option keys + uri") {
    val d = Destination(containerName = "bkt", blobName = "path/t")
    val s3 = DirectStorageCredentials.resolve(Config(
      destination = d, provider = "s3", awsRegion = "eu-1", awsKeyId = "AK",
      secrets = Secrets(awsKeySecret = "SK")))
    assert(s3.uri == "s3://bkt/path/t")
    assert(s3.options("aws_region") == "eu-1")
    assert(s3.options("aws_access_key_id") == "AK")
    assert(s3.options("aws_secret_access_key") == "SK")
    assert(s3.options("timeout") == "3600s" && s3.options("max_retries") == "2")

    val abs = DirectStorageCredentials.resolve(Config(
      destination = d, provider = "abs", absAccountName = "acct",
      secrets = Secrets(absSasToken = "sas")))
    assert(abs.uri == "az://bkt/path/t")
    assert(abs.options("azure_storage_account_name") == "acct")
    assert(abs.options("azure_storage_sas_token") == "sas")

    val gcs = DirectStorageCredentials.resolve(Config(
      destination = d, provider = "gcs",
      secrets = Secrets(gcpServiceAccountKey = "key")))
    assert(gcs.uri == "gs://bkt/path/t")
    assert(gcs.options("google_service_account_key") == "key")
  }

  test("unknown provider raises the reference error; UC access tolerates it") {
    val e = intercept[UserException](DirectStorageCredentials.resolve(
      Config(provider = "ftp")))
    assert(e.getMessage == "Unknown provider: ftp")
    // unity_catalog access method defers to the UC credential path
    DirectStorageCredentials.resolve(
      Config(provider = "ftp", accessMethod = AccessMethod.UnityCatalog))
  }

  test("storage options translate onto Hadoop conf keys (S4)") {
    val hc = StorageCredentials("s3://b/t", Map(
      "aws_region" -> "r", "aws_access_key_id" -> "AK",
      "aws_secret_access_key" -> "SK", "aws_session_token" -> "ST")).hadoopConf
    assert(hc("fs.s3a.endpoint.region") == "r")
    assert(hc("fs.s3a.access.key") == "AK")
    assert(hc("fs.s3a.secret.key") == "SK")
    assert(hc("fs.s3a.session.token") == "ST")
    assert(hc("fs.s3a.aws.credentials.provider").contains("TemporaryAWSCredentials"))
    val az = StorageCredentials("az://b/t", Map(
      "azure_storage_account_name" -> "acct",
      "azure_storage_sas_token" -> "sas")).hadoopConf
    assert(az("fs.azure.sas.fixed.token.acct.dfs.core.windows.net") == "sas")
  }

  test("GCS key CONTENT becomes an owner-only keyfile, not a bogus path") {
    val sc = StorageCredentials("gs://b/t",
      Map("google_service_account_key" -> """{"type":"service_account"}"""))
    // the pure mapping never places key content where a path belongs
    assert(!sc.hadoopConf.contains("fs.gs.auth.service.account.json.keyfile"))
    assert(sc.hadoopConf("fs.gs.auth.type") == "SERVICE_ACCOUNT_JSON_KEYFILE")
    sc.applyTo(spark)
    val path = spark.sparkContext.hadoopConfiguration
      .get("fs.gs.auth.service.account.json.keyfile")
    assert(path != null && Files.exists(Paths.get(path)))
    assert(Files.readString(Paths.get(path)) == """{"type":"service_account"}""")
  }

  test("UC credentials: fake-backed seam, missing table + permission denied (C6/E3)") {
    val cfg = Config(destination = Destination(
      catalog = "c", schemaName = "s", table = "t"))
    val missing = new UnityCatalogCredentials(new UcClient {
      def tableExists(n: String) = false
      def tempTableCredentials(n: String) = fail("unreachable")
      def region = "r"
    })
    val e1 = intercept[UserException](missing.resolve(cfg))
    assert(e1.getMessage ==
      "External table c.s.t does not exist in Unity Catalog, please create it.")

    val denied = new UnityCatalogCredentials(new UcClient {
      def tableExists(n: String) = true
      def tempTableCredentials(n: String) =
        throw new PermissionDeniedException("no READ_WRITE on t")
      def region = "r"
    })
    val e2 = intercept[UserException](denied.resolve(cfg))
    assert(e2.getMessage == "Permission denied: no READ_WRITE on t")

    val aws = new UnityCatalogCredentials(new UcClient {
      def tableExists(n: String) = true
      def tempTableCredentials(n: String) =
        UcTempCredentials("s3://uc-bucket/tables/t",
          awsTemp = Some(("AK", "SK", "ST")))
      def region = "eu-1"
    }).resolve(cfg)
    assert(aws.uri == "s3://uc-bucket/tables/t")
    assert(aws.options("aws_session_token") == "ST")
    assert(aws.options("aws_region") == "eu-1")

    val az = new UnityCatalogCredentials(new UcClient {
      def tableExists(n: String) = true
      def tempTableCredentials(n: String) =
        UcTempCredentials("abfss://cont@acctname.dfs.core.windows.net/t",
          azureSasToken = Some("sas"))
      def region = "r"
    }).resolve(cfg)
    assert(az.options("azure_storage_account_name") == "acctname")
    assert(az.options("azure_storage_sas_token") == "sas")
  }

  test("run action dispatches on access_method: UC configs hit the UC seam") {
    val cfg = Config(
      accessMethod = AccessMethod.UnityCatalog,
      destination = Destination(catalog = "c", schemaName = "s", table = "t"))
    // direct storage keeps the direct provider
    assert(Main.credentialProviderFor(cfg.copy(accessMethod = AccessMethod.DirectStorage))
      eq DirectStorageCredentials)
    // default UC factory refuses clearly (sandbox has no endpoint)
    val e = intercept[UserException](Main.credentialProviderFor(cfg))
    assert(e.getMessage.contains("UcClient"))
    // an installed client surfaces the reference's UC errors on the CLI
    // path; the mock is passed explicitly (no global mutation — suites
    // run in parallel in the forked JVM)
    val mock: graft.core.Config => UcClient = _ => new UcClient {
      def tableExists(n: String) = false
      def tempTableCredentials(n: String) = fail("unreachable")
      def region = "r"
    }
    val e2 = intercept[UserException](
      Main.credentialProviderFor(cfg, mock).resolve(cfg))
    assert(e2.getMessage ==
      "External table c.s.t does not exist in Unity Catalog, please create it.")
  }

  test("storage-api client: linear backoff, last-exception rethrow (C5 contract)") {
    // succeeds on the 3rd attempt; sleeps 1s then 2s (recorded, not slept)
    val sleeps = collection.mutable.Buffer[Long]()
    var calls = 0
    val c = new StorageApiClient[String](
      transport = url => { calls += 1
        if (calls < 3) throw new RuntimeException(s"boom$calls") else s"ok:$url" },
      retryAttempts = 3, sleep = sleeps.+=(_))
    assert(c.getTableDetail("https://sapi/", "in.c-main.acct") ==
      "ok:https://sapi/v2/storage/tables/in.c-main.acct")
    assert(calls == 3 && sleeps.toSeq == Seq(1000L, 2000L))

    // exhausted attempts rethrow the LAST failure, no trailing sleep
    val sleeps2 = collection.mutable.Buffer[Long]()
    var calls2 = 0
    val bad = new StorageApiClient[String](
      transport = _ => { calls2 += 1; throw new RuntimeException(s"fail$calls2") },
      retryAttempts = 3, sleep = sleeps2.+=(_))
    val e = intercept[RuntimeException](bad.get("u"))
    assert(e.getMessage == "fail3")
    assert(calls2 == 3 && sleeps2.toSeq == Seq(1000L, 2000L))
  }

  // ---- sliced CSV ---------------------------------------------------------

  test("sliced table: 3 headerless chunks read as one input (S5 slices)") {
    val dd = tmp()
    val tdir = dd.resolve("in/tables"); Files.createDirectories(tdir)
    val slices = tdir.resolve("acct.csv"); Files.createDirectories(slices)
    Files.writeString(slices.resolve("part.00"), "1,10.5,2024-01-01T00:00:00\n")
    Files.writeString(slices.resolve("part.01"),
      "2,20.25,2024-01-02T00:00:00\n3,7.75,2024-01-03T00:00:00\n")
    Files.writeString(slices.resolve("part.02"), "4,1.0,2024-01-04T00:00:00\n")
    Files.writeString(tdir.resolve("acct.csv.manifest"),
      """{"name":"acct","columns":["id","amount","when"],
        |"column_metadata":{
        | "id":[{"key":"KBC.datatype.basetype","value":"INTEGER"}],
        | "amount":[{"key":"KBC.datatype.basetype","value":"FLOAT"}]}}""".stripMargin)

    val t = TableDef.fromDataDir(dd).head
    assert(t.sliced && t.dataPaths.size == 3)

    val dest = dd.resolve("lake")
    Runner.run(spark,
      Config(destination = Destination(mode = LoadType.Append)), dd, dest)
    val got = new LakeTable(spark, dest).read()
    // oracle: the concatenation of the slices, typed per manifest
    assert(got.count() == 4)
    assert(got.select($"id", $"amount").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.5), (2L, 20.25), (3L, 7.75), (4L, 1.0)))
  }

  // ---- datadir E2E through Main -------------------------------------------

  test("E2E: unmodified fixture datadir drives run + sync actions through Main") {
    // copy the fixture so out/ writes stay inside a temp dir
    val dd = tmp()
    def copy(rel: String): Unit = {
      val to = dd.resolve(rel)
      Files.createDirectories(to.getParent)
      Files.copy(fixture.resolve(rel), to)
    }
    copy("config.json")
    copy("in/tables/acct.csv")
    copy("in/tables/acct.csv.manifest")

    val parsed = DataDirConfig.load(dd)
    // run action: native append via the config's destination tree
    Main.executeDataDir(spark, parsed, dd, destOverride = None)
    val dest = Main.resolveDest(parsed.config, dd)
    assert(dest == dd.resolve("out/tables/analytics/bronze/acct"))
    val got = new LakeTable(spark, dest).read()
    assert(got.count() == 3)
    assert(got.schema.map(_.dataType.typeName).toSeq ==
      Seq("long", "double", "timestamp"))

    // sync actions dispatch through the same entry
    Main.executeDataDir(spark, parsed.copy(action = "list_uc_catalogs"), dd, None)
    Main.executeDataDir(spark, parsed.copy(action = "list_warehouses"), dd, None)
    Main.executeDataDir(spark, parsed.copy(action = "list_table_columns"), dd, None)
    val bad = intercept[UserException](
      Main.executeDataDir(spark, parsed.copy(action = "bogus"), dd, None))
    assert(bad.getMessage.contains("Unknown action"))
  }
}
