package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Keboola-datadir `config.json` ingestion — the component's REAL
  * entry contract (/root/reference/src/component.py:25-27 via
  * ComponentBase + /root/reference/src/configuration.py:38-62).
  *
  * The datadir root holds `config.json` with the
  * storage / parameters / action tree; `parameters` parses into
  * [[Config]] with the same field names, `#`-prefixed secret aliases,
  * defaults, and enum domains as the reference's pydantic models, and
  * malformed input raises the same flattened
  * `Validation Error: field: msg, ...` UserException shape
  * (configuration.py:57-62 — pydantic error list joined on ", ").
  * The `action` field (default "run") drives dispatch exactly like
  * `execute_action()` (component.py:431-432).
  */
final case class DataDirConfig(
    action: String,
    config: Config,
)

object DataDirConfig {
  private val mapper = new ObjectMapper()

  /** Pydantic-v2-style per-field error accumulator: every failed
    * coercion contributes `field: msg`, and all of them flatten into
    * ONE UserException — the user sees every problem at once, not the
    * first.
    */
  private final class Errs {
    private val b = Seq.newBuilder[String]
    def add(field: String, msg: String): Unit = b += s"$field: $msg"
    def raise(): Unit = {
      val es = b.result()
      if (es.nonEmpty)
        throw UserException("Validation Error: " + es.mkString(", "))
    }
  }

  def load(dataDir: Path): DataDirConfig = {
    val f = dataDir.resolve("config.json")
    if (!Files.exists(f))
      throw UserException(s"config.json not found in datadir: $dataDir")
    parse(Files.readString(f))
  }

  def parse(json: String): DataDirConfig = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: Exception =>
          throw UserException(s"config.json is not valid JSON: ${e.getMessage}")
      }
    val action = str(root, "action").getOrElse("run")
    val params = Option(root.get("parameters")).getOrElse(mapper.createObjectNode())
    DataDirConfig(action, parseParameters(params))
  }

  /** Parses the `parameters` subtree into [[Config]], accumulating
    * pydantic-shaped field errors.
    */
  def parseParameters(p: JsonNode): Config = {
    val errs = new Errs

    def intNodeF(node: JsonNode, field: String, default: Int): Int = {
      // range-checked: Jackson's asInt silently truncates a long, and
      // "99999999999".toInt would throw past the error accumulator
      def fit(l: Long): Int =
        if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt
        else { errs.add(field, "Input should be a valid integer"); default }
      Option(node.get(field)) match {
        case None => default
        case Some(n) if n.isIntegralNumber && n.canConvertToLong => fit(n.asLong)
        // pydantic coerces numeric strings ("3" -> 3) but not text
        case Some(n) if n.isTextual && n.asText.matches("-?\\d{1,18}") =>
          fit(n.asText.toLong)
        case Some(_) =>
          errs.add(field, "Input should be a valid integer"); default
      }
    }
    def intF(field: String, default: Int): Int = intNodeF(p, field, default)

    def boolF(field: String, default: Boolean): Boolean =
      Option(p.get(field)) match {
        case None => default
        case Some(n) if n.isBoolean => n.asBoolean
        case Some(n) if n.isTextual && Set("true", "false")(n.asText.toLowerCase) =>
          n.asText.toLowerCase == "true"
        case Some(_) =>
          errs.add(field, "Input should be a valid boolean"); default
      }

    def strF(node: JsonNode, field: String, default: String = ""): String =
      Option(node.get(field)) match {
        case None => default
        case Some(n) if n.isTextual => n.asText
        // pydantic v2 `str` is strict-ish: numbers/booleans/null are NOT
        // coerced (a bare NullNode.asText would even yield "null")
        case Some(_) =>
          errs.add(field, "Input should be a valid string"); default
      }

    def enumF[E <: Enumeration](node: JsonNode, field: String, e: E, default: E#Value): E#Value =
      Option(node.get(field)) match {
        case None => default
        case Some(n) =>
          val v = n.asText
          e.values.find(_.toString == v).getOrElse {
            // declaration order, matching the reference's enum listing
            val domain = e.values.toSeq.sortBy(_.id).map(x => s"'$x'")
            errs.add(field,
              s"Input should be ${domain.init.mkString(", ")} or ${domain.last}")
            default
          }
      }

    def strList(node: JsonNode, field: String): Seq[String] =
      Option(node.get(field)) match {
        case None => Nil
        case Some(n) if n.isArray => n.elements().asScala.map(_.asText).toSeq
        case Some(_) =>
          errs.add(field, "Input should be a valid list"); Nil
      }

    val dest = Option(p.get("destination")) match {
      case None =>
        // pydantic: `destination: Destination` has no default -> required
        errs.add("destination", "Field required")
        Destination()
      case Some(d) =>
        Destination(
          containerName = strF(d, "container_name"),
          blobName = strF(d, "blob_name"),
          catalog = strF(d, "catalog"),
          schemaName = strF(d, "schema_name"),
          table = strF(d, "table"),
          tableType = enumF(d, "table_type", TableType, TableType.External)
            .asInstanceOf[TableType.Value],
          warehouse = strF(d, "warehouse"),
          mode = enumF(d, "mode", LoadType, LoadType.Append)
            .asInstanceOf[LoadType.Value],
          partitionBy = strList(d, "partition_by"),
          compression = strF(d, "compression", "UNCOMPRESSED"),
          dedupColumns = strList(d, "dedup_columns"),
          bucketBy = strList(d, "bucket_by"),
          numBuckets = intNodeF(d, "num_buckets", 0), // bucketing extension field
          bucketSortBy = strList(d, "bucket_sort_by"),
        )
    }

    val cfg = Config(
      destination = dest,
      accessMethod = enumF(p, "access_method", AccessMethod, AccessMethod.DirectStorage)
        .asInstanceOf[AccessMethod.Value],
      batchSize = intF("batch_size", 25000),
      preserveInsertionOrder = boolF("preserve_insertion_order", default = true),
      debug = boolF("debug", default = false),
      threads = intF("threads", 1),
      maxMemoryMb = intF("max_memory", 256),
      keepStage = boolF("keep_stage", default = false),
      provider = strF(p, "provider"),
      unityCatalogUrl = strF(p, "unity_catalog_url"),
      absAccountName = strF(p, "abs_account_name"),
      awsRegion = strF(p, "aws_region"),
      awsKeyId = strF(p, "aws_key_id"),
      secrets = Secrets(
        unityCatalogToken = strF(p, "#unity_catalog_token"),
        absSasToken = strF(p, "#abs_sas_token"),
        awsKeySecret = strF(p, "#aws_key_secret"),
        gcpServiceAccountKey = strF(p, "#gcp_service_account_key"),
      ),
    )
    errs.raise()
    Config.validated(cfg)
  }

  private def str(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filter(_.isTextual).map(_.asText)
}
