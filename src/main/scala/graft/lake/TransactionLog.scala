package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A Spark-native transactional table log implementing the open Delta
  * Lake transaction protocol subset the reference exercises through
  * delta-rs (`write_deltalake`, /root/reference/src/component.py:353-365):
  * ordered JSON commits under `_delta_log/`, `add`/`remove` file
  * reconciliation, `metaData` with a Spark-JSON `schemaString` and
  * partition columns, optimistic concurrency via atomic
  * put-if-absent commit files.
  *
  * Design (Delta Lake paper, VLDB'20): the log is the source of truth —
  * readers never list data directories, they reconstruct a snapshot
  * from the log. This is what makes the format object-store friendly at
  * 100 TB: O(commits) metadata reads instead of O(files) LIST calls,
  * and atomic visibility for multi-file writes (the reference's
  * per-25k-row-batch commit loop is strictly weaker — SURVEY.md §7.3).
  */
object TransactionLog {
  private[lake] val mapper = new ObjectMapper()

  /** Deletion vector attached to a data file (merge-on-read): `path`
    * locates a parquet holding `(fid, row)` pairs — `fid` a small
    * integer ordinal assigned per DV write, `row` the data file's
    * parquet row index — and the file's live rows are its physical
    * rows minus the pairs whose `fid` equals THIS descriptor's `fid`.
    * Dictionary encoding by design: the DV payload is pure numerics
    * (int, long) while the file-path strings live only in descriptors
    * (metadata-scale) — at billions of deletes the broadcast the scan
    * ships is (int, int, long) rows, never repeated path strings.
    * `path` is table-relative normally, an absolute URI on borrowed
    * files (shallow clones) — resolve with [[resolvePath]].
    * CUMULATIVE contract: the descriptor a data file carries always
    * references the complete delete set for that file (each new DV
    * write unions the old rows in), so any still-referenced OLDER DV
    * file holds a subset for it — which is what lets readers apply the
    * union of referenced DV files with a plain anti-join, no
    * per-file version resolution. `cardinality` = deleted rows of
    * THIS file; `sizeInBytes` = the DV parquet's size (broadcast
    * heuristic). The descriptor's SHAPE follows the Delta protocol's
    * `add.deletionVector` field, but the content is graft-specific
    * (a (fid,row) parquet, not a serialized RoaringBitmap) — hence
    * the `g` storage type below, not a Delta-readable one.
    */
  final case class DvDescriptor(path: String, fid: Int, cardinality: Long, sizeInBytes: Long)

  final case class AddFile(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      dataChange: Boolean = true,
      stats: Option[String] = None,
      dv: Option[DvDescriptor] = None) {
    private lazy val statsNode =
      stats.flatMap(s => try Some(mapper.readTree(s)) catch { case _: Throwable => None })
    def numRecords: Option[Long] =
      statsNode.flatMap(n => Option(n.get("numRecords")).map(_.asLong))
    def minValues: Map[String, com.fasterxml.jackson.databind.JsonNode] = statsMap("minValues")
    def maxValues: Map[String, com.fasterxml.jackson.databind.JsonNode] = statsMap("maxValues")
    def nullCount: Map[String, Long] =
      statsNode.flatMap(n => Option(n.get("nullCount"))).map { o =>
        o.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.getOrElse(Map.empty)
    private def statsMap(key: String): Map[String, com.fasterxml.jackson.databind.JsonNode] =
      statsNode.flatMap(n => Option(n.get(key))).map { o =>
        o.properties().asScala.map(e => e.getKey -> e.getValue).toMap
      }.getOrElse(Map.empty)
  }

  final case class Metadata(
      id: String,
      schema: StructType,
      partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty)

  final case class Snapshot(
      version: Long,
      metadata: Metadata,
      files: Seq[AddFile]) {
    def schema: StructType = metadata.schema
  }

  final case class CommitInfo(
      version: Long,
      timestamp: Long,
      operation: String,
      operationParameters: Map[String, String])

  def logDir(table: Path): Path = table.resolve("_delta_log")

  private def versionFile(table: Path, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")

  def tableExists(table: Path): Boolean =
    Files.isDirectory(logDir(table)) && latestVersion(table) >= 0

  def latestVersion(table: Path): Long = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return -1L
    listNames(dir)
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** File names of a directory with the listing stream CLOSED (a bare
    * Files.list leaks one descriptor per call until GC).
    */
  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  /** Atomic put-if-absent commit. Writes actions to a temp file then
    * hard-links it to the version file — link creation fails if the
    * target exists, which is the optimistic-concurrency check (the
    * local-filesystem analog of an object store's If-None-Match PUT).
    * Returns false when another writer won the version.
    */
  def tryCommit(table: Path, version: Long, actions: Seq[ObjectNode]): Boolean = {
    val dir = logDir(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, actions.map(mapper.writeValueAsString).mkString("", "\n", "\n"))
    val target = versionFile(table, version)
    try {
      try Files.createLink(target, tmp)
      catch {
        case _: UnsupportedOperationException =>
          // Filesystems without hard links: non-atomic existence check +
          // atomic move. Good enough for a dev filesystem.
          if (Files.exists(target)) throw new java.nio.file.FileAlreadyExistsException(target.toString)
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }
    }
  }

  // ---- action constructors ------------------------------------------------

  def protocolAction(): ObjectNode = {
    val n = mapper.createObjectNode()
    val p = n.putObject("protocol")
    p.put("minReaderVersion", 1)
    p.put("minWriterVersion", 2)
    n
  }

  def metadataAction(meta: Metadata): ObjectNode = {
    val n = mapper.createObjectNode()
    val m = n.putObject("metaData")
    m.put("id", meta.id)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", meta.schema.json)
    val pc = m.putArray("partitionColumns")
    meta.partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    meta.configuration.foreach { case (k, v) => cfg.put(k, v) }
    n
  }

  def addAction(f: AddFile): ObjectNode = {
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", f.path)
    val pv = a.putObject("partitionValues")
    f.partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    a.put("size", f.size)
    a.put("modificationTime", f.modificationTime)
    a.put("dataChange", f.dataChange)
    f.stats.foreach(st => a.put("stats", st))
    f.dv.foreach { d =>
      val dn = a.putObject("deletionVector")
      dn.put("pathOrInlineDv", d.path)
      // graft-specific storage type (in Delta, `p` means an ABSOLUTE
      // path and the payload is a RoaringBitmap; ours is a (fid,row)
      // parquet keyed table-relative) — a Delta reader must reject it
      // rather than mis-resolve it
      dn.put("storageType", "g")
      dn.put("graftFid", d.fid)
      dn.put("cardinality", d.cardinality)
      dn.put("sizeInBytes", d.sizeInBytes)
    }
    n
  }

  def removeAction(path: String, timestamp: Long, dataChange: Boolean = true): ObjectNode = {
    val n = mapper.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", timestamp)
    r.put("dataChange", dataChange)
    n
  }

  def commitInfoAction(operation: String, params: Map[String, String], ts: Long): ObjectNode = {
    val n = mapper.createObjectNode()
    val c = n.putObject("commitInfo")
    c.put("timestamp", ts)
    c.put("operation", operation)
    val p = c.putObject("operationParameters")
    params.foreach { case (k, v) => p.put(k, v) }
    n
  }

  // ---- checkpoints --------------------------------------------------------

  /** Checkpoint cadence: every N commits the full reconciled action
    * set is written to `<version>.checkpoint.json` and advertised in
    * `_last_checkpoint`, so snapshot reconstruction reads
    * O(1) checkpoint + O(N) tail instead of O(history) — the property
    * that keeps a streaming-ingested table (thousands of commits)
    * readable in constant time. (Divergence from the Delta spec's
    * parquet checkpoints, documented: same layout, JSON-lines encoding
    * — the driver-side log is metadata-scale, not data-scale.)
    */
  val CheckpointInterval = 10

  private def checkpointFile(table: Path, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  private def lastCheckpointPointer(table: Path): Path =
    logDir(table).resolve("_last_checkpoint")

  /** Latest checkpoint at or below `maxVersion`, if any. */
  def lastCheckpointVersion(table: Path, maxVersion: Long): Option[Long] = {
    val p = lastCheckpointPointer(table)
    val advertised =
      if (!Files.exists(p)) None
      else try Some(mapper.readTree(Files.readString(p)).get("version").asLong)
      catch { case NonFatal(_) => None }
    advertised.filter(v => v <= maxVersion && Files.exists(checkpointFile(table, v)))
      .orElse {
        if (!Files.isDirectory(logDir(table))) None
        else listNames(logDir(table)).iterator
          .filter(_.endsWith(".checkpoint.json"))
          .map(_.stripSuffix(".checkpoint.json").toLong)
          .filter(_ <= maxVersion)
          .maxOption
      }
  }

  /** Writes the checkpoint for `version` from its snapshot. */
  def writeCheckpoint(table: Path, snap: Snapshot): Unit = {
    val actions = Seq(protocolAction(), metadataAction(snap.metadata)) ++
      snap.files.map(addAction)
    val tmp = logDir(table).resolve(s".ckpt-${UUID.randomUUID()}.json")
    Files.writeString(tmp, actions.map(mapper.writeValueAsString).mkString("", "\n", "\n"))
    Files.move(tmp, checkpointFile(table, snap.version),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val ptr = mapper.createObjectNode()
    ptr.put("version", snap.version)
    ptr.put("size", snap.files.size)
    val ptmp = logDir(table).resolve(s".ckptr-${UUID.randomUUID()}.json")
    Files.writeString(ptmp, mapper.writeValueAsString(ptr))
    Files.move(ptmp, lastCheckpointPointer(table),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes a checkpoint if `version` hits the cadence. */
  def maybeCheckpoint(table: Path, version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0)
      try writeCheckpoint(table, snapshot(table, version))
      catch { case NonFatal(_) => () } // checkpoints are an optimization, never fail a commit

  // ---- snapshot reconstruction -------------------------------------------

  /** Reconstructs the state at `targetVersion` (or latest): start from
    * the newest checkpoint ≤ target, replay the JSON tail. Last
    * metaData wins; `add` then `remove` of the same path cancels;
    * re-`add` of a live path replaces it (upsert rewrite).
    */
  def snapshot(table: Path, targetVersion: Long = -1L): Snapshot = {
    val latest = latestVersion(table)
    if (latest < 0)
      throw new IllegalStateException(s"Not a lake table (no _delta_log): $table")
    val version =
      if (targetVersion < 0) latest
      else if (targetVersion > latest)
        throw new IllegalArgumentException(
          s"Version $targetVersion does not exist; latest is $latest")
      else targetVersion

    var meta: Metadata = null
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val ckpt = lastCheckpointVersion(table, version)
    ckpt.foreach { cv =>
      Files.readAllLines(checkpointFile(table, cv)).asScala
        .filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("metaData")) meta = parseMetadata(node)
          else if (node.has("add")) { val a = parseAdd(node); live.put(a.path, a) }
        }
    }
    val from = ckpt.map(_ + 1).getOrElse(0L)
    (from to version).foreach { v =>
      val file = versionFile(table, v)
      if (Files.exists(file)) {
        Files.readAllLines(file).asScala.filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("metaData")) meta = parseMetadata(node)
          else if (node.has("add")) { val a = parseAdd(node); live.put(a.path, a) }
          else if (node.has("remove"))
            live.remove(node.get("remove").get("path").asText)
        }
      }
    }
    if (meta == null)
      throw new IllegalStateException(s"Corrupt lake table (no metaData action): $table")
    Snapshot(version, meta, live.values.toSeq)
  }

  private def parseMetadata(node: com.fasterxml.jackson.databind.JsonNode): Metadata = {
    val m = node.get("metaData")
    Metadata(
      m.get("id").asText,
      DataType.fromJson(m.get("schemaString").asText).asInstanceOf[StructType],
      m.get("partitionColumns").elements().asScala.map(_.asText).toSeq,
      Option(m.get("configuration")).map { c =>
        c.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty))
  }

  private def parseAdd(node: com.fasterxml.jackson.databind.JsonNode): AddFile = {
    val a = node.get("add")
    val pv = Option(a.get("partitionValues")).map { o =>
      o.properties().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)).toMap
    }.getOrElse(Map.empty[String, String])
    val st = Option(a.get("stats")).filter(!_.isNull).map(_.asText)
    val dv = Option(a.get("deletionVector")).filter(!_.isNull).map { d =>
      // Foreign/legacy descriptors are rejected LOUDLY: a Delta-style
      // descriptor (storageType "u"/"i"/"p" — UUID-relative or
      // absolute RoaringBitmap payloads) or a pre-fid graft one would
      // otherwise parse with fid defaulted to 0, match nothing in the
      // numeric mask/anti-join, and silently RESURRECT deleted rows.
      val st = Option(d.get("storageType")).filter(!_.isNull)
        .map(_.asText).getOrElse("<missing>")
      if (st != "g" || !d.has("graftFid"))
        throw graft.core.UserException(
          s"Unsupported deletionVector descriptor on file " +
            s"'${a.get("path").asText}' (storageType=$st" +
            (if (d.has("graftFid")) "" else ", no graftFid") +
            "): this reader only supports graft storageType 'g' " +
            "(fid,row)-parquet deletion vectors")
      DvDescriptor(d.get("pathOrInlineDv").asText, d.get("graftFid").asInt,
        d.get("cardinality").asLong, d.get("sizeInBytes").asLong)
    }
    AddFile(a.get("path").asText, pv, a.get("size").asLong,
      a.get("modificationTime").asLong, a.get("dataChange").asBoolean(true), st, dv)
  }

  /** Files added in each version of `(fromVersion..toVersion)`
    * inclusive, in version order — the raw material for incremental
    * (CDC-style) reads. Only metadata is touched: one small JSON file
    * per commit, no data I/O.
    */
  def addsBetween(table: Path, fromVersion: Long, toVersion: Long): Seq[(Long, Seq[AddFile])] =
    (math.max(fromVersion, 0L) to toVersion).flatMap { v =>
      val file = versionFile(table, v)
      if (!Files.exists(file)) None
      else {
        val adds = Files.readAllLines(file).asScala.filter(_.nonEmpty)
          .map(mapper.readTree)
          .filter(_.has("add"))
          .map(parseAdd)
          .toSeq
        if (adds.isEmpty) None else Some(v -> adds)
      }
    }

  /** Commit history, newest first (like DESCRIBE HISTORY), as of the
    * latest version at the call. Lazy: a commit's JSON is read only
    * when the caller reaches it, so a newest-first lookup that stops
    * early reads only the tail of the log.
    */
  def history(table: Path): Seq[CommitInfo] = {
    val latest = latestVersion(table)
    LazyList.from(latest to 0L by -1L).flatMap { v =>
      val file = versionFile(table, v)
      if (!Files.exists(file)) None
      else Files.readAllLines(file).asScala.collectFirst {
        case line if line.nonEmpty && mapper.readTree(line).has("commitInfo") =>
          val c = mapper.readTree(line).get("commitInfo")
          CommitInfo(v, c.get("timestamp").asLong, c.get("operation").asText,
            Option(c.get("operationParameters")).map { p =>
              p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
            }.getOrElse(Map.empty))
      }
    }
  }

  def pathOf(s: String): Path = Paths.get(s)

  /** Resolves an add-action path: table-relative normally, absolute
    * URI for borrowed files (shallow clones) — mirroring the Delta
    * protocol, where add.path may be either.
    */
  def resolvePath(table: Path, p: String): Path =
    if (p.contains("://")) Paths.get(java.net.URI.create(p))
    else table.resolve(p)
}
