package graft.streaming

import graft.lake.{LakeTable, TransactionLog}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.{Path, Paths}

/** Streaming SOURCE over a lake table — `readStream.format("graft")
  * .load(path)` tails the transaction log: each micro-batch is the
  * rows appended in a commit-version range, resolved from log
  * metadata only (no directory listing, no snapshot diff — the same
  * `changes()` path the batch CDC reader uses). Offsets are commit
  * versions, so checkpoint recovery replays exactly the uncommitted
  * version range.
  *
  * Batch 0 is the table's current snapshot (versions 0..v), then each
  * subsequent batch covers (prevVersion, currentVersion]. Semantics
  * are append-driven like Delta's default streaming source:
  * compaction is invisible (`dataChange=false` adds are skipped), and
  * rows re-added by MERGE/UPDATE copy-on-write rewrites surface as
  * fresh appends — key-level consumers deduplicate downstream
  * (`EventStreams.dedupStream`).
  *
  * Every emitted row carries `_commit_version` — the join point for
  * incremental downstream bookkeeping.
  */
class GraftStreamSource(sqlContext: SQLContext, tablePath: Path) extends Source {

  private val spark = sqlContext.sparkSession
  private val lake = new LakeTable(spark, tablePath)

  override val schema: StructType = StructType(
    TransactionLog.snapshot(tablePath).schema.fields :+
      StructField("_commit_version", LongType, nullable = false))

  private def versionOf(o: Offset): Long = o.json.toLong

  override def getOffset: Option[Offset] = {
    val v = TransactionLog.latestVersion(tablePath)
    if (v < 0) None else Some(LongOffset(v))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val since = start.map(versionOf).getOrElse(-1L)
    val batch = lake.changes(sinceVersion = since, toVersion = versionOf(end))
    // A mid-stream ALTER TABLE changes the snapshot schema; rows are
    // read ordinally, so wrapping them in the stream's stale schema
    // would silently misalign columns. Fail loudly instead — the
    // restarted stream picks up the new schema (Delta's behavior).
    val got = batch.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (got != want)
      throw graft.core.UserException(
        s"Schema of $tablePath changed while streaming (stream started with " +
          s"${want.map(_._1).mkString(",")}; table now has ${got.map(_._1).mkString(",")}). " +
          "Restart the stream to adopt the new schema.")
    // V1 contract: the returned frame must be flagged streaming
    SparkBridge.rowsFrame(spark, batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$tablePath]"
}

object GraftStreamSource {
  /** Provider hooks shared with DefaultSource (kept here so the lake
    * package stays stream-agnostic).
    *
    * `userSchema` is `readStream.schema(...)`: the log is the one
    * authority on a graft table's schema, so a user schema is either
    * redundant (exact match, accepted) or wrong (rejected loudly) —
    * the same fail-loud posture the mid-stream schema-change check
    * takes, instead of silently discarding what the caller declared.
    */
  def sourceSchema(
      parameters: Map[String, String],
      userSchema: Option[StructType]): (String, StructType) = {
    val p = pathOf(parameters)
    val snap = StructType(TransactionLog.snapshot(p).schema.fields :+
      StructField("_commit_version", LongType, nullable = false))
    userSchema.foreach { u =>
      val got = u.fields.map(f => (f.name, f.dataType)).toSeq
      val want = snap.fields.map(f => (f.name, f.dataType)).toSeq
      // _commit_version is stamped by the source; a user schema
      // without it is compared against the table's own columns
      val wantBare = want.dropRight(1)
      if (got != want && got != wantBare)
        throw graft.core.UserException(
          s"User-specified schema (${got.map(_._1).mkString(",")}) does not " +
            s"match the table schema of $p (${want.map(_._1).mkString(",")}); " +
            "the graft streaming source reads the transaction log's schema — " +
            "drop .schema(...) or make it match")
    }
    ("graft", snap)
  }

  def createSource(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      userSchema: Option[StructType]): Source = {
    // re-validate (cheap metadata): Spark passes the user schema to
    // both hooks, and this keeps the seam safe under direct calls too
    sourceSchema(parameters, userSchema)
    new GraftStreamSource(sqlContext, pathOf(parameters))
  }

  private def pathOf(parameters: Map[String, String]): Path =
    Paths.get(parameters.getOrElse("path",
      throw graft.core.UserException("graft streaming source requires a path")))
}
