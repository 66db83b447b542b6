package graft.streaming

import graft.lake.LakeTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.nio.file.Path

/** Structured Streaming surface (an extension — the reference is a
  * single-shot batch component, SURVEY.md §2.12; a 100 TB ingest
  * pipeline needs the streaming posture).
  *
  * Shapes provided:
  * - file-source ingest → the graft lake as an idempotent
  *   `foreachBatch` sink (exactly-once via recorded stream batch ids);
  * - watermarked tumbling-window aggregation;
  * - `mapGroupsWithState` sessionization (the stateful analog of the
  *   batch q17_sessionize query).
  */
object EventStreams {

  /** File-source stream over a directory of parquet drops. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window counts per event type. `tsCol` must
    * be a TimestampType column.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      watermark: String = "10 minutes",
      window: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based session aggregation via the BUILT-IN session window
    * (the declarative counterpart of the `mapGroupsWithState`
    * sessionize below — prefer this one when per-session output is an
    * aggregate, reach for the custom state machine only when session
    * logic can't be expressed as an aggregation). Watermark bounds the
    * state exactly like windowed aggs.
    */
  def sessionWindowCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming exactly-once-per-key dedup with BOUNDED state: keys are
    * remembered only within the watermark horizon, so state size is
    * (keys per horizon), not (keys ever seen) — the difference between
    * a pipeline that runs for a year and one that OOMs in a week. The
    * batch analog of this operator is Dedup.exact; at-least-once
    * upstream delivery (file redelivery, producer retries) becomes
    * exactly-once downstream.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream interval join: right-side events join
    * left-side events with the same key that happened within
    * `[leftTs, leftTs + maxDelay]` — the impressions×clicks /
    * request×response shape. Both watermarks plus the interval bound
    * make the join state PROVABLY bounded: each side can discard
    * buffered rows once the other side's watermark passes the interval,
    * which is what lets the join run forever at ingest scale.
    */
  def joinWithinInterval(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      watermark: String = "10 minutes",
      maxDelay: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) &&
        r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $maxDelay"),
      "inner")
      .drop(r(keyCol))
  }

  // ---- stateful sessionization -------------------------------------------

  final case class SessionEvent(user_id: Long, ms: Long, value: Double)
  final case class SessionState(sessionId: Long, lastMs: Long, n: Long, sum: Double)
  final case class SessionUpdate(
      user_id: Long, session_id: Long, n_events: Long, sum_value: Double)

  /** Per-user session tracking with a gap timeout; emits the current
    * session aggregate on every update (OutputMode.Update).
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0.0))
          evs.toSeq.sortBy(e => (e.ms)).foreach { e =>
            s = if (s.lastMs != Long.MinValue && e.ms - s.lastMs > gapMs)
              SessionState(s.sessionId + 1, e.ms, 1L, e.value)
            else
              SessionState(s.sessionId, e.ms, s.n + 1, s.sum + e.value)
          }
          state.update(s)
          SessionUpdate(userId, s.sessionId, s.n, s.sum)
      }
  }

  // ---- lake sink ----------------------------------------------------------

  /** Starts a stream writing into a graft lake table via foreachBatch.
    * Exactly-once across restarts: each commit records its stream
    * batch id in commitInfo ([[BatchStamp]]); replayed batches
    * (checkpoint rewind) are skipped when their id is ≤ the newest
    * recorded one.
    */
  def toLake(
      stream: DataFrame,
      tablePath: Path,
      checkpointDir: String,
      queryName: String = "graft-lake-ingest"): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchIdempotent(batch, tablePath, batchId)
      }
      .start()

  def appendBatchIdempotent(
      batch: DataFrame, tablePath: Path, batchId: Long): Unit = {
    val lake = new LakeTable(batch.sparkSession, tablePath)
    if (lastCommittedBatchId(lake).forall(batchId > _))
      lake.write(batch, "append",
        operationParams = Map(BatchStamp.Key -> batchId.toString))
  }

  /** The newest batch id stamped on `lake` ([[BatchStamp.newest]]). */
  def lastCommittedBatchId(lake: LakeTable): Option[Long] = BatchStamp.newest(lake)
}
