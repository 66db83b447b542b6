package graft.streaming

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame

/** Exactly-once micro-batches on lake tables. Every sink in this
  * package records the stream batch id under [[Key]] in the commitInfo
  * of each commit a batch makes, and decides "already committed?" from
  * those stamps alone — the per-table batch marker Delta Lake (VLDB
  * 2020) makes streaming writes idempotent with. graft never truncates
  * its log, so every stamp stays readable; the lookup reads commitInfo
  * newest first and stops as soon as it can answer, reading past
  * unstamped commits (ALTER, OPTIMIZE, the DV policy's compaction).
  */
private[streaming] object BatchStamp {

  val Key = "streamBatchId"

  /** `(version, batch id)` of `t`'s stamped commits, newest first. */
  private def stamps(t: LakeTable): Iterator[(Long, String)] =
    t.historyInfo.iterator.flatMap(c => c.operationParameters.get(Key).map(c.version -> _))

  /** The newest stamped batch id: the lake sink skips every batch id at
    * or below it, so its stamps only grow and the newest is the largest.
    */
  def newest(t: LakeTable): Option[Long] = stamps(t).nextOption().map(_._2.toLong)

  /** One exactly-once step of a multi-table sink: the version of `t`'s
    * commit stamped with exactly `batchId`, after running `commit` with
    * the stamp as its operation parameters if there is none. A replayed
    * batch skips every step it already committed, so a partially
    * applied batch re-runs only its missing steps. A first attempt
    * reads every commitInfo: `ingestBatch` accepts batch ids in any
    * order, so only the oldest commit proves an id absent.
    */
  def step(t: LakeTable, batchId: Long)(commit: Map[String, String] => Unit): Long = {
    def stamped = stamps(t).collectFirst { case (v, b) if b == batchId.toString => v }
    stamped.getOrElse { commit(Map(Key -> batchId.toString)); stamped.get }
  }

  /** [[step]] whose commit appends `df` (creating the table if absent). */
  def append(t: LakeTable, batchId: Long)(df: => DataFrame): Long =
    step(t, batchId)(stamp => t.write(df, "append", operationParams = stamp))
}
