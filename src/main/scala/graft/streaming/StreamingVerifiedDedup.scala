package graft.streaming

import java.nio.file.Path

import graft.lake.LakeTable
import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming front end of the VERIFIED incremental dedup
  * ([[graft.operators.IncrementalDedup.ingestShardVerified]]) — the
  * standing ingest a production pipeline runs: each micro-batch is
  * deduplicated against everything ingested before with EXACT
  * shingle-Jaccard verification of the LSH candidates, without ever
  * rescanning corpus text.
  *
  * Five lake tables carry all state — signatures, per-doc sorted gram
  * sets (the verification-side state; text is scanned exactly once,
  * on arrival), VERIFIED edges, the `(id, component)` label store, and
  * the deduplicated output corpus. Each batch runs the batch
  * operator's own step sequence (`IncrementalDedup.arriveVerified`)
  * with every commit stamped with the stream's batch id
  * ([[BatchStamp]]), then appends the survivors under the same stamp:
  * a replayed batch finds each already-stamped commit and skips it, a
  * partially-applied batch re-runs only the missing steps, and every
  * recomputation reads the stores AS OF the versions the first
  * attempt produced, so the redo is bit-identical (the bucket-local
  * verification kernel is deterministic given store contents).
  *
  * Per batch: one text scan (signatures + gram sets), bucket-local
  * verification of the buckets the batch touches, restricted to pairs
  * with a new endpoint — every candidate pair of the accumulated
  * corpus is verified exactly once, in its later doc's batch — and a
  * label update over the batch's own verified edges. The survivors
  * are the batch's ids whose label is their own; StreamingSpec pins
  * streamed shards ⇒ the same kept set as one batch
  * `Dedup.dedupCorpusVerified` over the concatenated input. Output
  * contract as StreamingDedup: each batch appends ITS shard's
  * survivors; a later bridge cannot retract an earlier emit — the
  * label store remains the exact retroactive answer.
  */
object StreamingVerifiedDedup {

  def dedupedIngest(
      stream: DataFrame,
      sigPath: Path,
      gramPath: Path,
      edgePath: Path,
      labelPath: Path,
      outPath: Path,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      minJaccard: Double = 0.5,
      queryName: String = "graft-verified-dedup-ingest"): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, sigPath, gramPath, edgePath, labelPath, outPath,
          idCol, textCol, k, bands, minJaccard)
      }
      .start()

  /** One shard through the five stores; idempotent per (table,
    * batchId). Public so a non-streaming caller (backfill, test) can
    * drive the identical path.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      sigPath: Path,
      gramPath: Path,
      edgePath: Path,
      labelPath: Path,
      outPath: Path,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      minJaccard: Double): Unit = {
    def table(p: Path) = new LakeTable(batch.sparkSession, p)
    val (_, kept) = IncrementalDedup.arriveVerified(BatchStamp.step(_, batchId),
      table(sigPath), table(gramPath), table(edgePath), table(labelPath), batch,
      idCol, textCol, k, bands, minJaccard)
    BatchStamp.append(table(outPath), batchId)(kept)
  }
}
