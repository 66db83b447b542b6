package graft.streaming

import java.nio.file.Path

import graft.lake.LakeTable
import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming front end of [[graft.operators.IncrementalDedup]]:
  * a standing ingest where each micro-batch is a document shard that
  * must be near-dup-deduplicated against everything ingested before,
  * without rescanning the corpus.
  *
  * Four lake tables carry all state — the minhash signature store,
  * the LSH connectivity-edge store (per-bucket min-id stars, linear
  * growth), the `(id, component)` label store, and the deduplicated
  * output corpus. Each batch runs the batch operator's own step
  * sequence (`IncrementalDedup.arrive`: signatures → edges → label
  * update → survivors) with every commit stamped with the stream's
  * batch id ([[BatchStamp]]), then appends the survivors under the
  * same stamp. That makes the whole pipeline EXACTLY-ONCE under
  * checkpoint replay with no coordination beyond the stamps: a
  * replayed batch finds each already-stamped commit and skips it, a
  * partially-applied batch (say, a crash between the label and output
  * commits) re-runs only the missing steps, and every recomputation
  * reads the stores AS OF the versions the first attempt produced
  * (time travel), so the redo is bit-identical. The checkpoint
  * guarantees batch N+1 is never attempted until batch N's
  * foreachBatch returned, so "latest version" never races the stamps.
  *
  * Per batch the corpus text is scanned exactly once (the signature
  * kernel); the label update sees only the batch's own new edges, and
  * the survivors are the batch's ids whose label is their own — no
  * step scans the edge store's history or runs connected components
  * over the store's lifetime, so the edge-store bytes a batch reads
  * and its Spark job count stop growing with the stream's age. The
  * signature and label stores are still scanned whole on every batch,
  * so its wall time still grows with the stream's age.
  * A `labelPath` with no label store yet (a new stream, or one pointed
  * at a running stream's stores) is seeded from the closure of the
  * stores as they stand. StreamingSpec pins: streamed shards ⇒ the
  * same kept set as one batch `Dedup.dedupCorpus` over the
  * concatenated input.
  *
  * Output contract (the standard one for streaming dedup): each
  * batch appends the rows of ITS shard that survive dedup against
  * the corpus so far. A later arrival can bridge two earlier
  * components — retroactively making an already-emitted doc a
  * duplicate — which an append-only stream cannot retract;
  * [[IncrementalDedup.labeledKeptIds]] over the label store remains
  * the exact retroactive answer at any time.
  */
object StreamingDedup {

  def dedupedIngest(
      stream: DataFrame,
      sigPath: Path,
      pairPath: Path,
      labelPath: Path,
      outPath: Path,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      queryName: String = "graft-dedup-ingest"): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, sigPath, pairPath, labelPath, outPath,
          idCol, textCol, k, bands)
      }
      .start()

  /** One shard through the four stores; idempotent per (table,
    * batchId). Public so a non-streaming caller (backfill, test) can
    * drive the identical path.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      sigPath: Path,
      pairPath: Path,
      labelPath: Path,
      outPath: Path,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int): Unit = {
    def table(p: Path) = new LakeTable(batch.sparkSession, p)
    val (_, kept) = IncrementalDedup.arrive(BatchStamp.step(_, batchId),
      table(sigPath), table(pairPath), table(labelPath), batch, idCol, textCol, k, bands)
    BatchStamp.append(table(outPath), batchId)(kept)
  }
}
