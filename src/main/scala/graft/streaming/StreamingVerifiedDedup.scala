package graft.streaming

import java.nio.file.Path

import graft.lake.LakeTable
import graft.operators.{ConnectedComponents, Dedup, IncrementalDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming front end of the VERIFIED incremental dedup
  * ([[graft.operators.IncrementalDedup.ingestShardVerified]]) — the
  * standing ingest a production pipeline runs: each micro-batch is
  * deduplicated against everything ingested before with EXACT
  * shingle-Jaccard verification of the LSH candidates, without ever
  * rescanning corpus text.
  *
  * Four lake tables carry all state — signatures, per-doc sorted gram
  * sets (the verification-side state; text is scanned exactly once,
  * on arrival), VERIFIED edges, and the deduplicated output corpus.
  * Exactly-once under checkpoint replay by the same per-table batch
  * stamps as [[StreamingDedup]] ([[BatchStamp]]): a replayed batch
  * finds each already-stamped commit and skips it, a partially-applied batch
  * re-runs only the missing steps, and every recomputation reads the
  * stores AS OF the versions the first attempt produced, so the redo
  * is bit-identical (the bucket-local verification kernel is
  * deterministic given store contents).
  *
  * Per batch: one text scan (signatures + gram sets), then the batch
  * operator's own edge step ([[IncrementalDedup.verifiedEdgesAt]],
  * pinned to this batch's commits): bucket-local verification of the
  * buckets the batch touches, restricted to pairs with a new endpoint
  * — every candidate pair of the accumulated corpus is verified
  * exactly once, in its later doc's batch. The
  * verified edge store grows corpus-linearly (≤ |bucket|−1 edges per
  * touched bucket per batch), so the per-batch closure over it stays
  * cheap; StreamingSpec pins streamed shards ⇒ the same kept set as
  * one batch [[Dedup.dedupCorpusVerified]] over the concatenated
  * input. Output contract as StreamingDedup: each batch appends ITS
  * shard's survivors; a later bridge cannot retract an earlier emit —
  * the edge store's closure remains the exact retroactive answer.
  */
object StreamingVerifiedDedup {

  def dedupedIngest(
      stream: DataFrame,
      sigPath: Path,
      gramPath: Path,
      edgePath: Path,
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
        ingestBatch(batch, batchId, sigPath, gramPath, edgePath, outPath,
          idCol, textCol, k, bands, minJaccard)
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
      gramPath: Path,
      edgePath: Path,
      outPath: Path,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      minJaccard: Double): Unit = {
    val spark = batch.sparkSession
    val sig = new LakeTable(spark, sigPath)
    val gram = new LakeTable(spark, gramPath)
    val edge = new LakeTable(spark, edgePath)
    val out = new LakeTable(spark, outPath)

    // 1. signatures: one stamped commit off the shard's only text scan
    val sigV = BatchStamp.append(sig, batchId)(
      Dedup.minhashSignatures(batch, idCol, textCol, k))

    // 2. gram sets: the verification-side state, same scan shape
    val gramV = BatchStamp.append(gram, batchId)(
      IncrementalDedup.shardGramSets(batch, idCol, textCol))

    // 3. verified edges: IncrementalDedup.ingestShardVerified's edge
    //    step against the stores pinned to this batch's commits
    //    (replay-stable)
    val edgeV = BatchStamp.append(edge, batchId)(
      IncrementalDedup.verifiedEdgesAt(sig, sigV, gram, gramV, k, bands, minJaccard))

    // 4. survivors of THIS shard vs the verified closure so far
    BatchStamp.append(out, batchId)(ConnectedComponents.keepMinIds(batch, idCol,
      sig.read(versionAsOf = sigV).select(col("id").as(idCol)),
      edge.read(versionAsOf = edgeV).select("id_a", "id_b")))
  }
}
