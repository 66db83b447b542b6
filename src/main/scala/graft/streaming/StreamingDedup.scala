package graft.streaming

import java.nio.file.Path

import graft.lake.LakeTable
import graft.operators.{ConnectedComponents, Dedup, IncrementalDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming front end of [[graft.operators.IncrementalDedup]]:
  * a standing ingest where each micro-batch is a document shard that
  * must be near-dup-deduplicated against everything ingested before,
  * without rescanning the corpus.
  *
  * Three lake tables carry all state — the minhash signature store,
  * the LSH connectivity-edge store (per-bucket min-id stars, linear
  * growth; see [[graft.operators.IncrementalDedup]]), and the
  * deduplicated output corpus —
  * and every per-batch commit to each is stamped with the stream's
  * batch id ([[BatchStamp]]), which makes the whole pipeline
  * EXACTLY-ONCE under checkpoint replay with no coordination beyond
  * the stamps: a replayed batch finds each already-stamped commit and
  * skips it, a partially-applied batch (crash between the signature
  * and pair commits) re-runs only the missing steps, and every
  * recomputation reads the stores AS OF the versions the first
  * attempt produced (time travel), so the redo is bit-identical. The
  * checkpoint guarantees batch N+1 is never attempted until batch N's
  * foreachBatch returned, so "latest version" never races the stamps.
  *
  * Per batch the corpus text is scanned exactly once (the signature
  * kernel); the pair discovery is the batch operator's own edge step
  * ([[IncrementalDedup.arrivalEdges]]), pinned to the signature
  * commit: it bucket-joins the NEW signatures — re-read through the
  * store's CDC `changes()`, touching only the files the signature
  * commit appended — against the store's band buckets, and the
  * survivors are [[ConnectedComponents.keepMinIds]] over the stores.
  * Identical arithmetic to the batch operator, so StreamingSpec pins:
  * streamed shards ⇒ the same kept set as one batch
  * `Dedup.dedupCorpus` over the concatenated input.
  *
  * Output contract (the standard one for streaming dedup): each
  * batch appends the rows of ITS shard that survive dedup against
  * the corpus so far. A later arrival can bridge two earlier
  * components — retroactively making an already-emitted doc a
  * duplicate — which an append-only stream cannot retract;
  * [[IncrementalDedup.keptIds]] over the same stores remains the
  * exact retroactive answer at any time.
  */
object StreamingDedup {

  def dedupedIngest(
      stream: DataFrame,
      sigPath: Path,
      pairPath: Path,
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
        ingestBatch(batch, batchId, sigPath, pairPath, outPath,
          idCol, textCol, k, bands)
      }
      .start()

  /** One shard through the three stores; idempotent per (table,
    * batchId). Public so a non-streaming caller (backfill, test) can
    * drive the identical path.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      sigPath: Path,
      pairPath: Path,
      outPath: Path,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int): Unit = {
    val spark = batch.sparkSession
    val sig = new LakeTable(spark, sigPath)
    val pair = new LakeTable(spark, pairPath)
    val out = new LakeTable(spark, outPath)

    // 1. signatures: the shard text's only scan, one stamped commit
    val sigV = BatchStamp.append(sig, batchId)(
      Dedup.minhashSignatures(batch, idCol, textCol, k))

    // 2. new connectivity edges: IncrementalDedup.ingestShard's edge
    //    step pinned to the signature commit — star edges, not
    //    all-pairs, since a standing stream's durable store must grow
    //    linearly in corpus size, and CC closure is all step 3 needs
    val pairV = BatchStamp.append(pair, batchId)(
      IncrementalDedup.arrivalEdges(sig, sigV, k, bands, storePairs = false))

    // 3. survivors of THIS shard vs the corpus so far (stores as of
    //    this batch's own commits — replay-stable)
    BatchStamp.append(out, batchId)(ConnectedComponents.keepMinIds(batch, idCol,
      sig.read(versionAsOf = sigV).select(col("id").as(idCol)),
      pair.read(versionAsOf = pairV).select("id_a", "id_b")))
  }
}
