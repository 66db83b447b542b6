package graft.streaming

import java.nio.file.Path

import graft.lake.LakeTable
import graft.operators.SubstringDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming front end of
  * [[graft.operators.SubstringDedup]]: a standing ingest where each
  * micro-batch is a document shard whose repeated passages (≥ W
  * verbatim tokens, against EVERYTHING ingested so far, cross-doc and
  * within-doc) must surface on arrival — without rescanning the
  * corpus text. The gram-hash count is naturally incremental: a
  * window's corpus-wide occurrence count is a sum, so per shard the
  * store update is an additive upsert touching only the shard's grams.
  *
  * Two lake tables carry all state:
  *  - a SITE store `(id, pos, hi, lo)`: every W-token window ever
  *    ingested (20 bytes/window, never text) — append-only;
  *  - a GRAM store `(hi, lo, n)`: corpus-wide occurrence count per
  *    window hash — a standing scattered-key upsert, so the store is
  *    created `merge-on-read` (each shard writes O(its grams), the DV
  *    steady-state policy keeps scans broadcast-gated).
  *
  * Exactly-once by the same batch-stamp discipline as
  * [[StreamingDedup]] ([[BatchStamp]]): each store commit carries the
  * stream's batch id; a replayed batch finds the stamp and skips, a
  * partial batch re-runs only the missing steps, and recomputations
  * read the stores AS OF the first attempt's versions (CDC + time
  * travel), so the redo is bit-identical.
  *
  * Output contract (mirrors StreamingDedup's): each batch appends the
  * repeated spans of ITS shard's documents judged against the corpus
  * so far. A later arrival can retroactively make an OLD document's
  * passage a repeat — which an append-only stream cannot retract;
  * [[retroactiveSpans]] over the same stores is the exact full-corpus
  * answer at any time (StreamingSpec pins it ≡ one batch
  * `repeatedSpans` over the concatenated input).
  */
object StreamingSubstringDedup {

  def spanIngest(
      stream: DataFrame,
      sitePath: Path,
      gramPath: Path,
      outPath: Path,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      queryName: String = "graft-substring-ingest"): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, sitePath, gramPath, outPath,
          idCol, textCol, windowTokens)
      }
      .start()

  /** One shard through the stores; idempotent per (table, batchId).
    * Public so a non-streaming caller (backfill, test) can drive the
    * identical path.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      sitePath: Path,
      gramPath: Path,
      outPath: Path,
      idCol: String,
      textCol: String,
      windowTokens: Int): Unit = {
    val spark = batch.sparkSession
    val site = new LakeTable(spark, sitePath)
    val gram = new LakeTable(spark, gramPath)
    val out = new LakeTable(spark, outPath)

    // 1. window sites: the shard text's ONLY scan, one stamped commit
    val siteV = BatchStamp.append(site, batchId)(
      SubstringDedup.windowSites(batch, idCol, textCol, windowTokens)
        .withColumnRenamed(idCol, "id"))

    // 2. additive gram-count upsert: CDC re-read of exactly the site
    //    commit, counts summed into the store (old + new for grams the
    //    corpus already holds) — only the shard's grams are touched
    val gramV = BatchStamp.step(gram, batchId) { stamp =>
      val newCounts = site.changes(siteV - 1, siteV)
        .groupBy("hi", "lo").agg(count(lit(1)).as("n"))
      // standing scattered-key upserts: the store is created
      // merge-on-read in its first commit, so no crash can leave a
      // stamped copy-on-write store behind (nullable: a NOT NULL
      // column would cost every merge a check job)
      if (!gram.exists)
        gram.createEmpty(SparkBridge.asNullable(newCounts.schema), Nil,
          Map(LakeTable.MergeModeKey -> "merge-on-read"))
      val merged = newCounts.as("c")
        .join(gram.read().as("g"), Seq("hi", "lo"), "left")
        .select(col("hi"), col("lo"),
          (col("c.n") + coalesce(col("g.n"), lit(0L))).as("n"))
      gram.merge(merged, Seq("hi", "lo"), operationParams = stamp)
    }

    // 3. spans of THIS shard vs the corpus so far (stores as of this
    //    batch's own commits — replay-stable)
    BatchStamp.append(out, batchId) {
      val shardSites = site.changes(siteV - 1, siteV)
        .select(col("id").as(idCol), col("pos"), col("hi"), col("lo"))
      val dup = gram.read(versionAsOf = gramV)
        .where(col("n") > 1).select("hi", "lo")
      val hits = shardSites.join(dup, Seq("hi", "lo"), "left_semi")
      SubstringDedup.spansFromHits(hits, idCol, windowTokens)
    }
  }

  /** The exact full-corpus repeated spans at any time, straight off
    * the stores — no text rescans. Identical arithmetic to one batch
    * [[SubstringDedup.repeatedSpans]] over the concatenated corpus:
    * sites are all windows, the gram store's `n` is each window's
    * corpus-wide count.
    */
  def retroactiveSpans(
      spark: org.apache.spark.sql.SparkSession,
      sitePath: Path,
      gramPath: Path,
      idCol: String,
      windowTokens: Int): DataFrame = {
    val site = new LakeTable(spark, sitePath)
    val gram = new LakeTable(spark, gramPath)
    val dup = gram.read().where(col("n") > 1).select("hi", "lo")
    val hits = site.read()
      .select(col("id").as(idCol), col("pos"), col("hi"), col("lo"))
      .join(dup, Seq("hi", "lo"), "left_semi")
    SubstringDedup.spansFromHits(hits, idCol, windowTokens)
  }
}
