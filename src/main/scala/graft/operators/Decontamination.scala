package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the GPT-3-style n-gram collision check
  * every pretraining pipeline runs before training: a document is
  * contaminated if any of its word n-grams (classically n=13) appears
  * in a held-out benchmark set.
  *
  * Scale shape: corpus documents explode to (doc, 60-bit gram hash) —
  * fixed-width rows, one md5 per WORD plus a polynomial fold per gram
  * (never a gram string) — and join against the benchmark's DISTINCT
  * gram hashes. The benchmark side is tiny
  * relative to a 100 TB corpus (eval suites are megabytes), so the
  * join is a BROADCAST hash probe: the corpus never shuffles, the
  * whole check is one map-side pass. The per-doc verdict is a
  * partial-aggregating groupBy on the doc id.
  *
  * Short documents (< n words) hash their whole text as one gram, so
  * a benchmark fragment shorter than n still matches verbatim copies.
  */
object Decontamination {

  /** Double polynomial rolling-hash moduli/multipliers: two
    * independent 30-bit folds over per-word 30-bit md5 values combine
    * to a 60-bit gram hash. All intermediates stay < 2^35, so the
    * arithmetic is exact in signed 64-bit in BOTH engines (the DuckDB
    * oracle replays it with list_reduce).
    */
  private[graft] val M1 = 1073741789L
  private[graft] val M2 = 1073741783L
  private[graft] val P1 = 31L
  private[graft] val P2 = 37L

  /** 60-bit hashes of a text's word n-grams (degenerate short texts
    * fold the whole word list). Equal word sequences hash equal —
    * the verbatim-overlap contract of decontamination — without ever
    * building the n-word gram strings.
    *
    * Evaluated by the codegen'd rolling kernel
    * (graft.functions.GramHashKernel): O(words) per document instead
    * of the expression form's O(words × n) slice re-folds, with no
    * per-element interpreter dispatch — measured ~3× on the sf0.1
    * corpus scan. The test tree's `ReferenceForms.wordNgramHashesExpr`
    * keeps the reference expression form; OperatorSpec asserts the two
    * agree, which is also the kernel-vs-oracle agreement proof (the
    * oracle replays the expression form's fresh folds in DuckDB).
    */
  def wordNgramHashes(text: Column, n: Int): Column =
    graft.functions.GramHashFunctions.wordNgramHashes(text, n)

  /** The distinct n-gram hash set of a benchmark corpus — build once,
    * reuse across corpus scans (callers may persist or write it out).
    * COMPATIBILITY: the gram hash is the packed double polynomial fold
    * over per-word 30-bit md5 values (this file's constants). A gram
    * table persisted under any other scheme (e.g. the pre-r5 md5
    * prefix of the gram STRING) matches nothing — rebuild persisted
    * gram tables when the hash definition changes, and keep both sides
    * of a decontamination run on the same library version.
    */
  def benchmarkGrams(bench: DataFrame, textCol: String, n: Int): DataFrame =
    Dedup.rebalance(bench.select(col(textCol).as("t")))
      .select(explode_outer(array_distinct(wordNgramHashes(col("t"), n))).as("h"))
      .where(col("h").isNotNull)
      .distinct()

  /** Per-document contamination verdict: (id, n_hits, contaminated).
    * `grams` is a benchmarkGrams frame; it is broadcast, so the corpus
    * side never shuffles — the check stays map-side at any corpus
    * size (a 100 TB corpus against megabytes of eval data).
    */
  def contaminated(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      grams: DataFrame,
      n: Int = 13): DataFrame = {
    val ex = Dedup.rebalance(docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), explode_outer(array_distinct(wordNgramHashes(col("t"), n))).as("h"))
      .where(col("h").isNotNull)
    val hits = ex.join(broadcast(grams), Seq("h"))
      .groupBy("id").agg(count(lit(1)).cast("long").as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("contaminated"))
  }

  /** The applied form: the corpus minus contaminated documents. */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      grams: DataFrame,
      n: Int = 13): DataFrame = {
    val bad = contaminated(docs, idCol, textCol, grams, n)
      .where(col("contaminated")).select(col("id").as(idCol))
    docs.join(bad, Seq(idCol), "left_anti")
  }
}
