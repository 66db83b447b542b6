package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus scrubbing passes: repetition scoring (the C4 duplicate-text
  * heuristics) and PII redaction — both engine-portable (the DuckDB
  * oracle replays the same regexes/arithmetic) and shuffle-light.
  */
object Scrubbing {

  /** Per-document word-repetition profile: total words, the top
    * word's count, and its share of the document. High top_ratio is
    * the classic boilerplate/spam signal (a page that is mostly one
    * repeated token survives length and punctuation filters).
    *
    * Computed map-only by the compiled TextKernels.repetitionStats
    * kernel (one hash-map pass per document — empty tokens from
    * empty/whitespace-only text dropped, such docs score zeros/0.0):
    * the explode + two-groupBy + join-back formulation this replaces
    * paid two exchanges of word-count rows; here nothing shuffles at
    * any corpus size. The test tree's `ReferenceForms.repetitionStatsExpr`
    * keeps that formulation as the executable spec (OperatorSpec
    * asserts agreement — which is the oracle-agreement proof, the
    * DuckDB oracle replaying the grouped form).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.rebalance(docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"),
        graft.functions.TextKernelFunctions.repetitionStats(col("t")).as("rs"))
      .select(col("id"),
        coalesce(col("rs.n_words"), lit(0L)).as("n_words"),
        coalesce(col("rs.top_count"), lit(0L)).as("top_count"),
        when(coalesce(col("rs.n_words"), lit(0L)) > 0L,
          col("rs.top_count").cast("double") / col("rs.n_words").cast("double"))
          .otherwise(lit(0.0)).as("top_ratio"))

  /** PII patterns chosen to mean the same thing in Java regex (Spark)
    * and RE2 (DuckDB): no backreferences, no lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redacted text: emails, then phones, then IPv4 literals replaced
    * by stable tokens. Fixed application order — the oracle replays
    * it verbatim, so redaction is byte-identical across engines.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")

  /** Per-document PII inventory + redacted digest: map-only, no
    * shuffle at real scale — a scrub of 100 TB is embarrassingly
    * parallel. Six regex passes per document are compute-dense enough
    * that a single-row-group file must not serialize them
    * ([[Dedup.rebalance]] — no-op on multi-split tables and byte-tiny
    * inputs).
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.rebalance(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      md5(redactPii(col(textCol))).as("redacted_md5"))
}
