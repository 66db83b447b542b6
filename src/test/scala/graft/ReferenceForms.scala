package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.operators.Decontamination.{M1, M2, P1, P2}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HOF-expression reference forms of the compiled text kernels: the
  * executable specifications OperatorSpec and PropertySpec test each
  * kernel against. Their math is what the DuckDB oracles replay, so
  * kernel-vs-reference agreement is also the kernel-vs-oracle proof.
  */
object ReferenceForms {

  /** Reference form of `Dedup.minhashSignaturesByKey`'s per-row
    * signatures (same hex slicing, same Kirsch–Mitzenmacher arithmetic,
    * min-reduced with array expressions). The three projections stay
    * separate because each alias is non-cheap and multi-referenced
    * (CollapseProject leaves them), so every md5 runs exactly once per
    * row.
    */
  def perRowSignaturesExpr(
      docs: DataFrame, keyCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(keyCol).as("id"), col(textCol).as("t"))
      .where(col("t").isNotNull)
      .select(col("id"), transform(Dedup.shingles(col("t")), s => md5(s)).as("hx"))
      .select(col("id"), transform(col("hx"), h => struct(
        conv(substring(h, 1, 15), 16, 10).cast("long").as("a"),
        conv(substring(h, 17, 14), 16, 10).cast("long").as("b"))).as("ab"))
      .select(col("id").as(keyCol) +: (0 until k).map(j =>
        array_min(transform(col("ab"), p =>
          (p("a") + lit(j.toLong) * p("b")).bitwiseAND(lit(Dedup.MinhashMask)))).as(s"mh$j")): _*)

  /** Reference form of `Dedup.simhashTable` (the word values
    * materialized once, 16 packed two-lane folds, the 2·s_i > n
    * identity).
    */
  def simhashTableExpr(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val v = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .where(col("t").isNotNull)
      .select(col("id"),
        transform(TextAnalysis.words(col("t")), w => TextAnalysis.wordValue(w)).as("vals"))
    val lanes = (0 until 16).map { i =>
      aggregate(col("vals"), lit(0L), (acc, x) =>
        acc + shiftright(x, i).bitwiseAND(lit(1L)) +
          shiftleft(shiftright(x, i + 16).bitwiseAND(lit(1L)), 32)).as(s"p$i")
    }
    val withLanes = v.select(
      col("id") +: size(col("vals")).cast("long").as("n") +: lanes: _*)
    val mask = lit((1L << 32) - 1)
    withLanes.select(col("id"),
      (0 until 16).map { i =>
        val sLo = col(s"p$i").bitwiseAND(mask)
        val sHi = shiftright(col(s"p$i"), 32)
        when(sLo * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)) +
          when(sHi * 2 > col("n"), lit(1L << (i + 16))).otherwise(lit(0L))
      }.reduce(_ + _).as("simhash"))
  }

  /** The explode + two-groupBy + join-back reference form of
    * `Scrubbing.repetitionStats`.
    */
  def repetitionStatsExpr(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"), explode(TextAnalysis.words(trim(col("t")))).as("w"))
      .where(col("w") =!= "")
    val wc = ex.groupBy("id", "w").agg(count(lit(1)).as("c"))
    val stats = wc.groupBy("id").agg(
      sum(col("c")).cast("long").as("n_words"),
      max(col("c")).cast("long").as("top_count"))
    docs.select(col(idCol).as("id")).join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        when(col("n_words") > 0L,
          col("top_count").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("top_ratio"))
  }

  /** Reference form of the `TextAnalysis.fingerprint` fold. */
  def fingerprintExpr(text: Column): Column =
    aggregate(
      transform(TextAnalysis.words(text), w => TextAnalysis.wordValue(w)),
      lit(0L),
      (acc, v) => pmod(acc * lit(31L) + v, lit(TextAnalysis.FingerprintMod)))

  /** 30-bit md5-derived word value — the per-word unit of gram hashing. */
  private def wordVal30(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long")
      .bitwiseAND(lit((1L << 30) - 1))

  /** h1/h2 polynomial fold over a slice of word values, combined to a
    * 60-bit hash (h1 · 2^30 + h2).
    */
  private def gramFold(sub: Column): Column = {
    val folded = aggregate(sub,
      struct(lit(0L).as("h1"), lit(0L).as("h2")),
      (acc, v) => struct(
        pmod(acc.getField("h1") * lit(P1) + v, lit(M1)).as("h1"),
        pmod(acc.getField("h2") * lit(P2) + v, lit(M2)).as("h2")))
    folded.getField("h1") * lit(1L << 30) + folded.getField("h2")
  }

  /** Reference form of `Decontamination.wordNgramHashes` — same math,
    * fresh fold per gram (texts shorter than n words fold whole).
    */
  def wordNgramHashesExpr(text: Column, n: Int): Column = {
    val vals = transform(TextAnalysis.words(text), w => wordVal30(w))
    when(size(vals) < n, array(gramFold(vals))).otherwise(
      transform(sequence(lit(1), size(vals) - (n - 1)), i =>
        gramFold(slice(vals, i, lit(n)))))
  }
}
