package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` draws from a per-partition RNG: the sample changes
  * under repartitioning, retries, and between runs — useless for a
  * reproducible data recipe. These operators derive the keep/drop
  * decision from a HASH OF THE ROW KEY, so the same row makes the same
  * decision on any cluster layout, any engine (md5 is portable), any
  * rerun — and the filter is a map-only scan predicate: no shuffle, no
  * driver state, prunes straight down to the parquet scan.
  */
object Sampling {

  /** Uniform [0,1) deterministic per-key coin: first 8 hex digits of
    * md5(key) / 2^32.
    */
  def keyCoin(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Keeps ~`fraction` of rows, decided per key. */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.where(keyCoin(key) < fraction)

  /** Stratified sampling with per-stratum rates (e.g. downsample the
    * dominant language, keep the rare ones): `fractions` maps stratum
    * value → keep rate, anything else keeps `default`.
    */
  def stratifiedSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      fractions: Map[String, Double],
      default: Double): DataFrame = {
    val rate = fractions.foldLeft(lit(default)) { case (acc, (value, f)) =>
      when(stratum === value, lit(f)).otherwise(acc)
    }
    df.where(keyCoin(key) < rate)
  }

  /** EXACTLY `k` rows per stratum (balanced subsets: equal
    * per-language / per-source quotas), chosen deterministically by
    * md5 rank — the quota complement to rate-based `stratifiedSample`,
    * whose output size only tracks the rate in expectation.
    *
    * The naive shape — `row_number() OVER (PARTITION BY stratum ORDER
    * BY md5(key))` then `rn <= k` — shuffles the whole table and sorts
    * each stratum inside ONE task (the few-strata single-reducer trap,
    * see GroupQuantiles). This rides the mergeable bounded-heap
    * aggregate instead (`graft_top_k`): every map task keeps at most k
    * candidates per stratum and the exchange carries
    * partitions × strata × k rows — corpus-size-independent.
    *
    * Rank = the integer value of the FIRST 13 HEX CHARS of md5(key):
    * 52 bits, exact in the aggregate's double ordering, ties broken by
    * key ascending (the heap's own rule). Any engine with md5 states
    * the same order as `ORDER BY substr(md5(key), 1, 13), key` —
    * fixed-width lowercase hex string order IS the numeric order — so
    * the selection is reproducible across engines, layouts and reruns
    * like every sampler here (no 53-bit-collision ambiguity: both
    * sides rank by exactly those 52 bits). Null keys are dropped (not
    * addressable output) by an explicit filter the caller can see in
    * the plan; strata holding fewer than k rows keep them all.
    *
    * Keys may be any integral OR string column (URLs and content
    * hashes are corpus ids at least as often as longs — the r13 shape
    * forced everything through a BIGINT slot). String ties break in
    * binary (memcmp) order, identical in Spark (UTF8String) and DuckDB
    * (default collation), so the cross-engine order statement above
    * holds for string keys too.
    *
    * Output: (stratum, key) with the key in its ORIGINAL type;
    * [[stratifiedExactKRows]] returns the full source rows.
    */
  def stratifiedExactK(
      df: DataFrame, stratumCol: String, keyCol: String, k: Int): DataFrame =
    stratifiedExactK(df, Seq(stratumCol), keyCol, k)

  /** [[stratifiedExactK]] over COMPOSITE strata — real LLM mixes
    * stratify on (lang, source)-style column PAIRS, and forcing
    * callers to pre-concat them into one key both loses the original
    * columns from the output and invites separator-collision bugs.
    * Same bounded-heap plan (the group key is simply wider); output
    * is (strata..., key).
    */
  def stratifiedExactK(
      df: DataFrame, stratumCols: Seq[String], keyCol: String, k: Int): DataFrame = {
    require(stratumCols.nonEmpty, "at least one stratum column")
    val rank = conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("double")
    df.where(col(keyCol).isNotNull)
      .groupBy(stratumCols.map(col): _*)
      .agg(graft.functions.TopKFunctions.topKKey(
        negate(rank), col(keyCol), k).as("__tk"))
      .select(stratumCols.map(col) :+ explode(col("__tk")).as("__e"): _*)
      .select(stratumCols.map(col) :+ col(s"__e.cand_key").as(keyCol): _*)
  }

  /** WEIGHTED exact-k per stratum — the quota sampler for LLM data
    * mixes where selection probability should track a quality weight
    * (probability ∝ w, exactly k winners per stratum), not a uniform
    * coin.
    *
    * Technique: weighted reservoir sampling by exponential race
    * (Efraimidis–Spirakis A-ES, public): each row draws u from its
    * deterministic md5 coin and races with key e = −ln(u)/w — the k
    * SMALLEST e win, which selects without replacement with
    * probability proportional to w. Stated identically in any engine:
    * `ORDER BY -ln(u)/w, key` over the same md5 coin. Cross-engine
    * double determinism: u values are ≥ 2⁻³² apart (32-bit coin), so
    * adjacent race keys differ by ≳ 2⁻³²/w relative while a 1-ulp
    * libm `ln` disagreement moves them by ~2⁻⁵² relative — four
    * orders of magnitude too small to reorder anything; exact u
    * COLLISIONS (birthday-expected past ~2¹⁶ rows) yield exactly
    * equal race keys in both engines and break by key ascending, the
    * heap's own rule. u = 0 races at +∞ and loses to every finite
    * key (selected only in under-k strata), consistently in both
    * engines — but NOT for free: DuckDB's `ln(0)` is −∞ while
    * Spark's `ln` is a `UnaryLogExpression` that returns NULL on
    * input ≤ 0 (which the aggregate would silently DROP), so the
    * race key coalesces the null back to the IEEE −∞ the SQL
    * statement means. At 2⁻³² per row a u = 0 coin is ~233 rows on
    * a 10¹²-row corpus — real at the design scale.
    *
    * Like [[stratifiedExactK]] this rides the mergeable bounded-heap
    * aggregate: the exchange carries partitions × strata × k rows,
    * corpus-size-independent, never a per-stratum window sort. Rows
    * with null key, null weight, NaN weight, or weight ≤ 0 are
    * dropped by an explicit plan-visible filter (a non-positive
    * weight has no exponential race key; A-ES is defined over
    * w > 0). The NaN test must be EXPLICIT: Spark's `w > 0` is the
    * SQL total-order GreaterThan, which puts NaN ABOVE every double
    * and would wave a NaN weight straight through into a NaN race
    * key (the aggregate also rejects NaN race keys itself — belt
    * and braces, see TopKKeyAgg.update).
    *
    * Output: (stratum, key), key in its original (integral or string)
    * type. [[stratifiedWeightedKRows]] returns the full source rows.
    */
  def stratifiedWeightedK(
      df: DataFrame, stratumCol: String, keyCol: String, weightCol: String,
      k: Int): DataFrame =
    stratifiedWeightedKWithCoin(
      df, Seq(stratumCol), keyCol, weightCol, k, keyCoin(col(keyCol)))

  /** [[stratifiedWeightedK]] over COMPOSITE strata (see the composite
    * [[stratifiedExactK]] for the rationale). Output is
    * (strata..., key).
    */
  def stratifiedWeightedK(
      df: DataFrame, stratumCols: Seq[String], keyCol: String, weightCol: String,
      k: Int): DataFrame =
    stratifiedWeightedKWithCoin(
      df, stratumCols, keyCol, weightCol, k, keyCoin(col(keyCol)))

  /** [[stratifiedWeightedK]] with the uniform coin injectable — the
    * spec seam that lets a test FORCE u = 0 (a key whose md5 leads
    * with eight zero hex digits is a 2⁻³² needle) and pin the
    * coalesced −∞ race against the window formulation.
    */
  private[graft] def stratifiedWeightedKWithCoin(
      df: DataFrame, stratumCols: Seq[String], keyCol: String, weightCol: String,
      k: Int, coin: Column): DataFrame = {
    require(stratumCols.nonEmpty, "at least one stratum column")
    val w = col(weightCol).cast("double")
    // race key e = -ln(u)/w; the heap keeps MAX sim, so sim = -e =
    // ln(u)/w (IEEE negation is exact — the order is the oracle's).
    // coalesce: Spark ln(0) is NULL, the SQL order needs -Infinity
    // (scaladoc above).
    val sim = coalesce(log(coin), lit(Double.NegativeInfinity)) / w
    df.where(col(keyCol).isNotNull &&
        col(weightCol).isNotNull && !isnan(w) && col(weightCol) > lit(0))
      .groupBy(stratumCols.map(col): _*)
      .agg(graft.functions.TopKFunctions.topKKey(
        sim, col(keyCol), k).as("__tk"))
      .select(stratumCols.map(col) :+ explode(col("__tk")).as("__e"): _*)
      .select(stratumCols.map(col) :+ col(s"__e.cand_key").as(keyCol): _*)
  }

  /** Full-row convenience over the quota samplers: the (strata, key)
    * quota joins back to the source frame as a left-semi. The quota
    * row count is strata × k — but strata CARDINALITY IS
    * DATA-DEPENDENT (per-domain quotas make strata ∝ corpus), so the
    * broadcast decision is GATED, never forced: the quota is drawn
    * through [[BoundedCollect.joinBack]] (conf
    * [[Sampling.QuotaBroadcastRowsKey]], default 2²⁰ rows, and 64 MB
    * of exact row bytes) and, when it fits, embeds as a broadcast
    * LOCAL relation — the corpus then never shuffles (each task
    * streams its source partition past the in-memory quota set). Past
    * either cap the planner sizes the lazy quota's build side from its
    * own stats (AQE can still promote at runtime) — the
    * force-under-threshold / planner-above pattern of the MoR DV
    * anti-join (LakeTable.DvBroadcastBytes); a forced broadcast here
    * was the one driver-OOM shape left at 10⁷⁺ strata. On every path
    * the quota aggregate's corpus scan runs ONCE: the over-gate join
    * reads the same RDD the gate ran, so its shuffle map stage is
    * skipped, not recomputed, and no cache is kept.
    *
    * Null-safe on each stratum column (a NULL stratum is a real
    * stratum, same as the samplers), plain equality on the key (null
    * keys were dropped before selection and can never match). Rows
    * whose (strata, key) repeats in the source all survive — the semi
    * join keeps every source row carrying a selected tuple, exactly
    * what the hand-written join did.
    */
  def stratifiedExactKRows(
      df: DataFrame, stratumCol: String, keyCol: String, k: Int): DataFrame =
    stratifiedExactKRows(df, Seq(stratumCol), keyCol, k)

  /** Composite-strata form of [[stratifiedExactKRows]]. */
  def stratifiedExactKRows(
      df: DataFrame, stratumCols: Seq[String], keyCol: String, k: Int): DataFrame =
    semiJoinQuota(df, stratifiedExactK(df, stratumCols, keyCol, k),
      stratumCols, keyCol)

  /** [[stratifiedWeightedK]] returning full source rows — see
    * [[stratifiedExactKRows]] for the join-back contract.
    */
  def stratifiedWeightedKRows(
      df: DataFrame, stratumCol: String, keyCol: String, weightCol: String,
      k: Int): DataFrame =
    stratifiedWeightedKRows(df, Seq(stratumCol), keyCol, weightCol, k)

  /** Composite-strata form of [[stratifiedWeightedKRows]]. */
  def stratifiedWeightedKRows(
      df: DataFrame, stratumCols: Seq[String], keyCol: String, weightCol: String,
      k: Int): DataFrame =
    semiJoinQuota(df,
      stratifiedWeightedK(df, stratumCols, keyCol, weightCol, k),
      stratumCols, keyCol)

  /** Session conf: max quota rows drawn through the bounded collect
    * that gates the join-back broadcast (default 2²⁰; bytes are capped
    * at BoundedCollect.GateBytes), so the driver transfer is bounded
    * whatever the strata cardinality turns out to be.
    */
  val QuotaBroadcastRowsKey = "spark.graft.quota.broadcastRows"
  private val QuotaBroadcastRowsDefault = 1 << 20

  private def semiJoinQuota(
      df: DataFrame, quota: DataFrame, stratumCols: Seq[String],
      keyCol: String): DataFrame = {
    val maxRows = graft.core.SessionConf.nonNegativeInt(
      df.sparkSession, QuotaBroadcastRowsKey, QuotaBroadcastRowsDefault)
    // rename the quota side: it is DERIVED from df, and a self-join
    // on same-named columns trips Spark's ambiguous-attribute lint
    val qNames = stratumCols.indices.map(i => s"__q_s$i") :+ "__q_key"
    val cond = stratumCols.zipWithIndex.map { case (s, i) =>
      col(s) <=> col(s"__q_s$i")
    }.reduce(_ && _) && col(keyCol) === col("__q_key")
    BoundedCollect.joinBack(df, quota.toDF(qNames: _*), cond, "left_semi", maxRows)
  }
}
