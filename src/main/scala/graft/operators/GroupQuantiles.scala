package graft.operators

import graft.functions.KllFunctions
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact per-group order statistics WITHOUT sorting the table.
  *
  * The window formulation — `row_number() OVER (PARTITION BY grp ORDER
  * BY v)` then keep ranks `ceil(p·n)` — shuffles every row and sorts
  * each group inside ONE task. With few groups (priority classes,
  * languages, quality tiers: the realistic shape for corpus statistics)
  * that is a handful of reducers each sorting |table|/|groups| rows —
  * 20 TB per task at the 100 TB design point. The measured local
  * symptom at sf10 is the same curve: 5 tasks sort 3M rows each while
  * 27 cores idle.
  *
  * The scalable shape is classic two-round SELECTION (Blum et al.'s
  * problem, distributed): find the k-th smallest per group by first
  * BRACKETING it with a mergeable quantile sketch, then touching only
  * the rows inside the bracket.
  *
  *   1. One partial-aggregated pass: per group, `n`, null/NaN counts
  *      and a KLL sketch (graft_kll_sketch — KB of state, map-side
  *      combined; no row moves further than a 32-partition agg).
  *   2. Driver: for each (group, p), target rank k = ceil(p·n); the
  *      sketch brackets the k-th value in [lo, hi] with rank margin
  *      3.5× the sketch's 99%-confidence error — the bracket holds
  *      ~7% of the group's rows, independent of table size.
  *   3. One more pass: count rows strictly below `lo` (gives the
  *      bracket's global rank offset) and rank the bracket rows with a
  *      window whose partitions are bracket-sized, never group-sized.
  *      The k-th value is the bracket row at local rank k − offset.
  *
  * Every comparison happens in the value's DOUBLE image (the sketch's
  * space). Values whose double images collide order arbitrarily among
  * themselves, but boundary ties fall INTO the bracket on both ends,
  * so the selected VALUE is exact regardless.
  *
  * Totality: ranks ≤ nullCount resolve to NULL (Spark windows sort
  * nulls FIRST), ranks past the non-NaN values resolve to NaN (Spark
  * sorts NaN LAST, above +Infinity — note a plain `v <= +Inf` filter
  * agrees, NaN compares false); both shortcut driver-side. In the
  * astronomically-unlikely event a sketch bound is violated (the 3.5×
  * margin is far outside the sketch's 99% envelope), the picked-row
  * count won't match the target count and the operator logs a warning
  * naming the missed (group, rank) brackets, then falls back to the
  * window formulation — correctness is unconditional, the sketch only
  * buys the plan. A RECURRING warning is a margin bug worth a report,
  * not just a slow query.
  *
  * Driver state is GROUP-BOUNDED and the bound is enforced BEFORE any
  * driver transfer: pass 1 collects through [[BoundedCollect]] under
  * `maxGroups` rows and 64 MB (the aggregate still runs fully
  * distributed). Each stats row carries a serialized KLL sketch
  * (≈2–6 KB at the default k=400), so the default cap of 10,000
  * groups bounds pass 1's collect at tens of MB; raise it knowingly,
  * it is driver memory. Exceeding either cap is
  * NOT an error: the operator logs a warning and falls back to
  * [[windowExact]] — past ~10k groups per-group sorts parallelize
  * across every core, which is exactly the regime where the window
  * formulation wins anyway (see [[auto]] for the measured crossover).
  *
  * Bracket-join fanout: pass 3 joins every row of a bracketed group
  * against ALL of that group's bounds rows — a groups×probs fanout on
  * the FILTERED frame. At probs ≤ ~10 (the realistic ask: quartiles,
  * deciles, p99-style tails) the fanout is noise; the operator rejects
  * probs lists past 64 outright rather than let the fanout grow
  * quadratic-ish silently.
  *
  * Reserved names: both formulations introduce `__`-prefixed working
  * columns (`__v __tid __k __lo __hi __n __rk __lr __below __g<i>`)
  * unqualified against the caller's frame; a caller column with one of
  * these names fails analysis with an ambiguous-reference error
  * (loudly, never wrongly). Rename such columns before calling.
  *
  * Output: one row per distinct (group, rank): groupCols…, `rk` =
  * ceil(p·n) (LongType), and the value column under its own name —
  * exactly the rows the window formulation keeps (two probs landing on
  * the same rank emit ONE row, like the window's OR predicate).
  */
object GroupQuantiles {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.GroupQuantiles")

  private def validate(groupCols: Seq[String], probs: Seq[Double]): Unit = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be in (0, 1], got $probs")
    require(probs.length <= 64,
      s"probs list of ${probs.length} exceeds 64 — the bracket pass fans " +
        "every bracketed row out against its group's bounds rows " +
        "(groups × probs); for dense quantile grids use the KLL rollup (q58)")
  }

  /** Pass-1 stats frame: per-group n / null / NaN counts + KLL sketch,
    * all mergeable partials.
    */
  private def statsFrame(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      sketchK: Int): DataFrame = {
    val valueField = df.schema(valueCol)
    val floating = valueField.dataType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    val v = col(valueCol)
    val nanCond = if (floating) isnan(v) else lit(false)
    df.groupBy(groupCols.map(col): _*).agg(
        count(lit(1)).as("__n"),
        count(when(v.isNull, 1)).as("__nulls"),
        count(when(nanCond, 1)).as("__nans"),
        KllFunctions.kllSketch(v, sketchK).as("__sk"))
  }

  /** Pass-1 stats through one bounded collect: the rows when at most
    * `maxGroups` groups (and 64 MB) came back, else the overflow.
    */
  private[graft] def collectStats(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      sketchK: Int,
      maxGroups: Int): BoundedCollect.Outcome =
    BoundedCollect(statsFrame(df, groupCols, valueCol, sketchK),
      maxGroups, BoundedCollect.GateBytes)

  def exact(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probs: Seq[Double],
      sketchK: Int = 400,
      maxGroups: Int = 10000): DataFrame = {
    validate(groupCols, probs)
    collectStats(df, groupCols, valueCol, sketchK, maxGroups) match {
      case stats: BoundedCollect.Collected =>
        selectFromStats(df, groupCols, valueCol, probs, stats.toRows)
      case over: BoundedCollect.Overflow =>
        log.warn(s"group quantiles on (${groupCols.mkString(", ")}) exceeded " +
          s"the pass-1 ${over.describe} — falling back to the window " +
          "formulation (many small groups is its winning regime; raise " +
          "maxGroups knowingly if selection was intended)")
        windowExact(df, groupCols, valueCol, probs)
    }
  }

  /** Picks the formulation from the measured crossover, using only
    * pass-1 stats the selection path needs anyway (so choosing
    * selection costs nothing extra, and choosing the window costs one
    * group-bounded aggregate scan).
    *
    * Measured at sf10 (orders, 15M rows, 32 cores; BENCHNOTES_r13 §2):
    * 5 groups — selection 2.7 s vs window 11–12.5 s; 125 groups ≈
    * parity; 3125 groups — window 1.5 s vs selection 3.5 s. The
    * decision variables are therefore (a) enough groups to fill every
    * core with per-group sorts (crossover ≈ 4× parallelism: 125 ≈
    * 4×32) and (b) per-group data one task can sort comfortably
    * (`windowMaxGroupRows`; a 100 TB corpus split 3,125 ways is still
    * 32 GB per group — selection territory no matter the group count).
    * Both formulations stay public: the spec pins identical output on
    * both sides of the crossover.
    */
  def auto(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probs: Seq[Double],
      sketchK: Int = 400,
      maxGroups: Int = 10000,
      windowMaxGroupRows: Long = 1L << 20): DataFrame = {
    validate(groupCols, probs)
    collectStats(df, groupCols, valueCol, sketchK, maxGroups) match {
      case _: BoundedCollect.Overflow =>
        // past the cap there are certainly enough groups for the
        // window's per-group sorts to fill the cluster
        windowExact(df, groupCols, valueCol, probs)
      case collected: BoundedCollect.Collected =>
        val stats = collected.toRows
        val g = groupCols.length
        val parallelism = df.sparkSession.sparkContext.defaultParallelism
        val maxN = if (stats.isEmpty) 0L else stats.map(_.getLong(g)).max
        if (stats.length >= 4L * parallelism && maxN <= windowMaxGroupRows) {
          log.info(s"group quantiles auto-dispatch: window formulation " +
            s"(${stats.length} groups >= 4x$parallelism, max group $maxN rows)")
          windowExact(df, groupCols, valueCol, probs)
        } else {
          selectFromStats(df, groupCols, valueCol, probs, stats)
        }
    }
  }

  /** Selection passes 2–3 over collected pass-1 stats (≤ maxGroups
    * rows, already cap-bounded by the caller).
    */
  private def selectFromStats(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probs: Seq[Double],
      stats: Array[Row]): DataFrame = {
    val spark = df.sparkSession
    val valueField = df.schema(valueCol)
    val floating = valueField.dataType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    val v = col(valueCol)

    val g = groupCols.length
    // (groupValues, rank k) resolved directly (null / NaN picks)
    val direct = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long, Any)]
    // (tid, groupValues, k, kLocalBase=k-nulls, lo, hi)
    final case class Bracket(tid: Long, gv: Seq[Any], k: Long, kNonNull: Long,
        lo: Double, hi: Double)
    val brackets = scala.collection.mutable.ArrayBuffer.empty[Bracket]
    var tid = 0L
    stats.foreach { row =>
      val gv = (0 until g).map(row.get)
      val n = row.getLong(g)
      val nulls = row.getLong(g + 1)
      val nans = row.getLong(g + 2)
      val m = n - nulls - nans // values the sketch saw (it skips NaN)
      val sk: KllDoublesSketch =
        if (m > 0) KllDoublesSketch.heapify(
          Memory.wrap(row.getAs[Array[Byte]](g + 3)))
        else null
      probs.foreach { p =>
        val k = math.ceil(p * n).toLong.max(1L)
        if (k <= nulls) {
          direct += ((gv, k, null))
        } else if (k > nulls + m) {
          val nan: Any = valueField.dataType match {
            case FloatType => Float.NaN
            case _ => Double.NaN
          }
          direct += ((gv, k, nan))
        } else {
          val kNN = k - nulls // 1-based rank among the m sketch values
          val q = kNN.toDouble / m
          val margin = 3.5 * sk.getNormalizedRankError(false)
          val lo = if (q - margin <= 0.0) Double.NegativeInfinity
                   else sk.getQuantile(q - margin)
          val hi = if (q + margin >= 1.0) Double.PositiveInfinity
                   else sk.getQuantile(q + margin)
          brackets += Bracket(tid, gv, k, kNN, lo, hi)
          tid += 1
        }
      }
    }

    val resultSchema = StructType(
      groupCols.map(c => df.schema(c)) ++
        Seq(StructField("rk", LongType, nullable = false),
          valueField.copy(nullable = true)))

    val picked: Map[Long, Any] =
      if (brackets.isEmpty) Map.empty
      else {
        // bounds table: tiny (≤ groups × probs), broadcast onto the scan
        val boundsSchema = StructType(
          groupCols.zipWithIndex.map { case (c, i) =>
            df.schema(c).copy(name = s"__g$i")
          } ++ Seq(
            StructField("__tid", LongType, nullable = false),
            StructField("__k", LongType, nullable = false),
            StructField("__lo", DoubleType, nullable = false),
            StructField("__hi", DoubleType, nullable = false)))
        val boundRows: java.util.List[Row] = java.util.Arrays.asList(
          brackets.toSeq.map(b =>
            // Seq[Any], NOT Seq(...): Scala's lub would numeric-widen
            // the Long ids into Doubles and corrupt the local relation
            Row.fromSeq(b.gv ++ Seq[Any](b.tid, b.kNonNull, b.lo, b.hi))): _*)
        val bounds = spark.createDataFrame(boundRows, boundsSchema)
        // null-safe equality: a NULL group key is a real group
        val joinCond = groupCols.zipWithIndex
          .map { case (c, i) => df(c) <=> bounds(s"__g$i") }
          .reduce(_ && _)
        val joined = df.join(broadcast(bounds), joinCond)
          .select(v.as("__v"), col("__tid"), col("__k"), col("__lo"), col("__hi"))
        val vv = col("__v")
        val real = vv.isNotNull &&
          (if (floating) !isnan(vv) else lit(true))
        // offset: rows strictly below the bracket (double-image order)
        val below = joined.where(real && vv < col("__lo"))
          .groupBy("__tid").agg(count(lit(1)).as("__below"))
        // bracket rows: window partitions are bracket-sized (~7% of a
        // group), so the sort that was the whole table is now a sliver
        val brkt = joined.where(real && vv >= col("__lo") && vv <= col("__hi"))
        val lr = brkt.withColumn("__lr",
          row_number().over(Window.partitionBy(col("__tid")).orderBy(vv)))
        lr.join(below, Seq("__tid"), "left")
          .where(col("__lr").cast("long") ===
            col("__k") - coalesce(col("__below"), lit(0L)))
          .select(col("__tid"), col("__v"))
          .collect()
          .map(r => r.getLong(0) -> r.get(1))
          .toMap
      }

    if (picked.size != brackets.length) {
      // a sketch bound was violated (see scaladoc) — correctness falls
      // back to the window formulation, unconditionally exact. Named
      // in the log: a RECURRING violation is a margin bug, not noise.
      val missed = brackets.filterNot(b => picked.contains(b.tid)).take(8)
        .map(b => s"(group=${b.gv.mkString(",")}, k=${b.k}, " +
          s"bracket=[${b.lo}, ${b.hi}])")
      log.warn(s"group quantiles sketch bound violated for " +
        s"${brackets.length - picked.size} of ${brackets.length} brackets " +
        s"${missed.mkString("; ")} — re-running the window formulation " +
        "(3.5x margin missed: investigate if recurring)")
      return windowExact(df, groupCols, valueCol, probs)
    }

    val rows: Seq[Row] =
      (direct.map { case (gv, k, value) => Row.fromSeq(gv ++ Seq[Any](k, value)) } ++
        brackets.map(b => Row.fromSeq(b.gv ++ Seq[Any](b.k, picked(b.tid))))).toSeq
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), resultSchema)
      .distinct() // probs landing on the same rank emit one row
  }

  /** The window formulation — the semantic spec `exact` is pinned
    * against, its unconditional fallback, and the right tool in ONE
    * regime: very many SMALL groups. Measured crossover at sf10
    * (orders, 15M rows, 32 cores; BENCHNOTES_r13 §2): 5 groups
    * selection 2.7 s vs window 11–12.5 s; 125 groups ≈ parity;
    * 3125 groups window 1.5 s vs selection 3.5 s — because 4.8k-row
    * per-group sorts parallelize across every core. The decision
    * variable at scale is rows-per-group versus what one task can
    * sort: with groups ≳ cores AND per-group data that fits a task
    * comfortably, use this; with few groups or task-dwarfing groups
    * (the 100 TB corpus-statistics shape), `exact`'s cost stays ~3
    * scans regardless. [[auto]] encodes exactly that rule.
    */
  def windowExact(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probs: Seq[Double]): DataFrame = {
    // public API: enforce the same probs/group contract as exact/auto
    // (a direct caller must not slip probs ∉ (0,1] or a 500-entry
    // probs list past the brackets the other entry points reject)
    validate(groupCols, probs)
    val grp = groupCols.map(col)
    val ranked = df
      .withColumn("__rk",
        row_number().over(
          Window.partitionBy(grp: _*).orderBy(col(valueCol))).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    val cond = probs
      .map(p => col("__rk") === ceil(lit(p) * col("__n")).cast("long"))
      .reduce(_ || _)
    ranked.where(cond)
      .select(grp ++ Seq(col("__rk").as("rk"), col(valueCol)): _*)
  }
}
