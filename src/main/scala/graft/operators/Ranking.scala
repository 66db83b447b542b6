package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global ranking without the single-partition window.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY funnels the
  * whole dataset through one task (Spark warns "Moving all data to a
  * single partition") — the formulation that never finishes at 100 TB.
  * The scalable shape is the classic two-pass rank:
  *
  *   1. range-repartition on the sort key (partition i's keys sort
  *      before partition i+1's) and sort within partitions — ONE wide
  *      shuffle, every task sorts only its own slice;
  *   2. count rows per partition and prefix-sum into offsets;
  *   3. global rank = partition offset + intra-partition position.
  *
  * The subtle part is keeping passes 2 and 3 CONSISTENT. Expressing
  * both in DataFrame code produces two independent physical plans, and
  * each execution of `repartitionByRange` re-samples its range bounds
  * (the sampling seed varies per planned exchange), so the partition a
  * row lands in can differ between the counting pass and the ranking
  * pass — offsets computed against one partitioning get applied to
  * another, yielding duplicate and skipped ranks. The fix is to drop to
  * ONE materialized RDD of the sorted plan and use `zipWithIndex`: its
  * internal size pass and its data pass run over the same RDD instance,
  * so the range bounds are sampled exactly once and the sort shuffle's
  * map output is reused by the second job rather than recomputed.
  *
  * Cost: one wide shuffle (the range sort), one extra job that streams
  * the sorted partitions to count them (shuffle-read only, no second
  * shuffle), and an external-row round trip for the RDD hop. Rank
  * assignment is shuffle-bound, so the row-codec overhead is noise at
  * scale; what matters is that no stage sees more than 1/numPartitions
  * of the data.
  */
object Ranking {

  /** Top-k rows per group under `(orderCol DESC, idCol ASC)` WITHOUT a
    * per-group sort — the bounded-heap complement of the
    * `row_number() OVER (PARTITION BY g ORDER BY v DESC, id)` window.
    *
    * The window formulation sorts every group's FULL row set before
    * WindowGroupLimit can trim it: each scan split locally sorts all
    * its rows, and the exchange still carries ≤ k·groups·splits rows
    * only AFTER that sort was paid (guide §2 — the sort is the cost,
    * not the exchange). This rides the mergeable `graft_top_k`
    * aggregate instead: every map task keeps a k-element heap per
    * group (O(1) per losing row, O(log k) per contender), the
    * exchange carries splits × groups × k rows, and NO sort node
    * appears anywhere in the plan.
    *
    * Equivalence to the window form (`rank <= k` under
    * `(orderCol DESC, idCol ASC)`) is exact whenever `orderCol` and
    * `idCol` are non-null and non-NaN — the heap's tie rule IS the
    * window's (value desc, id asc), pinned by RankingSpec. The ONE
    * deliberate deviation (graft_top_k's contract): null/NaN order
    * values never rank, where the window would rank them last/first —
    * so a group whose order values are ALL null/NaN emits no rows at
    * all.
    *
    * Output: (groupCols…, rkCol BIGINT 1..k, idCol BIGINT, orderCol
    * DOUBLE) — the heap carries (double, long) pairs, so the order
    * value must be float/double and the id integral; both pass
    * through the heap bit-unchanged. Any other type (DECIMAL money
    * columns included: a double coercion would round wide values
    * into false ties) fails with a [[graft.core.UserException]] naming
    * the column.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      idCol: String,
      k: Int,
      rkCol: String = "rk"): DataFrame = {
    import org.apache.spark.sql.functions._
    require(groupCols.nonEmpty, "at least one group column")
    import org.apache.spark.sql.types._
    def typeOf(c: String): DataType = df.select(col(c)).schema.head.dataType
    typeOf(orderCol) match {
      case FloatType | DoubleType =>
      case t => throw graft.core.UserException(
        s"topKPerGroup: order column `$orderCol` must be FLOAT or DOUBLE, got ${t.sql}")
    }
    typeOf(idCol) match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw graft.core.UserException(
        s"topKPerGroup: id column `$idCol` must be integral, got ${t.sql}")
    }
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKFunctions.topK(
        col(orderCol), col(idCol), k).as("__tk"))
      .select(groupCols.map(col) :+ posexplode(col("__tk")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("__pos") + 1).cast("long").as(rkCol),
        col("__e.cand_id").as(idCol),
        col("__e.sim").as(orderCol)): _*)
  }

  /** Adds `outCol` = 1-based global row number under a total order. The
    * caller's sort columns must form a total order (include a tiebreak
    * key) for the rank to be deterministic.
    */
  def globalRowNumber(
      df: DataFrame,
      sortCols: Seq[Column],
      outCol: String = "rk",
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val n = numPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val sorted = df
      .repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    // Single RDD instance: zipWithIndex's count job and the data job
    // share the range-sampling and the sort shuffle (see scaladoc).
    val ranked = sorted.rdd.zipWithIndex().mapPartitions(
      _.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      preservesPartitioning = true)
    spark.createDataFrame(ranked, schema)
  }
}
