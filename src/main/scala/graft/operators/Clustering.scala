package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the trained
  * coarse quantizer the IVF index wants (Similarity.ivfTopK's seed
  * centroids note), and the clustering step of semantic-dedup /
  * diversity-sampling pipelines (cluster, then cap or re-weight per
  * cluster).
  *
  * Scale shape: centroids are driver state (k × dim doubles —
  * metadata scale, like ivfTopK's 16-vector collect, documented).
  * Each iteration is ONE map-side assignment pass (centroids embedded
  * as literals, distances through the codegen'd graft_dot kernel) and
  * ONE partial-aggregated mean: posexplode(vec) → groupBy(cluster,
  * dim) runs map-side combine, so the shuffle carries
  * partitions × k × dim partial sums, never rows × dim. The corpus is
  * scanned iters + 1 times and never shuffled.
  *
  * Determinism (what makes the DuckDB oracle replayable):
  * - seed centroids = first k vectors by id (ivfTopK's convention);
  * - distance uses the reduced form ‖c‖² − 2·x·c (the ‖x‖² term is
  *   constant per row and cannot change the argmin), with ‖c‖²
  *   accumulated left-to-right on the driver — the same order the
  *   oracle's unrolled SQL uses;
  * - distances are quantized to floor(d·1e6) and ties break on the
  *   lowest cluster id, so last-ulp float noise cannot flip an
  *   assignment;
  * - updated centroid means are rounded HALF_UP to 6 decimals before
  *   re-embedding, absorbing the (order-dependent) parallel-sum ulp
  *   drift in BOTH engines.
  * An empty cluster keeps its previous centroid (same rule in the
  * oracle's COALESCE).
  */
object Clustering {

  /** Quantized-argmin cluster id of `vec` against literal centroids. */
  private def assignExpr(vec: Column, centroids: Array[Seq[Double]]): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, j) =>
      val n2 = c.map(x => x * x).sum // left-to-right, replayed verbatim in SQL
      struct(
        floor((lit(n2) - lit(2.0) * VectorFunctions.dot(vec, typedlit(c)))
          * lit(1e6)).cast("long").as("qd"),
        lit(j).as("cid"))
    }.toSeq: _*)
    element_at(array_sort(scored), 1).getField("cid")
  }

  /** One Lloyd update: per-(cluster, dim) means of the assignment
    * against `centroids`, rounded, with an EMPTY cluster keeping its
    * previous centroid (the rule the oracle's COALESCE replays).
    * Partial aggregation keeps the shuffle at partitions × k × dim
    * rows; the k × dim collect is metadata.
    */
  private def updateOnce(
      vecs: DataFrame, centroids: Array[Seq[Double]]): Array[Seq[Double]] = {
    val means = vecs.withColumn("cluster", assignExpr(col("v"), centroids))
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim").agg(avg(col("x")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(r => round6(r.getDouble(2))).toSeq
      }
    centroids.indices.map(j => means.getOrElse(j, centroids(j))).toArray
  }

  private def trainedAfter(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, updates: Int): (DataFrame, Array[Seq[Double]]) = {
    require(k >= 1 && updates >= 0, "k must be positive, updates non-negative")
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // seed: first k vectors by id — deterministic, engine-portable
    var centroids: Array[Seq[Double]] = vecs.orderBy(col("id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    for (_ <- 1 to updates) centroids = updateOnce(vecs, centroids)
    (vecs, centroids)
  }

  /** Per-row cluster assignment after `iters` Lloyd rounds (the
    * returned labels come from round `iters`, i.e. centroids updated
    * iters − 1 times). Output: (idCol, cluster).
    */
  def kmeansAssignments(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val (vecs, centroids) = trainedAfter(emb, idCol, vecCol, k, iters - 1)
    vecs.select(col("id").as(idCol),
      assignExpr(col("v"), centroids).as("cluster"))
  }

  /** The trained centroids themselves: `iters` full Lloyd updates from
    * the seed, empty clusters keeping their previous centroid at every
    * round — feed these to Similarity.ivfTopK as a real quantizer.
    */
  def kmeansCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Array[Seq[Double]] = {
    require(iters >= 1, "iters must be positive")
    trainedAfter(emb, idCol, vecCol, k, iters)._2
  }

  /** HALF_UP at 6 decimals — DuckDB's round(x, 6) semantics. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
