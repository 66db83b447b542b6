package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField}
import org.apache.spark.storage.StorageLevel

/** Connected components — the clustering step a dedup pipeline runs
  * AFTER candidate-pair generation (MinHash/SimHash give near-duplicate
  * PAIRS; keeping one document per duplicate CLUSTER needs the
  * transitive closure of those pairs).
  *
  * Both paths reduce the distinct edge set to its star forest: one
  * (vertex, component minimum) edge per non-root vertex.
  *
  * Small graphs (the common case): ONE [[BoundedCollect]] of the
  * distinct edges under [[BoundedCollect.GateBytes]] bytes (about 2.8M
  * edges; a `smallGraphMaxEdges` row cap when one is passed), a
  * union-find pass on the driver ([[minRootStars]]), and the stars go
  * back as a broadcast LocalRelation. No fingerprint, no persist, no
  * single-task stage.
  *
  * Past either cap: alternating large-star / small-star (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014),
  * starting from a frame over the very RDD the gate ran, so the edge
  * frame's map stages are skipped, not recomputed. Each round is two
  * relational passes (explode edges by endpoint, groupBy node, re-emit
  * edges toward the neighborhood minimum), and the edge set provably
  * converges to per-component stars in O(log² n) rounds — unlike naive
  * label propagation, whose round count is the graph DIAMETER (a
  * 1M-node chain needs 1M rounds; star-contraction needs ~20). Every
  * pass is a hash shuffle on node id, so a round scales to billions of
  * edges exactly like any other groupBy.
  *
  * Between rounds the edge set is re-persisted and its lineage cut
  * (reliable `checkpoint` when the session has a checkpoint dir — the
  * cluster-deployment setting — else `localCheckpoint`): iterative
  * DataFrame algorithms otherwise build an exponentially deepening
  * plan that stalls the optimizer long before the data is the problem.
  */
object ConnectedComponents {

  /** Large-star: for every node u, connect every STRICTLY LARGER
    * neighbor v to m = min(Γ(u) ∪ u). Keeps all inter-component
    * connectivity while shrinking large-id fan-out.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(least(min("v"), col("u")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: orient every edge max→min, then for every node u
    * connect every (smaller) neighbor — and u itself — to the
    * neighborhood minimum.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val m = oriented.groupBy("u").agg(min("v").as("m"))
    val relink = oriented.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
    relink.where(col("u") =!= col("v")).distinct()
  }

  /** Edge-count cap of the small-graph path. By default only the byte
    * cap applies: within [[BoundedCollect.GateBytes]] of distinct edges
    * (64 MB, about 2.8M (long, long) rows) the closure is ONE bounded
    * collect and a driver-side union-find instead of distributed
    * contraction rounds — each round is 4 shuffle stages + a
    * convergence job, pure overhead when the edge set fits the driver
    * (measured in the r10 q47 sf10 decomposition, where crossing the
    * old 1M threshold accounted for most of a 21× jump). Pass a
    * smaller cap to bound the rows too, 0 to force the distributed
    * path.
    */
  val DefaultSmallGraphMaxEdges: Long = Long.MaxValue

  /** ids are contracted as longs; a silent cast would null out
    * string/UUID ids and "succeed" with one (null,null) row — fail
    * loudly instead (hash non-numeric ids to longs upstream).
    */
  private def requireIntegral(op: String, fields: StructField*): Unit =
    fields.foreach { f =>
      if (!Set[DataType](ByteType, ShortType, IntegerType, LongType)(f.dataType))
        throw new IllegalArgumentException(
          s"$op requires integral ids; column ${f.name} is " +
            s"${f.dataType.simpleString} (hash it to a long first)")
    }

  /** Component label for every vertex: (id, component) where component
    * is the minimum vertex id in the connected component. `edges` is an
    * undirected pair list (id_a, id_b) in its first two columns;
    * `vertices` supplies the full id universe so isolated vertices
    * label themselves: the distinct vertex set left-joined to the
    * star forest.
    */
  def labels(vertices: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    labels(vertices, idCol, edges, DefaultSmallGraphMaxEdges)

  def labels(
      vertices: DataFrame,
      idCol: String,
      edges: DataFrame,
      smallGraphMaxEdges: Long): DataFrame = {
    requireIntegral("ConnectedComponents", vertices.schema(idCol))
    val s = stars(edges, smallGraphMaxEdges)
    vertices.select(col(idCol).cast("long").as("id")).distinct()
      .join(s.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** The star forest of `edges`' components: one (u, v) row per
    * non-root vertex u, v its component's minimum id. Within the caps a
    * broadcast LocalRelation; past them the converged contraction.
    */
  private def stars(edges: DataFrame, smallGraphMaxEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    requireIntegral("ConnectedComponents", edges.schema(ea), edges.schema(eb))
    val distinctEdges = edges
      .select(col(ea).cast("long").as("u"), col(eb).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    BoundedCollect.collectOrFrame(distinctEdges, smallGraphMaxEdges, BoundedCollect.GateBytes) match {
      case Left(c) => broadcast(driverStars(spark, c.rows))
      case Right(frame) => contract(frame)
    }
  }

  /** The small-graph stars: [[minRootStars]] over the collected edge
    * rows on the driver (union-by-min-root makes each tree's root the
    * component minimum, so these are the distributed path's stars —
    * spec-compared), as a LocalRelation of (u, v) rows.
    *
    * Each edge row is released as the union-find reads it, and the
    * stars go straight into the relation's row array, so the driver
    * never holds the edge rows, the union-find map and the stars all
    * at once. Measured heap on a 1M-edge matching (the worst case: one
    * non-root per edge): the collected rows take about 90 bytes per
    * 24-byte edge row, and the map plus the star rows about 155 bytes
    * per non-root vertex, which is the peak. Non-roots never outnumber
    * the edges, so at the 64 MB cap (about 2.8M edges) the peak is at
    * most about 440 MB. Executing the broadcast then copies the stars
    * into its hashed relation.
    */
  private def driverStars(spark: SparkSession, rows: Array[InternalRow]): DataFrame = {
    val edges = Iterator.range(0, rows.length).map { i =>
      val r = rows(i)
      rows(i) = null
      (r.getLong(0), r.getLong(1))
    }
    val stars = minRootStars(edges).map { case (u, v) => InternalRow(u, v) }.toArray
    SparkBridge.ofRows(spark, LocalRelation(
      Seq(AttributeReference("u", LongType, nullable = false)(),
        AttributeReference("v", LongType, nullable = false)()),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(stars)))
  }

  /** The distributed large-/small-star rounds over a distinct edge
    * frame (u, v), run to convergence.
    */
  private def contract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val hasCkptDir = spark.sparkContext.getCheckpointDir.isDefined
    // Lineage cut with an explicit release handle: each round persists
    // ONE RDD instance and unpersists the superseded round once the
    // next is materialized — a 20-round run pins one edge set, not 20.
    // (persist keeps lineage as an eviction fallback, which
    // localCheckpoint would not; the final round's blocks are released
    // by the ContextCleaner when the returned frame is dropped.)
    // Reliable checkpoints (cluster setting) clean via
    // spark.cleaner.referenceTracking.cleanCheckpoints.
    def cut(df: DataFrame): (DataFrame, () => Unit) =
      if (hasCkptDir) (df.checkpoint(), () => ())
      else {
        val rdd = df.rdd
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        (spark.createDataFrame(rdd, df.schema), () => { rdd.unpersist(blocking = false); () })
      }
    // Convergence = identical edge set across a round. Both sides are
    // distinct (u,v) sets, so compare a one-pass fingerprint
    // (cardinality, sum of per-edge hashes): one tiny aggregation job
    // per round instead of a set-difference join. A colliding unequal
    // set (~2^-64) would only stop the provably-convergent contraction
    // one round early.
    def fingerprint(df: DataFrame): (Long, Long) = {
      // sum() over xxhash64 wraps on Long overflow BY DESIGN: the value
      // is only an equality fingerprint, so mod-2^64 arithmetic is fine
      // (order-independent, deterministic) — this is a deliberate
      // exception to the repo's "never rely on wrap" rule.
      val r = df.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (e, release) = cut(edges)
    var sig = fingerprint(e) // materializes `e`
    var converged = sig._1 == 0L
    var rounds = 0
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val (next, releaseNext) = cut(smallStar(largeStar(e)))
      val nextSig = fingerprint(next) // materializes `next`
      release()                       // superseded round's blocks freed
      release = releaseNext
      converged = nextSig == sig
      sig = nextSig
      e = next
      rounds += 1
    }
    // Star-contraction provably converges in O(log² n) rounds; hitting
    // the cap means something is structurally wrong (or a graph beyond
    // any practical size) — returning unconverged labels would be
    // silently WRONG components, so fail instead.
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxRounds rounds " +
          s"(${sig._1} edges remain); labels would be unreliable")
    // after convergence small-star output is a star per component
    e
  }

  /** Union-find (union-by-min-root + path compression, O(E α)) over an
    * edge iterator, shared by the small-graph path (on the driver, over
    * the collected edges) and [[spanningForest]] (in each task, over
    * its partition's edges): one `(vertex, root)`
    * star edge per non-root vertex seen, each root its tree's minimum
    * id. Roots never enter the map, so no self-edge is emitted.
    */
  private def minRootStars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    parent.keysIterator.toArray.iterator.map(k => (k, find(k)))
  }

  /** Spanning forest of an edge set: a connectivity-equivalent edge
    * set whose SIZE is bounded by the number of distinct vertices, not
    * by the number of edges — the linear-output reduction for
    * producers whose raw edge set grows quadratically (a thresholded
    * pair-verification stage emits ~n² pairs inside a near-dup
    * cluster; its closure needs only ~n of them).
    *
    * One map-side pass, NO shuffle: each task runs [[minRootStars]]
    * (the small-graph fast path's union-find) over its partition's
    * edges and emits one star edge per non-root vertex it saw.
    * Correctness is the classical composition fact: a spanning forest
    * of each partition's edge subset preserves that subset's
    * transitive closure exactly, and the closure of a union of edge
    * sets depends only on the closures of its parts — so
    * `labels(spanningForest(E)) == labels(E)` for every vertex
    * (spec-pinned; isolated vertices never appear in either edge set
    * and label themselves in both).
    *
    * Output is ≤ (distinct vertex ids in the partition) rows per
    * partition — for a verify stage over candidate pairs that is
    * corpus-linear where the pair set is cluster-size-quadratic. Task
    * memory is one LongMap entry per distinct id in the partition
    * (pair-verification frames touch few distinct ids by construction;
    * for arbitrary edge frames size partitions so ids-per-partition
    * fits the executor, as any groupBy there would anyway).
    */
  def spanningForest(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val Seq(ea, eb) = edges.columns.take(2).toSeq
    requireIntegral("spanningForest", edges.schema(ea), edges.schema(eb))
    edges.select(col(ea).cast("long"), col(eb).cast("long"))
      .where(col(ea) =!= col(eb)) // drops self-loops AND null endpoints
      .as[(Long, Long)]
      .mapPartitions(minRootStars)
      .toDF(ea, eb)
  }

  /** Min-id dedup applied: the rows of `rows` whose `idCol` is the
    * minimum id of its connected component over `edges` — the kept
    * representative per near-dup cluster. A row is kept unless its id
    * is null or a non-root of the star forest: one `left_anti` join
    * onto `rows` (a broadcast within the small-graph caps), so `rows`
    * never shuffles and rows sharing an id all survive together.
    */
  def keepMinIds(rows: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    requireIntegral("ConnectedComponents", rows.schema(idCol))
    val nonRoots = stars(edges, DefaultSmallGraphMaxEdges).select(col("u").as("__cc_non_root"))
    rows.where(col(idCol).isNotNull)
      .join(nonRoots, col(idCol).cast("long") === col("__cc_non_root"), "left_anti")
  }

  /** Duplicate-cluster summary: one row per component with its size and
    * the kept (minimum-id) representative — the shape an ingest
    * pipeline joins back against to drop all-but-one copy.
    */
  def clusterSummary(vertices: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    labels(vertices, idCol, edges)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"))
}
