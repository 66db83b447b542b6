package graft.operators

import graft.functions.TopKFunctions.{CorpusTopK, ProbeTopKAgg}
import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §7.5).
  *
  * Two plans, same contract:
  * - `bruteForceTopK`: probes × corpus with the codegen'd
  *   `graft_cosine` kernel. The probe side is broadcast (it's small by
  *   construction), so the corpus scan never shuffles — each executor
  *   streams its corpus partition past the in-memory probe set. This
  *   is the exact baseline and stays viable surprisingly far: 1k
  *   probes × 100M vectors/executor-wave is a pure compute problem.
  * - `lshTopK`: random-hyperplane LSH — vectors hash to a signature of
  *   sign-bits against `planes` deterministic hyperplanes; candidates
  *   are corpus rows sharing a probe's bucket, then exact-rank within
  *   candidates. Recall < 1 by design; the bucket join replaces the
  *   full cross product, which is the 100 TB path.
  *
  * Hyperplanes are derived from md5 so runs are reproducible without a
  * seed exchange (and oracle-replayable in principle).
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Split-norm cosine of a joined pair frame carrying `probe_vec`,
    * `probe_norm`, `cand_vec` and `cand_norm` ([[normedSide]]):
    * bit-identical to `graft_cosine` (which computes
    * `dot/(sqrt(nx)*sqrt(ny))` with the zero-denominator guard
    * replicated here; graft_norm2 IS sqrt(nx) with the same
    * accumulation order), but the per-PAIR loop is dot alone — one
    * third of the cosine kernel's arithmetic, with each row's norm
    * amortized over every pair it joins into. On a probes × corpus
    * scorer that is the difference between 3 and 1 passes over every
    * vector element ever paired.
    *
    * PRECONDITION — uniform embedding dimension. The fused cosine
    * kernel accumulates BOTH norms over min(len_a, len_b), while
    * graft_norm2 (and the embedded kernels' per-side norms) cover each
    * side's FULL length; the two agree exactly iff every paired vector
    * has the same dimension, which an embedding column has by
    * construction. On mixed-dimension rows the split form scores with
    * full-length norms (the mathematically saner choice) and the
    * bit-identity claim does not apply.
    */
  private[graft] def pairCosine: Column = {
    val denom = col("probe_norm") * col("cand_norm")
    when(denom === 0.0, 0.0)
      .otherwise(VectorFunctions.dot(col("probe_vec"), col("cand_vec")) / denom)
  }

  /** `(<role>_id, <role>_vec, <role>_norm)` of an (id, vector) frame:
    * the side every join regime pairs, its norm computed once per side
    * row (before any bucket replication). `prep` runs on the
    * (id, vector) projection first — the corpus side passes
    * Dedup.rebalance, since it streams through the compute-dense
    * scoring stage.
    */
  private[graft] def normedSide(
      df: DataFrame, idCol: String, vecCol: String, role: String,
      prep: DataFrame => DataFrame = identity): DataFrame =
    prep(df.select(col(idCol).as(s"${role}_id"), col(vecCol).as(s"${role}_vec")))
      .withColumn(s"${role}_norm", VectorFunctions.norm2(col(s"${role}_vec")))

  /** Per-probe (rank, cand_id, sim) for the k best candidates of a
    * joined pair frame, scored round([[pairCosine]], 6) (rounding makes
    * cross-engine comparison stable; ties break on id), via the
    * mergeable bounded-top-k aggregate (TopKFunctions scaladoc). The
    * window formulation (`row_number() OVER (PARTITION BY probe_id
    * ORDER BY sim DESC, cand_id)`) is semantically identical on
    * non-null scores (the aggregate DROPS null-scored rows where the
    * window ranks them last — no null sims arise here: the score is
    * null only on null inputs, which the joins never pair) but
    * shuffles EVERY scored row — probes × corpus, the cross product
    * these operators never materialize elsewhere; the aggregate
    * partial-reduces each map task to k rows per probe, so the
    * exchange is corpus-size-free.
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    pairs.withColumn("sim", round(pairCosine, 6))
      .groupBy("probe_id")
      .agg(graft.functions.TopKFunctions
        .topK(col("sim"), col("cand_id"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      // probe_id cast long: the embedded kernels emit BIGINT ids, so
      // every regime must (the output schema is part of the contract
      // and may not change when data size tips the regime)
      .select(col("probe_id").cast("long").as("probe_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))
  }

  /** How an over-gate ANN call will execute, decided by BOUNDED
    * driver work (see [[decideRegime]]). Collected rows are
    * (id BIGINT, vector ARRAY<DOUBLE>).
    */
  private[graft] sealed trait AnnRegime
  private[graft] object AnnRegime {
    /** the probe side fits the collect caps: probe-embedded kernels
      * (the aggregate operators chunk them by the gate)
      */
    final case class Probes(rows: Array[InternalRow]) extends AnnRegime
    /** probes exceed the caps but the corpus fits: role swap */
    final case class Corpus(rows: Array[InternalRow]) extends AnnRegime
    /** both sides exceed the caps (or the kernels are disabled) */
    case object BothOver extends AnnRegime
  }

  /** What [[decideRegime]] decided, plus the transfer record of each
    * bounded collect it ran (probes first, then the corpus).
    */
  private[graft] final case class RegimeDecision(
      regime: AnnRegime, transfers: Seq[BoundedCollect.Outcome]) {
    /** the last cap that tripped — the bound the fail-fast names */
    def overflow: Option[BoundedCollect.Overflow] =
      transfers.collect { case o: BoundedCollect.Overflow => o }.lastOption
  }

  /** Regime decision + matrix collect for the kernel ANN operators:
    * ONE [[BoundedCollect]] of the (id, vector) probe side under
    * `max(maxChunkedProbes, maxEmbeddedProbes)` rows and
    * `maxCollectBytes` exact bytes. When it fits, the probes are the
    * matrix (the aggregate operators split it into gate-sized chunks,
    * [[probeTopK]]); when it does not and a corpus is given, one more
    * bounded collect of the corpus under the same caps decides ROLE
    * SWAP or [[AnnRegime.BothOver]]. The whole matrix is within the
    * byte budget whenever a kernel regime runs, so every embedded
    * literal is too. A gate of 0 disables the kernels (the join spec
    * seam) and collects nothing.
    */
  private[graft] def decideRegime(
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      corpus: Option[(DataFrame, String, String)],
      maxEmbeddedProbes: Int, maxChunkedProbes: Int,
      maxCollectBytes: Long): RegimeDecision = {
    if (maxEmbeddedProbes <= 0) return RegimeDecision(AnnRegime.BothOver, Nil)
    val cap = math.max(maxChunkedProbes.toLong, maxEmbeddedProbes.toLong)
    def side(df: DataFrame, idCol: String, vecCol: String) = BoundedCollect(
      df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")),
      cap, maxCollectBytes)
    side(probes, probeIdCol, probeVecCol) match {
      case p: BoundedCollect.Collected => RegimeDecision(AnnRegime.Probes(p.rows), Seq(p))
      case p: BoundedCollect.Overflow => corpus match {
        case Some((c, cIdCol, cVecCol)) => side(c, cIdCol, cVecCol) match {
          case m: BoundedCollect.Collected =>
            RegimeDecision(AnnRegime.Corpus(m.rows), Seq(p, m))
          case m: BoundedCollect.Overflow => RegimeDecision(AnnRegime.BothOver, Seq(p, m))
        }
        case None => RegimeDecision(AnnRegime.BothOver, Seq(p))
      }
    }
  }

  /** A decided matrix as (ids, vectors). Null id or null vector rows
    * are dropped: the join regime drops them too (a null-valued join
    * or score condition never matches).
    */
  private[graft] def matrix(rows: Array[InternalRow]): (Array[Long], Array[Array[Double]]) = {
    val usable = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    (usable.map(_.getLong(0)), usable.map(_.getArray(1).toDoubleArray()))
  }

  /** The probe-embedded AGGREGATE regime of brute force, IVF and LSH:
    * the probe matrix splits into ⌈n/gate⌉ balanced disjoint chunks,
    * each one `graft_probe_topk` aggregate over the corpus scan built
    * by `kernel(candId, candVec, chunkIds, chunkVecs)` — the caller
    * derives the chunk's own restriction index (inverted lists,
    * signature buckets) from the chunk — results unioned. Probes
    * partition across chunks, so the union IS the single-kernel
    * answer.
    *
    * Here, and only here, the gate bounds something: each chunk is its
    * own partial-aggregate map stage, so a map task holds gate × k
    * heaps and one chunk's literal (the projection kernels put every
    * chunk in ONE stage, where chunks bound nothing — they embed the
    * whole matrix once instead). The price is one corpus scan per
    * chunk: with nChunks > 1 each chunk re-runs the corpus frame's
    * full lineage — persist a DERIVED corpus (anything that isn't a
    * plain parquet scan) before calling, or the upstream compute
    * repeats per chunk.
    */
  private def probeTopK(
      probes: (Array[Long], Array[Array[Double]]), gate: Int,
      corpus: DataFrame, corpusIdCol: String, corpusVecCol: String)(
      kernel: (Expression, Expression, Array[Long], Array[Array[Double]]) => ProbeTopKAgg)
      : DataFrame = {
    val (ids, vecs) = probes
    val cand = Dedup.rebalance(
      corpus.select(col(corpusIdCol).as("cand_id"), col(corpusVecCol).as("cand_vec")))
    val n = math.max(1, math.ceil(ids.length.toDouble / math.max(gate, 1)).toInt)
    (0 until n).map { c =>
      val lo = (c.toLong * ids.length / n).toInt
      val hi = ((c + 1).toLong * ids.length / n).toInt
      val agg = kernel(SparkBridge.expression(cand("cand_id")),
        SparkBridge.expression(cand("cand_vec")), ids.slice(lo, hi), vecs.slice(lo, hi))
      cand.agg(SparkBridge.column(agg.toAggregateExpression()).as("tk"))
    }.reduce(_.union(_))
      .select(explode(col("tk")).as("e"))
      .select(col("e.probe_id").as("probe_id"), col("e.rank").as("rank"),
        col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))
  }

  /** Session conf: set true to let the exact operators submit the
    * non-equi join when BOTH sides exceed the collect cap, instead of
    * failing fast (the join plans as CartesianProduct above broadcast
    * size — measured disk-bound at sf10, BENCHNOTES_r14).
    */
  val AnnForceJoinKey = "spark.graft.ann.forceJoin"

  /** Both sides over the cap with kernels enabled: the engine does NOT
    * silently submit a plan its own measurements called dead — fail
    * fast with the scale alternatives, unless the caller explicitly
    * opts into the join via [[AnnForceJoinKey]] (then warn). A gate of
    * 0 never reaches here (kernels deliberately disabled = the spec
    * seam; the join runs silently). The message names the cap that
    * tripped on the corpus side — with the byte budget governing, that
    * is far below the row cap the caller passed.
    */
  private[graft] def enforceJoinContract(
      spark: org.apache.spark.sql.SparkSession, op: String,
      tripped: BoundedCollect.Overflow): Unit = {
    val msg = s"$op: BOTH probe and corpus side exceed the collect caps " +
      s"(maxChunkedProbes/maxCollectBytes: ${tripped.describe}) — the " +
      "exact non-equi join plans as CartesianProduct above broadcast " +
      "size and was measured disk-bound at scale (BENCHNOTES_r14). " +
      "Use lshTopKFrames/ivfTopKFrames (bucket equi-joins) at this " +
      s"scale, raise the caps, or set $AnnForceJoinKey=true to submit " +
      "the join anyway."
    if (graft.core.SessionConf.boolean(spark, AnnForceJoinKey, default = false)) log.warn(msg)
    else throw new graft.core.UserException(msg)
  }

  /** Session conf: probe-side replication factor for the over-cap
    * bucket equi-joins (LSH signature / IVF inverted list). The bucket
    * key space is SMALL by construction — 2^planes signatures,
    * nCentroids lists — so the join's shuffle parallelism is
    * key-capped and a dense region makes a hub bucket one task owns.
    * Salting splits every bucket S ways: candidates take a
    * deterministic salt from their id hash, probes replicate across
    * all S salts — each (probe, candidate) pair still meets in exactly
    * one salt, so results are IDENTICAL (the regime-equivalence specs
    * and the q81 oracle run salted). 0 (the default) = auto:
    * ceil(shuffle partitions / key count) — just enough to restore
    * full shuffle parallelism, a no-op when keys already exceed
    * partitions.
    */
  val AnnBucketSaltKey = "spark.graft.ann.bucketSalt"

  /** The over-cap tail of LSH and IVF: the salted bucket equi-join
    * (see [[AnnBucketSaltKey]]) of the normed sides on `bucketCol`,
    * self/null-pair filter, split-norm score, top-k. `nKeys` is the
    * bucket key space the auto salt is sized against; probe rows
    * replicate `salt` ways.
    */
  private def bucketTopK(
      cands: DataFrame, probes: DataFrame, bucketCol: String, nKeys: Long,
      k: Int, includeSelf: Boolean): DataFrame = {
    val spark = cands.sparkSession
    val conf = graft.core.SessionConf.nonNegativeInt(spark, AnnBucketSaltKey, 0)
    val salt =
      if (conf > 0) conf
      else {
        val parts = spark.sessionState.conf.numShufflePartitions.toLong
        math.min(math.max(1L, (parts + nKeys - 1) / nKeys), 1L << 20).toInt
      }
    val joined =
      if (salt <= 1) cands.join(probes, Seq(bucketCol))
      else {
        val salted = cands.withColumn("__salt",
          pmod(xxhash64(col("cand_id")), lit(salt.toLong)))
        val replicated = probes.withColumn("__salt",
          explode(typedlit((0L until salt.toLong).toSeq)))
        salted.join(replicated, Seq(bucketCol, "__salt")).drop("__salt")
      }
    rankTopK(
      if (includeSelf)
        // match the kernels' null-id semantics (the `=!=` below drops
        // nulls implicitly; includeSelf has no condition that would)
        joined.where(col("probe_id").isNotNull && col("cand_id").isNotNull)
      else joined.where(col("probe_id") =!= col("cand_id")),
      k)
  }

  /** Exact brute-force top-k of a probe SUBSET of `emb` against all
    * of `emb` — the single-frame convenience over
    * [[bruteForceTopKFrames]] (all regimes and contracts documented
    * there). Because the probes are a subset of the corpus here, the
    * role-swap regime never fires from this entry point (a probe set
    * too big to collect implies a corpus too big to collect); callers
    * with a separate query set use the frames form directly.
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20): DataFrame =
    bruteForceTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, maxEmbeddedProbes, maxChunkedProbes,
      maxCollectBytes)

  /** Exact brute-force top-k, probes and corpus as SEPARATE frames
    * (the usual real shape: a query set against a corpus). Four
    * regimes, identical results (spec-pinned):
    *  - EMBEDDED (probes ≤ `maxEmbeddedProbes`): the probe set — which
    *    a broadcast join would driver-collect anyway — embeds in a
    *    single `graft_probe_topk` aggregate; the corpus is scanned
    *    once with NO join-row materialization (the join formulation
    *    paid ~1.9 µs/pair of UnsafeRow plumbing around a ~30 ns dot at
    *    sf10). Exchange carries partitions × probes × k heap entries.
    *  - CHUNKED (gate < probes ≤ `maxChunkedProbes`): the probe set is
    *    split into ⌈n/gate⌉ balanced disjoint chunks and each chunk runs
    *    its own embedded aggregate over the corpus, results unioned —
    *    each chunk is its own partial-aggregate map stage, so the
    *    per-task heap memory stays gate × k (the reason the gate
    *    exists) at the price of one extra corpus scan per chunk, and
    *    STILL zero joined rows. Probes partition across chunks, so the
    *    union is exactly the single-kernel answer (r14 measurement,
    *    BENCHNOTES_r14 §: the join's ~µs/pair row plumbing dwarfs the
    *    re-scan cost by orders of magnitude at over-gate probe counts).
    *    NOTE when nChunks > 1: each chunk re-runs the corpus frame's
    *    full lineage — persist a DERIVED corpus (anything that isn't a
    *    plain parquet scan) before calling, or the upstream compute
    *    repeats per chunk.
    *  - ROLE SWAP (probes > `maxChunkedProbes` ≥ corpus): the CORPUS
    *    embeds instead — ONE `graft_corpus_topk` PROJECTION over the
    *    probe scan whose best-first array is the answer (no aggregate,
    *    no exchange, no joined rows). The gate does not split it: a
    *    projection's chunks would all run in one stage, every task
    *    deserializing every chunk, so they would bound no task memory
    *    and only add probe rescans and a k-merge exchange. This retires
    *    the join fallback for every case where EITHER side fits the
    *    collect cap.
    *  - JOIN (both sides above the cap): split-norm scoring + the
    *    graft_top_k aggregate over a non-equi join. NOT a peer: the
    *    `probe_id =!= cand_id` condition plans as CartesianProduct
    *    once the probe side outgrows broadcast, and the r14 sf10
    *    measurement killed it outright (2¹⁵ probes × 200k corpus: the
    *    per-partition right-side spill filled >60 GB of disk and the
    *    job died at ~17 min, where the chunked kernels finish in
    *    59 s — BENCHNOTES_r14). The engine therefore FAILS FAST here
    *    with the scale alternatives (`lshTopKFrames`/`ivfTopKFrames`,
    *    whose over-gate joins are bucket EQUI-joins) unless the session
    *    opts in via [[AnnForceJoinKey]]. Passing
    *    `maxEmbeddedProbes = 0` disables every kernel regime and runs
    *    the join silently (the spec seam pinning kernel ≡ join).
    *
    * Driver-memory bound: the winning side's (id, vector) matrix is
    * collected under BOTH a row cap (`maxChunkedProbes`) and a BYTE
    * budget (`maxCollectBytes`, default 512 MB, exact row bytes), by
    * one bounded collect per side (see [[decideRegime]]); the budget
    * therefore also bounds every embedded plan literal.
    *
    * `includeSelf = true` is the CROSS-CORPUS mode: probe and
    * candidate ids come from unrelated id spaces, so a numeric id
    * collision is not a self-pair and must be scored; the default
    * exclusion serves the single-frame probes ⊆ corpus shape. Output
    * ids are BIGINT in every regime regardless of input id type.
    */
  def bruteForceTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    val dec = decideRegime(probes, probeIdCol, probeVecCol,
      Some((corpus, corpusIdCol, corpusVecCol)),
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes)
    dec.regime match {
      case AnnRegime.Probes(collected) =>
        probeTopK(matrix(collected), maxEmbeddedProbes, corpus, corpusIdCol, corpusVecCol)(
          ProbeTopKAgg(_, _, _, _, k, includeSelf = includeSelf))
      case AnnRegime.Corpus(collected) =>
        // ROLE SWAP: embed the corpus, scan the probes
        val (cIds, cVecs) = matrix(collected)
        val probeFrame = Dedup.rebalance(
          probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("probe_vec")))
        // the kernel sits DIRECTLY inside the generator (never behind
        // a projected alias): InferFiltersFromGenerate skips non-cheap
        // generator inputs, but an aliased array gets a `size(tk) > 0`
        // filter inferred and pushed THROUGH the projection —
        // duplicating the whole corpus scoring loop per probe row
        // (measured: the q72 audit plan ran the kernel twice). The
        // array is best-first, so rank = position: zero exchanges
        val kernel = SparkBridge.column(CorpusTopK(
          SparkBridge.expression(probeFrame("probe_id")),
          SparkBridge.expression(probeFrame("probe_vec")),
          cIds, cVecs, k, includeSelf = includeSelf))
        probeFrame
          .select(col("probe_id"), posexplode(kernel).as(Seq("pos", "e")))
          .select(col("probe_id").cast("long").as("probe_id"),
            (col("pos") + 1).cast("long").as("rank"),
            col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))
      case AnnRegime.BothOver =>
        dec.overflow.foreach(enforceJoinContract(spark, "bruteForceTopK", _))
        val probeSide = normedSide(probes, probeIdCol, probeVecCol, "probe")
        // rebalance: a single-row-group embedding file scans as ONE task,
        // which would serialize the |probes|×|corpus| cosine loop on one
        // core; no-op on multi-split tables (Dedup.rebalance)
        val cand = normedSide(corpus, corpusIdCol, corpusVecCol, "cand", Dedup.rebalance)
        // NO broadcast hint above the embedded gate: the probe count is
        // known only to exceed the cap and can grow ∝ corpus, so a forced
        // broadcast is the one driver-OOM shape left at 100× (an 10^8-row
        // probe filter heads straight for the 8 GB cap). The planner
        // decides from its stats (AQE can still promote a genuinely small
        // side at runtime) — the same force-under-threshold /
        // planner-above pattern as the MoR DV anti-join
        // (LakeTable.DvBroadcastBytes).
        rankTopK(
          if (includeSelf)
            // the kernels drop null-id rows; the crossJoin has no join
            // condition to drop them implicitly (the `=!=` below does),
            // so filter explicitly or the join regime alone would emit
            // NULL-id result groups
            cand.where(col("cand_id").isNotNull)
              .crossJoin(probeSide.where(col("probe_id").isNotNull))
          else cand.join(probeSide, col("probe_id") =!= col("cand_id")),
          k)
    }
  }

  /** Deterministic hyperplane component for plane `p`, dim `d`:
    * md5-derived uniform in [-1, 1). Computed ONCE on the driver —
    * hyperplanes are constants, so they embed as literal arrays and
    * the per-row work is just the codegen'd dot-product kernel
    * (the expression-level formulation recomputed ~planes×dims md5
    * calls per row).
    */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$d".getBytes("UTF-8"))
    val hex8 = digest.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex8, 16).toDouble / 2147483648.0 - 1.0
  }

  private def planeVector(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => planeComponent(p, d))

  /** Sign-bit signature against `planes` literal hyperplanes of
    * dimension `dims`; one small integer per row, map-side only.
    */
  def lshSignature(vec: Column, planes: Int, dims: Int): Column = {
    val v = vec.cast("array<double>")
    (0 until planes).map { p =>
      val dotp = VectorFunctions.dot(v, typedlit(planeVector(p, dims)))
      when(dotp >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** IVF-style ANN over a single frame: probes are a filtered subset
    * of `emb` — the convenience form of [[ivfTopKFrames]] (regimes,
    * quantizer, and salting documented there).
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      trainedCentroids: Option[Array[Seq[Double]]] = None,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20): DataFrame =
    ivfTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, nCentroids, nProbe, trainedCentroids,
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes)

  /** IVF-style ANN, probes and corpus as SEPARATE frames (the
    * cross-corpus decontamination shape — the restricted-index scale
    * alternative the exact operators' fail-fast message promises): a
    * deterministic coarse quantizer (the first `nCentroids` CORPUS
    * vectors by id, or `trainedCentroids` e.g. from
    * Clustering.kmeansCentroids) partitions the corpus into inverted
    * lists by nearest centroid; a probe searches only the `nProbe`
    * lists whose centroids are closest to it. Unlike LSH, list sizes
    * are data-adaptive; like real IVF, recall is tuned by `nProbe`.
    *
    * Regimes (same gates/rationale as [[bruteForceTopKFrames]] — no
    * role swap: the IVF restriction index is probe-side):
    *  - EMBEDDED/CHUNKED (probes within the collect caps): probes
    *    collect bounded, each probe's nProbe nearest lists resolve
    *    driver-side, and per probe chunk one `graft_probe_topk`
    *    aggregate scans the corpus with the centroid assignment and
    *    the per-list probe index INSIDE the kernel — no exploded probe
    *    frame, no joined rows.
    *  - JOIN (probes above the caps): the inverted-list bucket
    *    EQUI-join over the two frames — the legitimate scale path
    *    (never CartesianProduct), salted when the list count is below
    *    the shuffle parallelism ([[AnnBucketSaltKey]]).
    *
    * `includeSelf = true` scores id collisions in every regime
    * (cross-corpus id spaces — [[bruteForceTopKFrames]]).
    */
  def ivfTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      trainedCentroids: Option[Array[Seq[Double]]] = None,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false): DataFrame = {
    // Coarse quantizer: nCentroids vectors collected to the driver
    // (metadata-scale) and embedded as literals, so list assignment is
    // a pure map-side expression — no shuffle touches the corpus until
    // the final per-probe top-k. The default id-prefix seed keeps the
    // operator self-contained and oracle-replayable.
    val centroids: Array[Seq[Double]] = trainedCentroids.getOrElse(
      corpus.orderBy(col(corpusIdCol)).limit(nCentroids)
        .select(col(corpusVecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0)))

    /** top-`n` nearest centroid ids for a vector, as an array column:
      * sort a tiny struct array of (-dot, id) — map-side only.
      */
    def nearestLists(vec: Column, n: Int): Column = {
      val scored = array(centroids.zipWithIndex.map { case (c, p) =>
        struct((-VectorFunctions.dot(vec, typedlit(c))).as("negs"),
          lit(p).as("id"))
      }.toSeq: _*)
      slice(transform(array_sort(scored), s => s.getField("id")), 1, n)
    }

    decideRegime(probes, probeIdCol, probeVecCol,
      None, maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes).regime match {
      case AnnRegime.Probes(collected) =>
        val cents: Array[Array[Double]] = centroids.map(_.toArray)
        def dotD(a: Array[Double], b: Array[Double]): Double = {
          val d = math.min(a.length, b.length)
          var s = 0.0; var i = 0
          while (i < d) { s += a(i) * b(i); i += 1 }
          s
        }
        probeTopK(matrix(collected), maxEmbeddedProbes, corpus, corpusIdCol, corpusVecCol) {
          (candId, candVec, pIds, pVecs) =>
            // the chunk-local inverted-list index: each probe registers
            // under its nProbe nearest lists
            val byList = Array.fill(cents.length)(
              scala.collection.mutable.ArrayBuffer.empty[Int])
            pVecs.zipWithIndex.foreach { case (v, pi) =>
              cents.indices
                .sortBy(cc => (-dotD(v, cents(cc)), cc)).take(nProbe)
                .foreach(cc => byList(cc) += pi)
            }
            ProbeTopKAgg(candId, candVec, pIds, pVecs, k,
              centroids = cents, probesByList = byList.map(_.toArray),
              includeSelf = includeSelf)
        }
      case _ =>
        // over the caps: the inverted-list bucket EQUI-join, the
        // legitimate scale path (never CartesianProduct). Rebalance
        // before the per-row nCentroids×dims assignment dots — a
        // single-row-group corpus file must not serialize them
        val cand = normedSide(corpus, corpusIdCol, corpusVecCol, "cand", Dedup.rebalance)
          .withColumn("list_id", element_at(nearestLists(col("cand_vec"), 1), 1))
        val probeSide = normedSide(probes, probeIdCol, probeVecCol, "probe")
          .withColumn("list_id", explode(nearestLists(col("probe_vec"), nProbe)))
        // no broadcast hint above the embedded gate (see bruteForceTopK):
        // probe counts can grow ∝ corpus; the planner sizes the build
        // side. Salted: nCentroids list keys alone cap the shuffle
        // parallelism
        bucketTopK(cand, probeSide, "list_id", math.max(nCentroids.toLong, 1L), k, includeSelf)
    }
  }

  /** ANN via LSH bucketing over a single frame: probes are a filtered
    * subset of `emb` — the convenience form of [[lshTopKFrames]]
    * (regimes and salting documented there).
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      planes: Int = 12,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20): DataFrame =
    lshTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, planes, maxEmbeddedProbes, maxChunkedProbes,
      maxCollectBytes)

  /** ANN via LSH bucketing, probes and corpus as SEPARATE frames (the
    * cross-corpus decontamination shape): exact rank within the
    * probe's signature bucket.
    *
    * Regime structure (spec-pinned equal; no role swap — the signature
    * restriction index is probe-side):
    *  - EMBEDDED (probes ≤ `maxEmbeddedProbes`, collected within
    *    `maxCollectBytes` — [[decideRegime]]): probe signatures
    *    resolve driver-side against the deterministic hyperplanes and
    *    one `graft_probe_topk` aggregate scans the corpus with the
    *    signature hash and the per-bucket probe index INSIDE the
    *    kernel — the bucket equi-join's semantics with zero joined
    *    rows, zero signature column, zero shuffle before the k-bounded
    *    exchange.
    *  - CHUNKED (gate < probes ≤ the caps): ⌈n/gate⌉ disjoint probe
    *    chunks, one kernel each with its chunk-local signature index,
    *    results unioned — probes partition across chunks, so the union
    *    IS the single-kernel answer, still with zero joined rows.
    *  - JOIN (above the caps): signature bucket EQUI-join over the two
    *    frames — the legitimate scale path (never CartesianProduct) —
    *    WITHOUT a broadcast hint (probe counts can grow ∝ corpus; the
    *    planner sizes the build side, see bruteForceTopK), and SALTED
    *    when 2^planes is below the shuffle parallelism
    *    ([[AnnBucketSaltKey]]: the signature key space would otherwise
    *    cap the join at 2^planes tasks and hand a dense region's hub
    *    bucket to one of them).
    *
    * The embedding dimension for the join's signature expression
    * comes from one non-null probe (or corpus) vector, a `head(1)` job.
    *
    * `includeSelf = true` scores id collisions in every regime
    * (cross-corpus id spaces — [[bruteForceTopKFrames]]).
    */
  def lshTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      planes: Int = 12,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false): DataFrame = {
    require(planes >= 1 && planes <= 63, s"planes must be in [1, 63], got $planes")
    decideRegime(probes, probeIdCol, probeVecCol,
      None, maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes).regime match {
      case AnnRegime.Probes(collected) =>
        val probeMatrix = matrix(collected)
        val dims = probeMatrix._2.headOption.map(_.length).getOrElse(0)
        val planeMat: Array[Array[Double]] =
          Array.tabulate(planes, dims)((p, d) => planeComponent(p, d))
        probeTopK(probeMatrix, maxEmbeddedProbes, corpus, corpusIdCol, corpusVecCol) {
          (candId, candVec, pIds, pVecs) =>
            // the chunk-local signature index: probes bucketed by the
            // same signature rule the kernel applies per corpus row
            val bySig: Map[Long, Array[Int]] =
              pVecs.indices.groupBy(pi => ProbeTopKAgg.signature(planeMat, pVecs(pi)))
                .map { case (s, idxs) => s -> idxs.toArray }
            ProbeTopKAgg(candId, candVec, pIds, pVecs, k,
              planes = planeMat, probesBySig = bySig, includeSelf = includeSelf)
        }
      case _ =>
        // Over the caps (or kernels disabled): the bucket equi-join.
        // Dims: ask the probes, then the corpus — only non-null vectors
        // (size(null) is null → getInt NPEs), tolerating an all-null /
        // empty side (head() on empty throws): 0 dims then, and every
        // signature collapses to one bucket, which is correct (the
        // split-norm score over null vectors yields no rows).
        val dims = probes.where(col(probeVecCol).isNotNull)
            .select(size(col(probeVecCol).cast("array<double>"))).head(1)
            .headOption.map(_.getInt(0))
          .orElse(corpus.where(col(corpusVecCol).isNotNull)
            .select(size(col(corpusVecCol).cast("array<double>"))).head(1)
            .headOption.map(_.getInt(0)))
          .getOrElse(0)
        val probeSide = normedSide(probes, probeIdCol, probeVecCol, "probe")
          .withColumn("sig", lshSignature(col("probe_vec"), planes, dims))
        val cands = normedSide(corpus, corpusIdCol, corpusVecCol, "cand", Dedup.rebalance)
          .withColumn("sig", lshSignature(col("cand_vec"), planes, dims))
        bucketTopK(cands, probeSide, "sig", 1L << math.min(planes, 62), k, includeSelf)
    }
  }
}
