package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graftbridge.SparkBridge

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §7.5): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine.
  *
  * Scale posture (the whole point of these designs):
  * - Exact dedup is one hash-shuffle on a 32-byte digest, not on the
  *   full text — shuffle bytes ∝ digest, not document size.
  * - MinHash+LSH: signatures are computed scan-side (map-only,
  *   whole-stage codegen over built-in HOFs + md5); only (bucket, id)
  *   pairs shuffle. The self-join is per-bucket, so the quadratic blowup
  *   is bounded by bucket size, never O(n²) global.
  * - SimHash: one 32-bit sketch per doc; candidate pairs from
  *   high-byte blocking + popcount(xor) ≤ r — integer ops end to end.
  * - Embedding near-dup: block first (here: id-range probes or LSH in
  *   graft.operators.Similarity), cosine kernel is the codegen'd
  *   graft_cosine expression.
  *
  * All hash math is md5-derived so the DuckDB oracle can replay it
  * bit-for-bit (no engine-specific hash functions on the result path).
  */
object Dedup {

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Below this optimizer size estimate, rebalance is a net LOSS: the
    * exchange's fixed cost (~0.4 s measured at local[32]) exceeds the
    * whole serial kernel pass (the compiled text kernels chew ~25 MB/s
    * of stats-bytes per core, so ≤1 MB serializes in ≲0.15 s).
    * Measured at sf0.1 (5k docs, 0.25 MB stats): signatures 0.54 s
    * rebalanced vs 0.14 s serial; the full LSH pipeline 2.5× faster
    * without the exchange.
    */
  private[operators] val RebalanceMinBytes: Long = 1L << 20

  /** Rebalances a narrow input ahead of a CPU-heavy map stage. A
    * small table often scans as ONE partition (a single parquet row
    * group cannot be split), which would serialize the per-shingle
    * hashing on one core no matter how many the session has. When the
    * scan's parallelism is far below the session default AND the input
    * is big enough for the exchange to pay for itself
    * ([[RebalanceMinBytes]]), pay one shuffle of the raw rows to
    * unlock it; on a real multi-file table (100 TB: thousands of scan
    * partitions) the partition condition is false and this is a
    * no-op — no extra shuffle at scale. Unknown/huge size estimates
    * (in-memory frames report conservatively large) fail open into
    * the rebalance, the safe direction.
    */
  private[graft] def rebalance(df: DataFrame): DataFrame = rebalance(df, Nil)

  /** Keyed variant: when the caller has a well-distributed column,
    * hash-repartitioning on it beats `repartition(n)` outright —
    * RoundRobinPartitioning must locally SORT every source partition
    * before the exchange (spark.sql.execution.sortBeforeRepartition,
    * kept on: round-robin assignment depends on row order, so a
    * retried map task would otherwise route rows differently and
    * corrupt a partially-fetched shuffle), and on the very
    * single-split scans rebalance exists to fix, that pre-sort runs
    * the whole table on one core. Hash assignment depends only on
    * row CONTENT — deterministic under retry with nothing to sort
    * (measured at sf1 on a 1.5M-row single-split window query:
    * 0.59 s keyed vs 1.33 s round-robin vs 1.49 s serial).
    */
  private[graft] def rebalance(df: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= RebalanceMinBytes) df
    // queryExecution.toRdd reuses the frame's own physical planning
    // (`.rdd` would plan a SECOND copy with row conversion — measurable
    // driver time on wide plans, and the planning work is discarded)
    else {
      val planned = df.queryExecution.toRdd.getNumPartitions
      if (effectiveSplits(df, planned) * 4 < target) {
        if (keys.nonEmpty) df.repartition(target, keys: _*)
        else df.repartition(target)
      } else df
    }
  }

  /** Real scan parallelism, which the planned partition count can
    * OVERSTATE: a parquet byte-range split yields rows only if a
    * row-group START falls inside it, so a file with fewer row groups
    * than splits scans mostly-empty tasks. (Caught at sf10: a 51 MB
    * single-row-group embeddings file planned as 13 splits, 12 of them
    * empty — 13×4 ≥ 32 defeated the old partition-count gate and a
    * quadratic cosine join ran on ONE core for 20 minutes.) Bounds the
    * planned count by the scan's total row groups, read driver-side
    * from the footers — microseconds per file, capped: many files mean
    * the scan parallelizes regardless, and non-file or non-parquet
    * sources fall back to the planned count.
    */
  private def effectiveSplits(df: DataFrame, planned: Int): Int = {
    // a plan that provably exchanges (explicit repartition, agg,
    // window, global sort) has its REAL parallelism in the planned
    // count — the row-group bound below only describes scan-derived
    // chains (scan/filter/project/mapPartitions preserve scan
    // partitioning). Join deliberately NOT trusted: a broadcast /
    // nested-loop join inherits its STREAM side's partitioning, so a
    // starved scan stays starved straight through it.
    val reshuffled = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Sort => true
      case _ => false
    }
    if (reshuffled) return planned
    val files = try df.inputFiles
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    if (files.isEmpty || files.length > 64 || !files.forall(_.endsWith(".parquet")))
      return planned
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val groups = files.iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum
      math.min(planned, math.max(1, groups))
    } catch { case scala.util.control.NonFatal(_) => planned }
  }

  /** Eager materialization with a lineage cut. Reliable checkpoint
    * when the session has a checkpoint dir — the cluster setting,
    * where blocks must survive executor loss — else localCheckpoint
    * (fine single-node; its blocks die with an executor, which is why
    * clusters should set a checkpoint dir).
    */
  private def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Exact dedup summary: one row per distinct text with the kept
    * (minimum) id and the duplicate count. Group key is md5(text) —
    * at 100 TB you shuffle 16-byte digests, not documents.
    */
  def exactSummary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Drop-duplicates form (keeps an arbitrary representative — Spark
    * built-in; used by the lake writer's optional dedup-on-ingest).
    */
  def exact(docs: DataFrame, cols: Seq[String]): DataFrame =
    docs.dropDuplicates(cols)

  /** 3-word shingles of a text column; degenerate texts (<3 words)
    * shingle to the whole text so every doc has ≥1 shingle.
    */
  def shingles(text: Column): Column = {
    val ws = TextAnalysis.words(text)
    when(size(ws) < 3, array(text)).otherwise(
      transform(sequence(lit(1), size(ws) - 2), i =>
        concat_ws(" ",
          element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
  }

  /** Mask keeping minhash values in 60 bits (15 md5 hex chars). */
  val MinhashMask: Long = (1L << 60) - 1

  /** Per-document MinHash signatures with the Kirsch–Mitzenmacher
    * double-hashing family: ONE md5 per shingle yields two
    * independent values — a (hex 1-15, 60 bits) and b (hex 17-30,
    * 56 bits) — and hash function j is (a + j·b) masked to 60 bits:
    * the standard construction whose minhash estimates match k
    * independent hashes. 8× less hashing than md5-per-function, and
    * engine-portable (the DuckDB oracle replays the same
    * arithmetic — which is also why b is 56 bits:
    * a + 63·b < 2^60 + 2^62 < 2^63 never overflows signed 64-bit in
    * EITHER engine, supporting k up to 64). Computed map-only by the
    * compiled kernel (see perRowSignatures): no explode, no shuffle —
    * shingles never leave their scan task.
    *
    * Id contract: emits exactly ONE signature row PER INPUT ROW — ids
    * are expected unique (document ids are). A duplicated id yields
    * one row per duplicate, NOT a merged union signature; callers
    * with coarse/repeating keys must use [[minhashSignaturesByKey]],
    * which merges by elementwise min. The contract is deliberately
    * not asserted: an eager uniqueness check is a full extra
    * shuffle-and-scan job over the corpus (~16 B × rows at 100 TB
    * scale), which Spark's own key-contracted APIs never spend either;
    * downstream, bandingPairs array_distincts bucket ids so duplicate
    * ids can never emit (x,x) self-pairs (OperatorSpec pins both
    * behaviors).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    perRowSignatures(docs, idCol, textCol, k).withColumnRenamed(idCol, "id")

  /** Per-ROW MinHash signature, computed entirely map-side by the
    * compiled TextKernels.minhashSignature kernel (one md5 per
    * shingle, all k mins in one JIT'd pass): NO explode and NO
    * groupBy — zero shuffles beyond the parallelism rebalance. Rows
    * with NULL text are dropped (the explode formulation's semantics:
    * a null shingle array contributes no rows). Requires `keyCol`
    * values to be unique (true for document ids);
    * minhashSignaturesByKey is the grouped form for coarser keys.
    *
    * The test tree's `ReferenceForms.perRowSignaturesExpr` keeps the
    * HOF-expression reference form — the executable specification the
    * kernel is property-tested against (OperatorSpec), which is also
    * the kernel-vs-oracle agreement proof (the DuckDB oracles replay
    * the expression math).
    */
  private def perRowSignatures(docs: DataFrame, keyCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "k must be in [1, 64] (a + 63*b is the signed-64 overflow bound)")
    rebalance(docs.select(col(keyCol).as("id"), col(textCol).as("t")))
      .where(col("t").isNotNull)
      .select(col("id"),
        graft.functions.TextKernelFunctions.minhashSignature(col("t"), k).as("sig"))
      .select(col("id").as(keyCol) +: (0 until k).map(j =>
        element_at(col("sig"), j + 1).as(s"mh$j")): _*)
  }

  /** MinHash signature per arbitrary entity key (document, source,
    * domain, …). Because a minhash union is an elementwise min, the
    * signature OF a group equals the elementwise min of its members'
    * per-row signatures — so this is the map-only per-row signature
    * followed by one partial-aggregating min-groupBy whose shuffle is
    * rows × k longs (the shingle hashes themselves never leave their
    * scan task). Output columns: (keyCol, mh0..mh{k-1}).
    */
  def minhashSignaturesByKey(docs: DataFrame, keyCol: String, textCol: String, k: Int): DataFrame = {
    val perRow = perRowSignatures(docs, keyCol, textCol, k)
    val aggs = (0 until k).map(j => min(col(s"mh$j")).as(s"mh$j"))
    perRow.groupBy(keyCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: bucket b = md5(mh_{rb} || .. || mh_{rb+r-1}) for
    * `bands` bands of `rowsPerBand` rows. Docs sharing any band bucket
    * are candidate near-duplicates.
    */
  def lshCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4): DataFrame =
    // one declarative pipeline: the signatures feed exactly one
    // consumer (the bucket groupBy), so no cache, no eager
    // materialization, no extra jobs — scan → signatures → buckets →
    // pairs runs as a single lazy plan
    bandingPairs(minhashSignatures(docs, idCol, textCol, k), k, bands)

  /** Candidate pairs from already-computed signatures: docs sharing
    * any band bucket. Instead of the classic bucket self-join (which
    * consumes the signatures TWICE — forcing callers to cache them —
    * and shuffles both sides), this groups each bucket's ids into a
    * sorted array and explodes the ordered pairs out of it: ONE
    * consumption, one bucket shuffle, no cache to manage. Pair
    * explosion is two chained generators, so peak memory per row is
    * O(bucket size), never O(bucket²); the quadratic OUTPUT per hot
    * bucket is inherent to LSH (the self-join had the same blowup,
    * concentrated on the same reducer).
    */
  /** (id, bucket) band-bucket assignment of a signature frame — the
    * map-side half of LSH banding, shared by bandingPairs (bucket
    * groupBy) and IncrementalDedup (new-vs-store bucket join). The
    * bucket key is a packed LONG — band index in the bits above a
    * 60-bit md5 prefix of the band's concatenated minhashes — not a
    * "b:<hex>" string: an 8-byte shuffle key instead of ~35 chars,
    * and long equality downstream (the oracle packs identically; a
    * 60-bit prefix collision only merges buckets, which both engines
    * then see the same way).
    */
  def bandBuckets(signed: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(bands <= 8, "band index must fit the 3 bits above the 60-bit hash")
    val r = k / bands
    signed.select(col("id"),
      explode(array((0 until bands).map(b =>
        shiftleft(lit(b.toLong), 60).bitwiseOR(
          conv(substring(md5(concat((b * r until (b + 1) * r)
            .map(j => col(s"mh$j")): _*)), 1, 15), 16, 10).cast("long"))): _*))
        .as("bucket"))
  }

  def bandingPairs(signed: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(bands <= 8, "band index must fit the 3 bits above the 60-bit hash")
    val buckets = bandBuckets(signed, k, bands)
    // Memory posture: collect_list holds ONE bucket's id array in its
    // aggregation buffer — bounded for real LSH workloads (bucket size
    // concentrates near the near-dup cluster size), but a degenerate
    // corpus (millions of byte-identical boilerplate docs in one
    // bucket) would balloon that buffer where the old bucket SELF-JOIN
    // streamed. Guard it: a bucket past `MaxBucketSize` fails loudly
    // with the bucket id, instead of OOMing an executor — run exact
    // dedup first (the canonical pipeline order, CorpusPipeline) to
    // collapse byte-identical docs.
    // array_distinct: duplicate ids in one bucket (malformed input —
    // ids are contractually unique) would otherwise emit (x,x)
    // self-pairs the old `a.id < b.id` self-join structurally excluded.
    buckets.groupBy("bucket")
      .agg(sort_array(array_distinct(collect_list(col("id")))).as("ids0"))
      .where(size(col("ids0")) > 1)
      // the guard lives INSIDE the ids column (a side column would be
      // pruned away unevaluated)
      .select(when(size(col("ids0")) > MaxBucketSize,
          raise_error(concat(
            lit(s"LSH bucket exceeds $MaxBucketSize ids (bucket "),
            col("bucket").cast("string"),
            lit("): run exact dedup before near-dup candidate generation"))))
        .otherwise(col("ids0")).as("ids"))
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      .distinct()
  }

  /** Largest candidate bucket bandingPairs will expand (beyond it the
    * quadratic pair OUTPUT is the problem no matter the plan).
    */
  val MaxBucketSize: Int = 1 << 20

  /** Connectivity-equivalent candidate EDGES for clustering: one
    * min-id star per band bucket instead of bandingPairs' all-pairs
    * expansion. Within a bucket every id is a mutual candidate, so
    * for any consumer that only needs the TRANSITIVE CLOSURE
    * (connected components → duplicate clusters) the star yields
    * exactly the same components while emitting O(bucket) rows where
    * all-pairs emits O(bucket²) — the difference between LINEAR and
    * quadratic growth in near-dup cluster size. Measured on the
    * synthetic corpus (DriveCC): duplicate clusters grow ∝ SF, so
    * all-pairs edges grew 99× for 10× docs (31.4M at sf10) while
    * star edges stay ∝ corpus size. Use bandingPairs only when the
    * PAIRS themselves are the product (verification scoring, q21).
    */
  def lshClusterEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val buckets = bandBuckets(minhashSignatures(docs, idCol, textCol, k), k, bands)
    buckets.groupBy("bucket")
      .agg(sort_array(array_distinct(collect_list(col("id")))).as("ids"))
      .where(size(col("ids")) > 1)
      // no MaxBucketSize guard needed: output is bucket-LINEAR, the
      // failure mode the guard exists for cannot occur here
      .select(element_at(col("ids"), 1).as("id_a"),
        explode(slice(col("ids"), lit(2), size(col("ids")) - 1)).as("id_b"))
      .distinct()
  }

  /** 32-bit SimHash: bit i set iff Σ_words (±1 by bit i of the word
    * value) > 0. One integer sketch per document.
    */
  def simhash(text: Column): Column = {
    val vals = transform(TextAnalysis.words(text), w => TextAnalysis.wordValue(w))
    // Literal per-bit terms (shiftright needs a literal count); Catalyst
    // CSEs the repeated `vals` subtree in the generated code.
    (0 until 32).map { i =>
      when(
        aggregate(vals, lit(0L),
          (acc, v) => acc +
            when(shiftright(v, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
          > 0L,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash computed entirely map-side by the compiled
    * TextKernels.simhash kernel (one md5 per word occurrence, 32 bit
    * counters, sketch bit i set iff 2·s_i > n — the Σ±1 > 0
    * identity): zero shuffles beyond the parallelism rebalance. The
    * explode+groupBy formulation this replaces paid a full exchange of
    * partial-agg rows and 17-column buffer updates per word (measured
    * 2.3× slower at sf0.1, and a whole extra shuffle stage at any
    * scale); here the sketch is finished the moment the scan task
    * ends. Rows with NULL text are dropped (the explode form's
    * semantics).
    */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    rebalance(docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .where(col("t").isNotNull)
      .select(col("id"),
        graft.functions.TextKernelFunctions.simhash(col("t")).as("simhash"))

  /** SimHash near-dup candidates: block on the top byte, then exact
    * Hamming ≤ `maxHamming` via popcount(xor). Integer-only.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6): DataFrame = {
    val sh = simhashTable(docs, idCol, textCol)
      .select(col("id"), col("simhash").as("sh"))
      .withColumn("blk", shiftright(col("sh"), 24))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .where(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
  }

  /** The whole near-dup pipeline applied: MinHash-LSH candidate pairs
    * → connected components → keep the minimum-id representative of
    * every cluster. Returns the deduplicated corpus — the surviving
    * rows with docs' exact schema and column order (left-anti join).
    *
    * No cache to manage: the signatures are computed exactly once, by
    * the one bounded collect of the distinct edge set that
    * ConnectedComponents.keepMinIds runs (past its caps the contraction
    * rounds read the RDD that collect ran); within the caps the kept
    * rows are `docs` anti-joined to the broadcast non-root ids.
    */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    // cluster edges (bucket stars), NOT all-pairs: the transitive
    // closure is identical and edge growth stays linear in corpus
    // size where all-pairs grows with near-dup cluster size SQUARED
    val edges = lshClusterEdges(docs, idCol, textCol, k, bands)
    ConnectedComponents.keepMinIds(docs, idCol, edges)
  }

  /** Exact set-overlap counts for candidate pairs, computed with the
    * scale-safe exploded-hash plan: element sets explode to
    * fixed-width (id, 60-bit md5 hash) rows, the pair join matches
    * hashes on the (id_b, h) key, and a partial-aggregating
    * groupBy(pair) counts intersections — so shuffle bytes are
    * ∝ set cardinality × 16 B, never element size × pair fan-out, and
    * no array column ever crosses an exchange. (The naive plan — join
    * pairs against per-id array columns and array_intersect per pair —
    * ships whole documents through the shuffle and is O(n·m) per
    * pair.)
    *
    * `sets` must have columns (id, elems: array<string>) with elems
    * already distinct per id and non-empty. Pairs with empty
    * intersection are preserved (n_inter = 0). The 60-bit hash makes
    * the counts exact up to md5-prefix collisions — vanishing at any
    * realistic set size, and off-by-one at worst.
    */
  /** The fixed-width (id, 60-bit md5 hash) explosion of per-id element
    * sets — the only shape of the elements that ever crosses a
    * shuffle.
    *
    * explode_outer, NOT explode: InferFiltersFromGenerate turns a
    * plain explode over an attribute into a `size(elems) > 0` filter,
    * alias-substitutes the whole element-building expression into it,
    * and pushes it below the rebalance exchange — re-running the heavy
    * shingle construction single-threaded on the scan (measured 10×
    * the entire operator). The rule skips outer explodes, and the two
    * are equivalent here because setOverlap's contract already
    * requires non-empty element sets.
    */
  private[graft] def explodedHashes(sets: DataFrame, hashElements: Boolean = true): DataFrame = {
    val ex = rebalance(sets).select(col("id"), explode_outer(col("elems")).as("e"))
      // explode_outer emits (id, NULL) for an empty/NULL set; dropping
      // it here restores n=0 semantics. The filter is on the
      // generator's OUTPUT attribute, so it cannot be pushed below the
      // exchange (the pathology explode_outer exists to avoid).
      .where(col("e").isNotNull)
    // short fixed-size elements (char n-grams) skip the md5: the
    // element is already narrower than a digest, and equality on it is
    // exact rather than collision-bounded
    if (hashElements)
      ex.select(col("id"),
        conv(substring(md5(col("e")), 1, 15), 16, 10).cast("long").as("h"))
    else ex.select(col("id"), col("e").as("h"))
  }

  /** The overlap join/agg plan over an exploded-hash table (see
    * setOverlap; split out so specs can inspect the lazy plan).
    * `ex` is referenced by three subplans — callers cache it.
    *
    * Intersections come from the hash EQUI-join (a-side rows ⋈ b-side
    * rows on (id_b, h)): per pair only the MATCHING hashes flow into
    * the aggregation — Σ|A∩B| rows. (The tag-and-aggregate
    * alternative — tag every element row with its pair memberships and
    * count bits per (pair, hash) — needs no per-id counts pass but
    * fans out Σ(|A|+|B|) rows per pair; measured 3× slower at sparse
    * overlaps, which candidate verification always is.)
    */
  private[graft] def setOverlapPlan(ex: DataFrame, pairs: DataFrame): DataFrame = {
    val counts = ex.groupBy("id").agg(count(lit(1)).cast("int").as("n"))
    val inter = pairs
      .join(ex.select(col("id").as("id_a"), col("h")), "id_a")
      .join(ex.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).cast("int").as("n_inter"))
    pairs
      .join(counts.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"), "left")
      .join(counts.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"), "left")
      .join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("n_inter"), lit(0)).as("n_inter"),
        (coalesce(col("n_a"), lit(0)) + coalesce(col("n_b"), lit(0)) -
          coalesce(col("n_inter"), lit(0))).as("n_union"))
  }

  /** Broadcast fast path for the candidate-VERIFICATION regime —
    * pairs (and therefore the docs they touch) small enough to
    * broadcast, which LSH/blocking candidate sets are by
    * construction. `prunedSets` holds only the paired ids:
    * `overlapAuto` prunes them at the scan with the driver-known id
    * set (`prunedKernelSets`). Plan: broadcast the pruned
    * (id, elems, n) table once (ReuseExchange dedups the two identical
    * broadcast subplans), and compute each pair's intersection with
    * the sorted-merge count kernel ([[graft.functions.SetKernels]];
    * arrays sorted once per doc before the broadcast) — ZERO shuffles,
    * no eager materialization, no per-pair allocation, one map-side
    * pass over the pairs.
    *
    * Collision fine print: the two plans agree exactly unless two
    * DISTINCT grams of one document collide to the same 60-bit hash
    * (probability ≈ |doc grams|²·2⁻⁶¹ per doc). The merge count
    * advances both sides on a match, so this plan counts a collided
    * hash once per pairing; the exploded plan keeps the duplicate
    * rows, counting it with multiplicity (and its intersection
    * equi-join fans out on it).
    * Neither is "exact gram counts" under a collision — hashing set
    * membership is collision-bounded by construction — so the
    * divergence is collision-level noise, not a semantics difference
    * (OperatorSpec asserts plan equality on real corpora).
    *
    * `setOverlap` (the exploded-hash plan) serves pair sets beyond
    * broadcast size — its shuffle is bounded by set cardinality × 16 B
    * and never materializes an array per pair. `overlapAuto` selects
    * by the pairs' distinct-id count ([[CompactVerifyMaxIds]]).
    */
  private def setOverlapPruned(prunedSets: DataFrame, pairs: DataFrame): DataFrame = {
    // sort ONCE PER DOC here (before the broadcast), so the per-PAIR
    // intersection is a zero-allocation merge-count
    // (SortedIntersectCount) instead of array_intersect's per-pair
    // hash-set build + intersection-array materialization — each doc's
    // set feeds thousands of pairs in a cross-join-shaped frame, and
    // the per-pair constant IS the verify stage's cost at sf10 (82M
    // pairs over 26k docs). Element distinctness (the kernel outputs'
    // contract) plus sort_array's ordering satisfy the merge kernel's
    // preconditions for both long (shingle hashes) and string (char
    // n-grams) elements.
    val pruned = prunedSets
      .select(col("id"), sort_array(col("elems")).as("elems"),
        size(col("elems")).as("n"))
    pairs
      .join(broadcast(pruned.select(col("id").as("id_a"),
        col("elems").as("ea"), col("n").as("na"))), Seq("id_a"), "left")
      .join(broadcast(pruned.select(col("id").as("id_b"),
        col("elems").as("eb"), col("n").as("nb"))), Seq("id_b"), "left")
      // two-step select: n_union references n_inter as an ATTRIBUTE, so
      // the kernel evaluates once per pair regardless of codegen
      // subexpression elimination (CollapseProject keeps the split —
      // it refuses to inline a non-cheap expression referenced twice)
      .select(col("id_a"), col("id_b"),
        coalesce(graft.functions.SetKernelFunctions.sortedIntersectCount(
          col("ea"), col("eb")), lit(0)).as("n_inter"),
        (coalesce(col("na"), lit(0)) + coalesce(col("nb"), lit(0))).as("n_ab"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_ab") - col("n_inter")).as("n_union"))
  }

  /** `hashElements=false` joins on the raw element value instead of
    * its 60-bit digest — choose it when elements are short and fixed
    * (char n-grams): less CPU, exact equality, same shuffle width.
    */
  def setOverlap(sets: DataFrame, pairs: DataFrame, hashElements: Boolean = true): DataFrame =
    // pairs feeds five subplans (the id prune, both hash-join sides,
    // and the count joins) — shared via eager materialization with a
    // lineage cut rather than Dataset.cache(): checkpointed blocks are
    // reclaimed by the ContextCleaner when the returned frame is
    // dropped, so there is no CacheManager entry to own, no unpersist
    // obligation, and the RESULT can stay lazy — the caller's single
    // consumption is the only pass over it.
    setOverlapOn(sets, materialize(pairs), hashElements)

  /** setOverlap over an ALREADY-materialized pair frame (the exploded
    * -hash table still materializes here: it feeds three subplans, and
    * the analyzer's attribute dedup defeats ReuseExchange — same story
    * as the LSH signatures).
    */
  private def setOverlapOn(sets: DataFrame, p: DataFrame, hashElements: Boolean): DataFrame = {
    // Only ids that appear in some pair matter — semi-join the element
    // sets against them before exploding, so a sparse pair sample over
    // a huge corpus never explodes (or materializes) the whole corpus.
    // The id list is |pairs|-bounded and typically broadcasts.
    val ids = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val ex = materialize(
      explodedHashes(sets.join(ids, Seq("id"), "left_semi"), hashElements))
    setOverlapPlan(ex, p)
  }

  /** Distinct-id ceiling for the broadcast verify path. What the
    * compact plan broadcasts is the pruned per-doc element arrays, so
    * its size is driven by how many DISTINCT ids the pairs touch —
    * NOT by the pair count: a cross-join-shaped pair sample reuses a
    * few hundred ids across hundreds of thousands of pairs and is
    * still trivially broadcastable. 2¹⁷ ids ≈ 130k docs ≈ low
    * hundreds of MB — comfortable (the same worst case the previous
    * 2¹⁶-pair gate admitted at 2 ids/pair); past it the broadcast
    * heads for driver memory and the 8 GB hard cap, and the
    * exploded-hash plan streams the same verification through
    * bounded shuffles instead.
    */
  val CompactVerifyMaxIds: Long = 1L << 17

  /** Verification-plan selection shared by shingleOverlap /
    * charNgramOverlap: the pair frame is materialized once (it feeds
    * 3–5 subplans in EITHER plan, so the lineage cut pays for itself),
    * a cheap distinct-count over its two id columns sizes the
    * would-be broadcast, and the compact path runs only when that is
    * genuinely broadcast-sized — LSH/blocking candidate sets and
    * cross-join samples are; nothing forces a caller's hand-built
    * pair frame to be (bandingPairs alone admits buckets up to 2²⁰
    * ids). The pair frame is rebalanced into the compact plan: its
    * per-pair array_intersect is the compute-dense stage, and a pair
    * frame built from single-split inputs would otherwise run it on
    * one core (no-op on already-parallel pair frames).
    */
  /** Row cap for the plan-pick collect probe (below). 2¹⁸ (id_a,id_b)
    * rows ≈ 25 MB of driver Rows — trivially safe, and big enough
    * that every candidate-verification pair frame at interactive
    * scale collects whole.
    */
  private[operators] val PairCollectMaxRows: Int = 1 << 18

  /** Max driver-known ids inlined as a pushed-down IN filter on the
    * corpus scan; past it a broadcast semi-join prunes instead (an IN
    * list in the many-thousands bloats the plan and its codegen).
    */
  private[operators] val IsinPruneMaxIds: Int = 4096

  /** Internal→external value normalization, so collected id values
    * feed isin()/Row() literals directly (ids are usually longs;
    * string ids arrive as UTF8String).
    */
  private def extValue(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
    case other => other
  }

  /** Element sets for a DRIVER-KNOWN id set: prune FIRST, at the
    * corpus scan — an IN filter reaches parquet (PushedFilters +
    * row-group pruning) while the list stays plan-sized
    * ([[IsinPruneMaxIds]]); past it a broadcast semi-join against a
    * LocalRelation of the ids prunes instead. Either way the element
    * kernel runs over the PAIRED docs only — never the corpus. A few
    * hundred pruned docs are cheaper to kernel serially than to
    * shuffle; a big prune still wants scan parallelism (keyed:
    * content-deterministic under retry, nothing to sort).
    */
  private def prunedKernelSets(
      raw: DataFrame, kernel: Column => Column,
      ids: Iterable[Any], idField: org.apache.spark.sql.types.StructField)
      : DataFrame = {
    val spark = raw.sparkSession
    val n = ids.size
    val prunedRaw =
      if (n <= IsinPruneMaxIds)
        raw.where(col("id").isin(ids.toSeq: _*))
      else {
        val idsDf = spark.createDataFrame(
          java.util.Arrays.asList(
            ids.toSeq.map(org.apache.spark.sql.Row(_)): _*),
          StructType(Seq(idField.copy(name = "id"))))
        raw.join(broadcast(idsDf), Seq("id"), "left_semi")
      }
    val par =
      if (n <= 512) prunedRaw
      else prunedRaw.repartition(
        spark.sparkContext.defaultParallelism, col("id"))
    par.select(col("id"), kernel(col("t")).as("elems"))
  }

  /** NOTE for pipeline builders: this method runs ONE bounded
    * collect EAGERLY at DataFrame-construction time (the plan-pick
    * probe below: one Spark job, two when the pairs fit but are
    * unevenly spread) — it replaces strictly costlier lazy sizing
    * jobs, but a caller batching many overlap frames before any action
    * still pays one probe per frame at build time, not at execution
    * time.
    * Callers via `shingleOverlap(compact = false)` /
    * `charNgramOverlap(compact = false)` stay fully lazy.
    */
  private def overlapAuto(
      raw: DataFrame, kernel: Column => Column,
      pairs: DataFrame, compact: Boolean): DataFrame = {
    def fullSets: DataFrame =
      rebalance(raw).select(col("id"), kernel(col("t")).as("elems"))
    // Plan-pick via a BOUNDED COLLECT PROBE — the resolution of the
    // toy-scale/sf10 tension. The two prior gates each lost one
    // regime: eagerly checkpointing the pair frame (r8) was cheap at
    // toy scale but materialized 82M cross-join pairs into ~4 GB of
    // deserialized blocks in ONE partition at sf10 and starved the
    // heap; keeping it lazy with count()-based sizing (r9) was
    // sf10-safe but spent 1–2 job floors re-enumerating a sub-second
    // query's pair frame (q23/q45 regressed 2.7–3.2×).
    //
    // The probe is ONE BoundedCollect: an 82M-pair frame costs a few
    // cut-short tasks shipping at most the caps in total.
    val p2 = pairs.select(col("id_a"), col("id_b"))
    BoundedCollect(p2, PairCollectMaxRows, BoundedCollect.GateBytes) match {
      case c: BoundedCollect.Collected =>
        // The frame collected whole — everything at once: an EXACT
        // distinct-id count (in-memory set, no sizing jobs) and a
        // LocalRelation pair frame the chosen plan consumes with ZERO
        // re-enumeration (the compact plan references pairs 3×; against
        // a lazy cross join each reference re-ran it).
        val local = c.toFrame(raw.sparkSession)
        // 0 pairs: skip BOTH plans — an empty, correctly-typed overlap
        // frame, no kernel or corpus work (limit(0) folds the whole
        // subtree to an empty relation at optimization)
        if (c.rows.isEmpty)
          return setOverlapOn(fullSets.limit(0), local, hashElements = false)
        val (dtA, dtB) = (c.schema(0).dataType, c.schema(1).dataType)
        val ids = new scala.collection.mutable.HashSet[Any]
        c.rows.foreach { r =>
          if (!r.isNullAt(0)) ids += extValue(r.get(0, dtA))
          if (!r.isNullAt(1)) ids += extValue(r.get(1, dtB))
        }
        // Prune FIRST, with the driver-known ids (prunedKernelSets), so
        // the element kernel runs over the PAIRED docs only — never the
        // corpus. This is what the pre-built-sets shape could not do:
        // the kernel projection sat below the semi-join, and only
        // PushDownLeftSemiAntiJoin's mercy (blocked by the rebalance
        // exchange) decided whether the whole corpus got shingled.
        if (compact && ids.size <= CompactVerifyMaxIds)
          setOverlapPruned(
            prunedKernelSets(raw, kernel, ids, p2.schema.head), local)
        // no materialize: a LocalRelation needs no lineage cut
        else setOverlapOn(fullSets, local, hashElements = false)
      case _: BoundedCollect.Overflow =>
        // Overflow — the genuinely-large regime. The pair frame cannot
        // live on the driver, but its DISTINCT IDS usually can — the
        // compact gate is CompactVerifyMaxIds (2¹⁷ ids ≈ 1 MB of longs)
        // anyway — so probe the distinct-id frame with the same
        // bounded collect. The distinct's partial aggregation makes
        // every map task's output id-bounded, so the probe job ships
        // a bounded id set even under an 82M-pair frame. Two wins over
        // the old count()-then-semi-join shape when the ids land under
        // the cap: the corpus scan is pruned with DRIVER-KNOWN ids
        // (isin / broadcast LocalRelation — no pair re-enumeration
        // feeding a semi-join), and the pair frame is enumerated
        // exactly ONCE (its single remaining consumer is the verify
        // join).
        val idsDf = p2
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .where(col("id").isNotNull).distinct()
        val idSet = BoundedCollect(idsDf, CompactVerifyMaxIds, BoundedCollect.GateBytes)
        // Parallelism (the sf10 lesson of this branch): a cross-join /
        // BNLJ pair frame inherits its STREAM side's scan partitioning —
        // 82M pairs in 2 partitions at sf10 — and everything downstream
        // (verify join + intersect kernel) would run on those 2 cores.
        // Rebalance KEYED on (id_a, id_b): hash assignment streams
        // straight into the exchange, where round-robin repartition must
        // TimSort every source partition first (sortBeforeRepartition —
        // measured at sf10, the pre-sort of 82M rows on 2 cores WAS the
        // query: jstack showed all live cycles in TimSort under
        // ShuffleExchangeExec).
        def parPairs = rebalance(pairs, Seq(col("id_a"), col("id_b")))
        idSet match {
          case ids: BoundedCollect.Collected if compact =>
            val idType = ids.schema.head.dataType
            setOverlapPruned(prunedKernelSets(raw, kernel,
              ids.rows.iterator.map(r => extValue(r.get(0, idType))).toSeq,
              ids.schema.head), parPairs)
          // exploded fallback: materialize AFTER the keyed rebalance, so
          // the checkpoint blocks land spread across the cluster (not 4 GB
          // in the stream side's 2 scan partitions — the r8 OOM shape) and
          // every consumer of the materialized frame starts parallel
          case _ => setOverlapOn(fullSets, materialize(parPairs), hashElements = false)
        }
    }
  }

  /** Exact n-gram (3-shingle) Jaccard stats for given candidate pairs:
    * returns integer intersection/union sizes (engine-portable; the
    * ratio is a trivial client-side division). Delegates to the
    * exploded-hash setOverlap plan — shingle arrays never shuffle.
    * Elements arrive PRE-hashed to 60-bit longs by the compiled
    * TextKernels.shingleHashes kernel (distinct on the gram string,
    * then one md5 each — byte-identical to
    * `array_distinct(shingles(t))` + per-element digest, without the
    * interpreted string-building lambdas).
    */
  def shingleOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      compact: Boolean = true): DataFrame = {
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    // compact asks for the broadcast verify; granted only while the
    // distinct-id count stays broadcast-sized (overlapAuto), so an
    // oversized candidate set degrades to the streaming exploded plan
    // instead of blowing the driver
    if (compact)
      overlapAuto(raw,
        t => graft.functions.TextKernelFunctions.shingleHashes(t),
        pairs, compact = true)
    else setOverlap(
      // rebalance BEFORE building the element sets, so the heavy
      // kernel projection runs at full parallelism too
      rebalance(raw).select(col("id"),
        graft.functions.TextKernelFunctions.shingleHashes(col("t")).as("elems")),
      pairs, hashElements = false)
  }

  /** LINEAR-OUTPUT form of the candidate-verification stage, for
    * consumers that feed ConnectedComponents / a keep-one-per-cluster
    * decision rather than scoring: verify the candidate pairs
    * (shingleOverlap), keep those at Jaccard >= `minJaccard`, and
    * reduce the surviving edge set to a spanning forest
    * (ConnectedComponents.spanningForest — one map-side union-find
    * pass, no shuffle).
    *
    * Why this exists: the pair-product form's OUTPUT is the scale
    * problem — a near-dup cluster of size m yields ~m²/2 verified
    * pairs (82M/66M rows for q23/q45 at sf10, growing quadratically
    * with cluster size), yet its transitive closure needs only ~m
    * edges. The forest's labels are identical to the full pair set's
    * (spec-pinned: labels(forest) == labels(thresholded pairs)), and
    * its size is bounded by the distinct doc ids the pairs touch —
    * corpus-LINEAR. Keep shingleOverlap itself for scoring consumers
    * (q23/q45's oracles stay pair-form).
    *
    * The Jaccard gate compares `n_inter >= minJaccard * n_union`
    * (integer-exact: no division; two empty docs — n_union = 0 — pass,
    * the "identical empty sets are duplicates" convention).
    */
  def shingleVerifyEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      minJaccard: Double,
      compact: Boolean = true): DataFrame = {
    val passing = shingleOverlap(docs, idCol, textCol, pairs, compact)
      .where(col("n_inter") >= lit(minJaccard) * col("n_union"))
      .select(col("id_a"), col("id_b"))
    ConnectedComponents.spanningForest(passing)
  }

  /** Member cap per band bucket for BUCKET-LOCAL verification
    * ([[lshVerifiedClusterEdges]]): one task holds one bucket's gram
    * arrays (~1 KB/doc) and pays up to |bucket|²/2 merge-counts for a
    * bucket where nothing verifies, so the guard is tighter than
    * bandingPairs' output-side MaxBucketSize. 2¹⁷ docs ≈ 150 MB of
    * grams — comfortable; a bucket past it is degenerate boilerplate
    * that exact dedup should collapse FIRST (same advice as the
    * MaxBucketSize error).
    */
  val VerifiedBucketMaxIds: Int = 1 << 17

  /** The bucket-local verification kernel of [[lshVerifiedClusterEdges]]
    * and `IncrementalDedup.verifiedArrivalEdges`: one band bucket's
    * members `(id, sorted distinct gram hashes, isNew)`, checked pair
    * by pair in sorted-id order under a local union-find. Only pairs
    * with a new endpoint are checked (every member is new in the batch
    * path; an arrival's old-old pairs were checked in their own later
    * doc's round), and a pair already connected is skipped unscored.
    * Returns the union-find's successful merges.
    */
  private[operators] def verifyBucket(
      bucket: Long,
      members: Array[(Long, Array[Long], Boolean)],
      minJaccard: Double): Iterator[(Long, Long)] = {
    if (members.length > VerifiedBucketMaxIds)
      throw new IllegalStateException(
        s"LSH bucket exceeds $VerifiedBucketMaxIds ids (bucket $bucket, " +
          s"${members.length} ids) for bucket-local verification — " +
          "run exact dedup first to collapse degenerate boilerplate")
    // sorted-id order: deterministic pair iteration (and therefore
    // deterministic emitted edges) under task retries
    scala.util.Sorting.quickSort(members)(Ordering.by(_._1))
    val n = members.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        if (members(i)._3 || members(j)._3) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) {
            val ea = members(i)._2; val eb = members(j)._2
            val ni = graft.functions.SetKernels.sortedIntersectCountLongArrays(ea, eb)
            if (ni >= minJaccard * (ea.length + eb.length - ni)) {
              if (ri < rj) parent(rj) = ri else parent(ri) = rj
              out += ((members(i)._1, members(j)._1))
            }
          }
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** Verified duplicate-cluster edges for the LSH pipeline, computed
    * BUCKET-LOCALLY — the 100 TB path behind [[dedupCorpusVerified]].
    *
    * Why not verify a candidate-pair FRAME? At sf10 the band buckets
    * yield 31.4M candidate pairs over 466k distinct ids: past the
    * broadcast-verify gate (CompactVerifyMaxIds) AND wide enough that
    * the exploded-hash plan's pair×grams join fans out to billions of
    * rows. But verification is bucket-DECOMPOSABLE: every candidate
    * pair shares a bucket, so shipping each doc's sorted gram array TO
    * its buckets (one shuffle, ≤ `bands` copies per doc — corpus-
    * linear) lets each bucket verify its own pairs in place with the
    * sorted-merge kernel, no pair frame, no broadcast, no corpus-sized
    * driver state.
    *
    * Inside a bucket, pairs are checked in sorted-id order under a
    * local union-find, and a pair whose endpoints are ALREADY
    * connected is skipped without scoring — closure-exact (adding an
    * edge inside one component never changes the transitive closure,
    * verified or not), and it collapses the all-duplicates bucket from
    * m²/2 scores to ~m. Emitted edges are the union-find's successful
    * merges: ≤ |bucket|−1 rows per bucket, corpus-linear overall.
    * labels(these edges) ≡ labels(ALL thresholded candidate pairs) —
    * spec-pinned against the pair-frame formulation, and q66's oracle
    * closes over the full thresholded pair set in DuckDB.
    *
    * Scoring is the compact verify plan's arithmetic exactly: distinct
    * 60-bit gram hashes (TextKernels.shingleHashes), sorted once per
    * doc, |A∩B| by merge-count, Jaccard gate
    * `n_inter >= minJaccard * (n_a + n_b - n_inter)` in double
    * arithmetic — identical to the `n_inter >= lit(j) * n_union`
    * column form and to the DuckDB oracle.
    */
  def lshVerifiedClusterEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(bands <= 8, "band index must fit the 3 bits above the 60-bit hash")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus scan computes BOTH per-doc arrays (r18; guide §2.4 —
    // remove shuffles outright): the r17 shape built band buckets and
    // gram arrays in two separate scans and re-united them with an
    // id-keyed join — two extra exchanges (both join sides hashed on
    // id) and a second pass over the text, for rows that were born on
    // the same scan task. Fused, the only exchange left is the bucket
    // shuffle the verification itself requires. The bucket expression
    // is bandBuckets' verbatim (band index packed above a 60-bit md5
    // prefix of the band's concatenated minhashes — `sig` element
    // refs instead of mh column refs, same values, same string
    // coercion into md5); both kernels are non-cheap multi-/once-
    // referenced aliases, so CollapseProject keeps each evaluated
    // once per row (the perRowSignatures pattern).
    val r = k / bands
    val base = rebalance(docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("t")))
      .where(col("t").isNotNull)
      .select(col("id"),
        graft.functions.TextKernelFunctions.minhashSignature(col("t"), k).as("sig"),
        sort_array(
          graft.functions.TextKernelFunctions.shingleHashes(col("t"))).as("elems"))
    val bucketArr = array((0 until bands).map(b =>
      shiftleft(lit(b.toLong), 60).bitwiseOR(
        conv(substring(md5(concat((b * r until (b + 1) * r).map(j =>
          element_at(col("sig"), j + 1)): _*)), 1, 15), 16, 10).cast("long"))): _*)
    base.select(explode(bucketArr).as("bucket"), col("id"), col("elems"))
      .as[(Long, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (bucket: Long, it: Iterator[(Long, Long, Array[Long])]) =>
        verifyBucket(bucket, it.map(m => (m._2, m._3, true)).toArray, minJaccard)
      }
      .toDF("id_a", "id_b")
  }

  /** The VERIFIED dedup pipeline applied end to end: LSH candidates →
    * exact shingle-Jaccard verification at `minJaccard` → connected
    * components → keep the minimum-id representative per verified
    * cluster. This is dedupCorpus with the false-positive filter a
    * production pipeline runs: LSH buckets admit pairs whose true
    * Jaccard is below threshold (banding is probabilistic), and those
    * stay SEPARATE here where dedupCorpus would merge them.
    *
    * Scale shape: verification runs bucket-locally
    * ([[lshVerifiedClusterEdges]]) — no candidate-pair frame, no
    * broadcast, shuffle ≤ `bands` gram-array copies per doc, edge
    * output corpus-linear. Callers verifying an ARBITRARY pair frame
    * (blocking strategies other than these buckets) use
    * [[shingleVerifyEdges]] instead.
    */
  def dedupCorpusVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    val edges = lshVerifiedClusterEdges(docs, idCol, textCol, k, bands, minJaccard)
    ConnectedComponents.keepMinIds(docs, idCol, edges)
  }

  /** Char n-gram Jaccard stats for candidate pairs — the char-level
    * complement of shingleOverlap, same exploded plan but joining on
    * the raw n-gram (it is already fixed-width; no digest needed).
    * The distinct n-gram set comes from the compiled
    * TextKernels.charNgrams kernel (code-point substrings, identical
    * to the `charNgrams` column form below).
    */
  def charNgramOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      pairs: DataFrame,
      compact: Boolean = true): DataFrame = {
    val raw = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    if (compact)
      overlapAuto(raw,
        t => graft.functions.TextKernelFunctions.charNgrams(t, n),
        pairs, compact = true)
    else setOverlap(
      rebalance(raw).select(col("id"),
        graft.functions.TextKernelFunctions.charNgrams(col("t"), n).as("elems")),
      pairs, hashElements = false)
  }

  /** Character n-gram set of a text column (the char-level complement
    * to word shingles — robust to tokenization differences, the usual
    * choice for short/noisy text).
    */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(
      when(length(text) < n, array(text)).otherwise(
        transform(sequence(lit(1), length(text) - (n - 1)),
          i => text.substr(i, lit(n)))))

  /** Embedding cosine near-duplicate pairs above `threshold` between
    * a probe subset and the corpus. The probe predicate is the
    * blocking strategy (callers at scale pass an LSH bucket join
    * instead — see Similarity.lshTopK).
    *
    * The single-frame convenience over [[embeddingNearDupFrames]]
    * (all regimes there): one embedded graft_probe_matches kernel up
    * to the collect caps, role swap past the caps when the corpus fits
    * them, and past BOTH a fail-fast (the non-equi join plans as
    * CartesianProduct once the probe side outgrows broadcast — the
    * shape the r14 sf10 measurement showed dies on disk spill;
    * [[Similarity.AnnForceJoinKey]] opts in anyway). From THIS entry
    * point the role swap never fires (probes ⊆ corpus: a probe set too
    * big to collect implies a corpus too big to collect).
    *
    * Driver memory bound: the collected probe matrix is capped by
    * BOTH `maxChunkedProbes` rows and the `maxCollectBytes` budget of
    * exact row bytes (Similarity.decideRegime).
    */
  def embeddingNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      threshold: Double,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20): DataFrame =
    embeddingNearDupFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, threshold, maxEmbeddedProbes, maxChunkedProbes,
      maxCollectBytes)

  /** [[embeddingNearDup]] with probes and corpus as SEPARATE frames
    * (cross-corpus near-dup: decontamination-style "which corpus docs
    * sit near these probes").
    *
    * Pair contract, default (`allPairs = false`): output
    * (probe_id, cand_id) with `probe_id < cand_id` and raw cosine
    * strictly above `threshold` — identical to the single-frame form,
    * for callers whose probes are a SUBSET of the corpus (the id
    * ordering dedups the symmetric pair). With `allPairs = true` —
    * the mode for genuinely DISTINCT frames — every matching
    * (probe_id, cand_id) is emitted with no id-ordering or self-pair
    * filter: unrelated id spaces make `probe_id < cand_id` silently
    * discard ~half the true matches and a numeric collision is not a
    * self-pair. Output ids are BIGINT in every regime regardless of
    * input id type (the regime must not leak into the schema).
    *
    * Regimes (the decision protocol and the row+byte collect budgets
    * live in Similarity.decideRegime): within the collect caps the
    * probes embed in ONE `graft_probe_matches` projection over the
    * corpus scan; past them the ROLE SWAP embeds the corpus instead
    * when IT fits — one reversed kernel over the probe scan
    * (`emitGreater`: the row is the probe, emitted ids are candidates
    * above it — the identical pair contract from the other side).
    * Either way the exploded kernel output IS the answer, with no join
    * and no merge. The embedded gate splits neither: a projection's
    * chunks would all run in one stage, every task deserializing every
    * chunk, so they would bound no task memory and only add rescans.
    * When BOTH sides exceed the caps the engine FAILS FAST (the
    * non-equi join was measured dead at scale, BENCHNOTES_r14) unless
    * the session opts in via [[Similarity.AnnForceJoinKey]];
    * `maxEmbeddedProbes = 0` is the spec seam that runs the join
    * silently.
    */
  def embeddingNearDupFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      threshold: Double,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      allPairs: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    val dec = Similarity.decideRegime(probes, probeIdCol, probeVecCol,
      Some((corpus, corpusIdCol, corpusVecCol)),
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes)
    dec.regime match {
      case Similarity.AnnRegime.Probes(collected) =>
        // per corpus row the graft_probe_matches kernel emits matching
        // probe ids directly, with no joined-row materialization;
        // scoring is bit-identical to the join form (split norms, dot
        // per pair, zero guard)
        val (pIds, pVecs) = Similarity.matrix(collected)
        val all = rebalance(
          corpus.select(col(corpusIdCol).as("cand_id"), col(corpusVecCol).as("cand_vec")),
          Seq(col("cand_id")))
        val matches = SparkBridge.column(graft.functions.TopKFunctions.ProbeMatches(
          SparkBridge.expression(all("cand_id")),
          SparkBridge.expression(all("cand_vec")),
          pIds, pVecs, threshold, emitAll = allPairs))
        all.select(explode(matches).as("probe_id"), col("cand_id").cast("long").as("cand_id"))
      case Similarity.AnnRegime.Corpus(collected) =>
        // ROLE SWAP: embed the corpus (reversed kernel over the probe
        // scan). The kernel sits DIRECTLY inside the generator (never
        // an aliased array: InferFiltersFromGenerate would duplicate it
        // — the bruteForceTopKFrames role-swap audit caught exactly that)
        val (cIds, cVecs) = Similarity.matrix(collected)
        val probeFrame = rebalance(
          probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("probe_vec")),
          Seq(col("probe_id")))
        val matches = SparkBridge.column(graft.functions.TopKFunctions.ProbeMatches(
          SparkBridge.expression(probeFrame("probe_id")),
          SparkBridge.expression(probeFrame("probe_vec")),
          cIds, cVecs, threshold, emitGreater = true, emitAll = allPairs))
        probeFrame.select(col("probe_id").cast("long").as("probe_id"), explode(matches).as("cand_id"))
      case Similarity.AnnRegime.BothOver =>
        dec.overflow.foreach(Similarity.enforceJoinContract(spark, "embeddingNearDup", _))
        // norms once per SIDE row, dot alone per pair: bit-identical to
        // the cosine kernel (Similarity.pairCosine scaladoc) at a third
        // of the per-pair work. The corpus side streams past the
        // probes; rebalance so a single-row-group embedding file
        // doesn't serialize the |probes|×|corpus| cosine loop on one
        // core (no-op at multi-split scale — see rebalance)
        val probeSide = Similarity.normedSide(probes, probeIdCol, probeVecCol, "probe")
        val all = Similarity.normedSide(corpus, corpusIdCol, corpusVecCol, "cand",
          rebalance(_, Seq(col("cand_id"))))
        // no broadcast hint above the embedded gate: the probe count is
        // known only to exceed the cap and can grow ∝ corpus — a forced
        // broadcast is a driver-OOM at 100×; the planner sizes the build
        // side from its stats (Similarity.bruteForceTopK's join regime)
        val joined =
          if (allPairs)
            // the kernels drop null-id rows; the crossJoin has no join
            // condition to drop them implicitly (the `<` below does),
            // so filter explicitly or the join regime alone would emit
            // NULL-id pairs
            all.where(col("cand_id").isNotNull)
              .crossJoin(probeSide.where(col("probe_id").isNotNull))
          else all.join(probeSide, col("probe_id") < col("cand_id"))
        joined
          .where(Similarity.pairCosine > threshold)
          .select(col("probe_id").cast("long").as("probe_id"),
            col("cand_id").cast("long").as("cand_id"))
    }
  }
}
