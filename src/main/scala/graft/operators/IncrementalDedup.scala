package graft.operators

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shard-incremental near-duplicate detection — the operator a
  * STANDING 100 TB training-data pipeline actually runs: new document
  * shards arrive daily and must be deduplicated against everything
  * ingested before WITHOUT rescanning the corpus text.
  *
  * Three lake tables carry all accumulated state:
  *  - a signature store `(id, mh0..mh{k-1})`: one row per document
  *    ever ingested. ~k·8 bytes per doc — at 100 TB of text (~3 KB/doc
  *    average) the store is ~0.25% of corpus bytes, so scanning IT is
  *    cheap while the text is scanned exactly once, on arrival;
  *  - an edge store `(id_a, id_b)`: CONNECTIVITY edges — per-band-
  *    bucket min-id stars ([[incrementalClusterEdges]]), not all
  *    candidate pairs. Near-dup cluster size grows with corpus size
  *    (measured: all-pairs edges grew 99× for 10× docs at sf10,
  *    DriveCC), so a durable all-pairs store would inherit that
  *    quadratic curve; the star store grows ≤ 2·bands rows per
  *    ingested doc — LINEAR in corpus size — while its transitive
  *    closure stays exactly `labels(bandingPairs(signatures of the
  *    union))`. [[Dedup.bandingPairs]] is the pairs API;
  *  - a label store `(id, component)`: every ingested id with the min
  *    id of its near-dup component ([[ConnectedComponents.labels]]'
  *    contract), merge-on-read.
  *
  * Every arrival runs ONE step sequence ([[arrive]]; the verified
  * form's is [[arriveVerified]]), each step one commit:
  *  1. minhash signatures of the SHARD text only (map-side kernel, the
  *     single text scan that shard will ever get), appended;
  *  2. the shard's signatures re-read through the store's CDC
  *     `changes()` (only the files step 1 appended) and bucket-joined
  *     against the store's buckets; the new connectivity edges are
  *     appended;
  *  3. exactly those edges — re-read through the edge store's
  *     `changes()` — folded into the label store by quotient
  *     contraction ([[updateLabels]]);
  *  4. the survivors: the shard's rows whose label, read pinned to
  *     step 3's commit, is their own id ([[labeledKeptIds]]).
  * The batch API commits each step plainly; the streaming sinks
  * (`graft.streaming.StreamingDedup`, `StreamingVerifiedDedup`) run
  * the same sequence with every commit stamped by the stream's batch
  * id, so a replay skips the steps it already committed. Every read
  * is pinned to the versions the earlier steps yielded, so a redone
  * step recomputes the same frame. Once the label store holds labels,
  * no step scans the edge store beyond the arrival's own commit and
  * no connected components run over the store's lifetime; its first
  * label commit is the closure of the stores it finds (for a new
  * pipeline, the first arrival alone). What still grows with the
  * stores' age: step 2 scans the whole signature store for the
  * touched buckets, and steps 3–4 scan the whole label store.
  *
  * Connectivity invariant (induction over arrivals): after every
  * shard, all ids sharing a band bucket are in one component of the
  * edge store. Each arrival connects the bucket's NEW ids to the
  * bucket's current global min id, and — when that min is itself new —
  * bridges it to the bucket's pre-existing members (one edge to the
  * old min), which were already mutually connected by their own
  * arrival rounds. Hence components over the edge store ≡ components
  * over `bandingPairs(union)` after any sequence of shards, and the
  * label store's kept ids (min-id representative per component) are
  * IDENTICAL to a from-scratch [[Dedup.dedupCorpus]] over the
  * concatenated corpus. OperatorSpec proves the closure equivalence on
  * a sharded corpus, the linear-growth bound, and that `changes()` is
  * the only transport.
  *
  * Contract: document ids are globally unique across shards (same
  * contract as [[Dedup.minhashSignatures]]); re-ingesting an id is
  * undefined (dedup the shard stream first). A shard row with NULL
  * text has no signature and no edge, so it labels itself and
  * survives, as in [[Dedup.dedupCorpus]].
  *
  * No reference analog (the reference writes tables; it has no dedup);
  * extension tier per SURVEY §7.5.
  */
object IncrementalDedup {

  /** How one step of an arrival commits: given the table and the
    * commit (which takes the operation parameters to record), run it
    * and return the version that holds the step. The batch API commits
    * plainly; a streaming sink passes `BatchStamp.step(_, batchId)`.
    */
  private[graft] type Step = LakeTable => (Map[String, String] => Unit) => Long

  private val plain: Step = t => commit => { commit(Map.empty); t.version }

  private def append(step: Step, t: LakeTable)(df: => DataFrame): Long =
    step(t)(params => t.write(df, "append", operationParams = params))

  /** One arrival of `shard` through the three stores (steps 1–4 of the
    * object doc). Returns the signature commit's version — the
    * `changes()` cursor a resuming pipeline persists — and the shard's
    * survivors.
    */
  private[graft] def arrive(
      step: Step,
      sigStore: LakeTable,
      edgeStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int): (Long, DataFrame) = {
    val sigV = append(step, sigStore)(Dedup.minhashSignatures(shard, idCol, textCol, k))
    val edgeV = append(step, edgeStore) {
      val newSigs = sigStore.changes(sigV - 1, sigV).drop("_commit_version")
      incrementalClusterEdges(Dedup.bandBuckets(newSigs, k, bands),
        Dedup.bandBuckets(sigStore.read(versionAsOf = sigV), k, bands), newSigs.select(col("id")))
    }
    (sigV, survivors(step, sigStore.read(versionAsOf = sigV), edgeStore, edgeV, labelStore,
      shard, idCol))
  }

  /** Steps 3–4 of an arrival whose edges `edgeStore` committed at
    * `edgeV` (`allSigs`: the signature store as of the arrival's
    * commit): fold the edges into the label store, and return the
    * shard's rows whose label as of that commit is their own id.
    */
  private def survivors(
      step: Step,
      allSigs: => DataFrame,
      edgeStore: LakeTable,
      edgeV: Long,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String): DataFrame = {
    def pairs(df: DataFrame) =
      df.select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
    val labelV = step(labelStore) { params =>
      updateLabels(labelStore, shard.select(col(idCol).cast("long").as("id")).distinct(),
        pairs(edgeStore.changes(edgeV - 1, edgeV)),
        allSigs.select(col("id")), pairs(edgeStore.read(versionAsOf = edgeV)), params)
    }
    shard.join(labeledKeptIds(labelStore, labelV).withColumnRenamed("id", idCol),
      Seq(idCol), "left_semi")
  }

  /** The incremental counterpart of [[Dedup.lshClusterEdges]]: the
    * connectivity edges ONE shard arrival adds so that every band
    * bucket of the accumulated store stays internally connected.
    *
    * Per bucket the shard touches: connect each NEW id to the bucket's
    * current global min id (`rep`), plus — only when `rep` is itself
    * new — one bridge edge from `rep` to the bucket's pre-existing min
    * (the old members are already mutually connected by their own
    * arrival rounds, so one bridge re-roots the whole old component).
    * Emits ≤ (|shard| + touched buckets) × bands edges — every edge
    * has a this-shard endpoint, so arrivals never re-emit edges and
    * the accumulated store grows LINEARLY in corpus size. Transitive
    * closure over the accumulated edges ≡ closure over
    * `bandingPairs(union)` (OperatorSpec pins it per arrival).
    *
    * `newBuckets`/`allBuckets` are [[Dedup.bandBuckets]] frames of the
    * shard resp. the full store (including the shard); `newIds` the
    * shard's ids (column `id`). Only buckets the shard touches are
    * aggregated — the semi join prunes the store scan before the
    * groupBy, so per-arrival work is bounded by the shard's bucket
    * NEIGHBORHOOD, not store size.
    */
  def incrementalClusterEdges(
      newBuckets: DataFrame,
      allBuckets: DataFrame,
      newIds: DataFrame): DataFrame = {
    val touched = newBuckets.select("bucket").distinct()
    val reps = allBuckets.join(touched, Seq("bucket"), "left_semi")
      .join(newIds.select(col("id")).withColumn("_new", lit(true)),
        Seq("id"), "left")
      .groupBy("bucket")
      .agg(min(col("id")).as("rep"),
        min(when(col("_new").isNull, col("id"))).as("old_min"))
    // targets: the shard's ids per bucket, plus the old-min bridge
    // (a no-op whenever rep is old: then rep == old_min, self-excluded)
    val targets = newBuckets.select(col("bucket"), col("id"))
      .unionByName(reps.where(col("old_min").isNotNull)
        .select(col("bucket"), col("old_min").as("id")))
    targets.join(reps.select(col("bucket"), col("rep")), Seq("bucket"))
      .where(col("id") =!= col("rep"))
      .select(least(col("id"), col("rep")).as("id_a"),
        greatest(col("id"), col("rep")).as("id_b"))
      .distinct()
  }

  /** Ingest one shard: [[arrive]] with plain commits — signatures,
    * connectivity edges, and the label-store update, one commit each.
    * Returns the signature store version of the shard's commit — the
    * `changes()` cursor a resuming pipeline persists.
    *
    * The label update is a QUOTIENT-GRAPH contraction ([[updateLabels]])
    * that never re-runs CC over the ever-growing edge store. Every
    * stored component is internally connected, so for connectivity it
    * collapses to its representative; and because the representative
    * IS the component minimum, the min-label of a merged component
    * over the full graph equals the min over (old reps ∪ new ids) —
    * the quotient answer is exact, not an approximation. Per shard:
    *  1. map the shard's new edges' endpoints through the store
    *     (labeled id → its rep; unseen id → itself);
    *  2. run CC on that quotient graph — |new edges| edges over
    *     (reps touched by this shard ∪ new ids) vertices, i.e. work
    *     bounded by the shard's component NEIGHBORHOOD, never corpus
    *     size. An unbounded cascade (one shard bridging many old
    *     components) is still just this CC — its cost scales with the
    *     number of affected components, which is what "cascade" means;
    *  3. upsert the store: members of re-labeled components get the
    *     new rep (a key-scattered standing upsert — the label store is
    *     created `merge-on-read`, so each shard writes O(changed
    *     labels), not a store rewrite), new ids insert.
    *
    * OperatorSpec pins shard-incremental labels ≡ one-shot
    * [[ConnectedComponents.labels]] over the full edge store.
    */
  def ingestShardLabeled(
      sigStore: LakeTable,
      pairStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4): Long =
    arrive(plain, sigStore, pairStore, labelStore, shard, idCol, textCol, k, bands)._1

  /** The label-store step of every arrival, as one merge recording
    * `params`: fold ONE arrival's new edges `newPairs` into the
    * persisted `(id, component)` store via the quotient-graph
    * contraction described on [[ingestShardLabeled]]. A store that
    * holds no labels yet is instead seeded with the full closure of
    * `allIds` ∪ `newIds` over `allPairs` — the signature and edge
    * stores as of this arrival: for a new pipeline that is the arrival
    * alone, and stores that outgrew a missing label store (a fresh
    * `labelPath` pointed at a running pipeline's stores) get every
    * earlier id labeled, where the quotient would map each unlabeled
    * old endpoint to itself and keep the duplicates of its component.
    */
  private def updateLabels(
      labelStore: LakeTable,
      newIds: DataFrame,
      newPairs: DataFrame,
      allIds: => DataFrame,
      allPairs: => DataFrame,
      params: Map[String, String]): Unit = {
    // standing scattered-key upserts: the store is created
    // merge-on-read in its first commit (nullable: a NOT NULL column
    // would cost every merge a check job)
    if (!labelStore.exists)
      labelStore.createEmpty(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, component BIGINT"), Nil, Map(LakeTable.MergeModeKey -> "merge-on-read"))
    // version 0 is that creation: no label commit yet
    val rows = if (labelStore.version == 0)
      ConnectedComponents.labels(allIds.unionByName(newIds).distinct(), "id", allPairs)
    else {
      val labels = labelStore.read()
      // endpoints through the store: labeled → rep, unseen → self
      val qEdges = newPairs
        .join(labels.select(col("id").as("id_a"), col("component").as("ca")), Seq("id_a"), "left")
        .join(labels.select(col("id").as("id_b"), col("component").as("cb")), Seq("id_b"), "left")
        .select(
          coalesce(col("ca"), col("id_a")).as("u"),
          coalesce(col("cb"), col("id_b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      val qVerts = qEdges.select(col("u").as("id"))
        .unionByName(qEdges.select(col("v").as("id")))
        .unionByName(newIds)
        .distinct()
      val qLabels = ConnectedComponents.labels(qVerts, "id", qEdges)

      // nodes whose label moved: old reps absorbed into a smaller-min
      // component, and new ids that are not their own component
      val delta = qLabels.where(col("id") =!= col("component"))
      val repRemap = delta
        .select(col("id").as("component"), col("component").as("newComp"))
      // members of re-labeled OLD components (bounded by affected
      // component sizes); the rep's own row re-labels through the same join
      val updatedOld = labels.join(repRemap, Seq("component"))
        .select(col("id"), col("newComp").as("component"))
      val newRows = newIds
        .join(qLabels.withColumnRenamed("component", "qc"), Seq("id"), "left")
        .select(col("id"), coalesce(col("qc"), col("id")).as("component"))
      updatedOld.unionByName(newRows)
    }
    labelStore.merge(rows, Seq("id"), operationParams = params)
  }

  /** Kept ids straight off the incrementally-maintained label store
    * (as of `versionAsOf`, default latest) — a filter, no connected
    * components run at all. At the latest version this is the exact
    * retroactive kept set of everything ingested so far.
    */
  def labeledKeptIds(labelStore: LakeTable, versionAsOf: Long = -1L): DataFrame =
    labelStore.read(versionAsOf).where(col("id") === col("component")).select(col("id"))

  /** Shard-incremental VERIFIED near-dup detection — [[arrive]]'s
    * candidate connectivity replaced by exact shingle-Jaccard
    * verification at `minJaccard` (the incremental counterpart of
    * [[Dedup.dedupCorpusVerified]]). One more lake table carries the
    * verification-side state:
    *  - `gramStore` `(id, elems: array<long>)`: each doc's DISTINCT
    *    60-bit gram hashes, sorted once at arrival — ~8 B per distinct
    *    gram, so the text is scanned exactly once, on arrival, and
    *    never again;
    *  - `edgeStore` accumulates VERIFIED edges (pairs that passed the
    *    Jaccard gate), ≤ bucket−1 per touched bucket per arrival;
    *  - `labelStore` is maintained by the same quotient contraction as
    *    [[ingestShardLabeled]].
    *
    * Per arrival, verification runs BUCKET-LOCALLY
    * ([[Dedup.lshVerifiedClusterEdges]]'s kernel) over the buckets the
    * shard touches, restricted to pairs WITH A NEW ENDPOINT: an
    * old-old candidate pair was already checked in its later doc's
    * arrival round, so every candidate pair of the accumulated corpus
    * is verified exactly once across the shard sequence. The local
    * union-find's skip-if-connected applies within an arrival
    * (closure-safe: an edge inside one component never changes the
    * closure), and the closure of the accumulated edge store equals
    * the closure of ALL thresholded candidate pairs of the union —
    * [[dedupShardVerified]]'s output is spec-pinned identical to a
    * from-scratch `dedupCorpusVerified` over the concatenated corpus
    * after every arrival. Per-arrival cost is bounded by the shard's
    * bucket neighborhood (members × grams of touched buckets), never
    * corpus size. Runs [[arriveVerified]] with plain commits and
    * returns the signature commit's version.
    */
  def ingestShardVerified(
      sigStore: LakeTable,
      gramStore: LakeTable,
      edgeStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      minJaccard: Double = 0.5): Long =
    arriveVerified(plain, sigStore, gramStore, edgeStore, labelStore, shard,
      idCol, textCol, k, bands, minJaccard)._1

  /** [[arrive]] for the verified form: signatures, gram sets, verified
    * edges, label update — one commit each — then the survivors.
    */
  private[graft] def arriveVerified(
      step: Step,
      sigStore: LakeTable,
      gramStore: LakeTable,
      edgeStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      minJaccard: Double): (Long, DataFrame) = {
    val sigV = append(step, sigStore)(Dedup.minhashSignatures(shard, idCol, textCol, k))
    val gramV = append(step, gramStore)(shardGramSets(shard, idCol, textCol))
    val edgeV = append(step, edgeStore)(verifiedArrivalEdges(
      sigStore.changes(sigV - 1, sigV).drop("_commit_version"),
      sigStore.read(versionAsOf = sigV), gramStore.read(versionAsOf = gramV),
      k, bands, minJaccard))
    (sigV, survivors(step, sigStore.read(versionAsOf = sigV), edgeStore, edgeV, labelStore,
      shard, idCol))
  }

  /** The verified edges ONE arrival adds (the edge step of
    * [[arriveVerified]]): bucket-local verification of the buckets
    * `newSigs` touches by [[Dedup.lshVerifiedClusterEdges]]' kernel
    * (`Dedup.verifyBucket`), restricted to pairs with a new endpoint —
    * see ingestShardVerified's scaladoc for the exactly-once-per-pair
    * and closure arguments. `allSigs` / `allGrams` are the signature
    * and gram stores INCLUDING this arrival.
    */
  def verifiedArrivalEdges(
      newSigs: DataFrame,
      allSigs: DataFrame,
      allGrams: DataFrame,
      k: Int,
      bands: Int,
      minJaccard: Double): DataFrame = {
    val spark = newSigs.sparkSession
    import spark.implicits._
    val newBuckets = Dedup.bandBuckets(newSigs, k, bands)
    val allBuckets = Dedup.bandBuckets(allSigs, k, bands)
    val touched = newBuckets.select("bucket").distinct()
    val newIds = newSigs.select(col("id"))
    val members = allBuckets.join(touched, Seq("bucket"), "left_semi")
      .join(allGrams, Seq("id"))
      .join(newIds.withColumn("_new", lit(true)), Seq("id"), "left")
      .select(col("bucket"), col("id"), col("elems"),
        coalesce(col("_new"), lit(false)).as("is_new"))
      .as[(Long, Long, Array[Long], Boolean)]
    members.groupByKey(_._1)
      .flatMapGroups { (bucket: Long, it: Iterator[(Long, Long, Array[Long], Boolean)]) =>
        Dedup.verifyBucket(bucket, it.map(m => (m._2, m._3, m._4)).toArray, minJaccard)
      }
      .toDF("id_a", "id_b")
  }

  /** The sorted distinct 60-bit gram sets of one shard — the
    * verification-side state [[arriveVerified]] persists.
    */
  def shardGramSets(shard: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.rebalance(
        shard.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
      .where(col("t").isNotNull)
      .select(col("id"), sort_array(
        graft.functions.TextKernelFunctions.shingleHashes(col("t"))).as("elems"))

  /** Ingest `shard` with VERIFICATION and return only its rows that
    * survive verified dedup against everything ingested so far —
    * identical after every arrival to a from-scratch
    * [[Dedup.dedupCorpusVerified]] over the concatenated corpus
    * (spec-pinned), at O(shard bucket neighborhood) per arrival.
    */
  def dedupShardVerified(
      sigStore: LakeTable,
      gramStore: LakeTable,
      edgeStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      minJaccard: Double = 0.5): DataFrame =
    arriveVerified(plain, sigStore, gramStore, edgeStore, labelStore, shard,
      idCol, textCol, k, bands, minJaccard)._2

  /** Ingest `shard` and return only its rows that survive dedup
    * against everything ingested so far (including the shard itself) —
    * the per-arrival output of the standing pipeline: the shard's ids
    * whose label-store component, as of this arrival's label commit, is
    * their own. Per-arrival cost is bounded by the shard's component
    * NEIGHBORHOOD, not by the accumulated edge store. All arrivals must
    * flow through this method (or [[ingestShardLabeled]]) so the label
    * store stays complete.
    */
  def dedupShard(
      sigStore: LakeTable,
      pairStore: LakeTable,
      labelStore: LakeTable,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4): DataFrame =
    arrive(plain, sigStore, pairStore, labelStore, shard, idCol, textCol, k, bands)._2
}
