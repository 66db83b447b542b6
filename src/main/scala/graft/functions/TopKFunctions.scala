package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Bounded top-k as a MERGEABLE aggregate — the missing piece that
  * makes per-probe nearest-neighbor ranking scale.
  *
  * The naive rank plan (`row_number() OVER (PARTITION BY probe ORDER
  * BY sim DESC)` then `rank <= k`) must SHUFFLE the entire scored
  * frame — probes × corpus rows, the very cross product the ANN
  * operators take pains never to materialize anywhere else (400M rows
  * at sf10 for q25; ~10¹² at the 100 TB design point). A bounded
  * top-k aggregate instead rides standard two-phase aggregation:
  * each map task keeps a k-element heap per probe and the exchange
  * carries `partitions × probes × k` rows — independent of corpus
  * size. Ordering is the window formulation's (sim DESC, id ASC),
  * with ONE deliberate deviation: null-sim, NaN-sim and null-id rows
  * are DROPPED, where `row_number() ... ORDER BY sim DESC` ranks
  * nulls LAST and NaN FIRST (Spark's total order puts NaN above
  * every double) — so a probe with fewer than k real-scored
  * candidates returns only the real ones here, never null- or
  * NaN-scored filler. (A null id is not addressable output and
  * neither null nor NaN is a similarity; callers wanting the filler
  * rows should coalesce/nan-guard sims before aggregating.) The NaN
  * drop is also a heap-soundness requirement: every NaN comparison
  * is false in Java, so a NaN admitted while the heap is still
  * FILLING would never sift to the root and could never be evicted —
  * the update guard keeps the state NaN-free so `worse()`'s
  * primitive compares stay total over everything actually stored
  * (±Infinity included: infinities order correctly and DO rank).
  *
  * State is two primitive arrays (k doubles + k longs) managed as a
  * binary min-heap rooted at the WORST kept element, so update is
  * O(log k) worst case and O(1) for the overwhelming majority of rows
  * that lose to the current k-th. `eval` emits the heap sorted
  * best-first as `array<struct<cand_id:bigint, sim:double>>` —
  * `posexplode` recovers (rank, cand_id, sim).
  *
  * No reference analog (the reference ships no similarity search);
  * extension tier per SURVEY §7.5, same `sqlFunctions` table as
  * SketchFunctions / FreqFunctions / KllFunctions.
  */
object TopKFunctions {

  /** Mutable aggregation state: min-heap of the k best (sim, id)
    * pairs, worst at the root. Ordering: pair A beats pair B iff
    * simA > simB, or simA == simB and idA < idB.
    */
  final class TopKHeap(val k: Int) {
    val sims = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    /** is element at i worse (closer to eviction) than at j */
    private def worse(i: Int, j: Int): Boolean =
      sims(i) < sims(j) || (sims(i) == sims(j) && ids(i) > ids(j))

    private def swap(i: Int, j: Int): Unit = {
      val s = sims(i); sims(i) = sims(j); sims(j) = s
      val d = ids(i); ids(i) = ids(j); ids(j) = d
    }

    def offer(sim: Double, id: Long): Unit = {
      if (size < k) {
        sims(size) = sim; ids(size) = id; size += 1
        // sift up: the new leaf may be worse than its parent
        var c = size - 1
        while (c > 0 && worse(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
      } else if (sim > sims(0) || (sim == sims(0) && id < ids(0))) {
        sims(0) = sim; ids(0) = id
        // sift down: root may now beat a child
        var p = 0
        var done = false
        while (!done) {
          val l = 2 * p + 1; val r = l + 1
          var w = p // worst of the triple
          if (l < size && worse(l, w)) w = l
          if (r < size && worse(r, w)) w = r
          if (w == p) done = true else { swap(p, w); p = w }
        }
      }
    }

    /** indices of kept elements, best-first (sim desc, id asc) */
    def sortedIdx(): Array[Int] = {
      val idx = Array.range(0, size)
      // boxed sort is fine here: size <= k, evaluated once per group
      idx.sortWith { (a, b) =>
        sims(a) > sims(b) || (sims(a) == sims(b) && ids(a) < ids(b))
      }
    }
  }

  private val PairStruct = StructType(Seq(
    StructField("cand_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  /** `graft_top_k(sim, id, k)` — array of the k best (cand_id, sim)
    * pairs under (sim DESC, id ASC), as a mergeable aggregate.
    */
  case class TopKAgg(
      sim: Expression,
      id: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKHeap] {
    require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")
    override def prettyName: String = "graft_top_k"
    override def children: Seq[Expression] = Seq(sim, id)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(PairStruct, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = {
      val simOk = sim.dataType match {
        case DoubleType | FloatType => true
        case _ => false
      }
      val idOk = id.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!simOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: sim must be double/float, got ${sim.dataType.catalogString}")
      else if (!idOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: id must be integral, got ${id.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    private def idAsLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => other.toString.toLong
    }

    private def simAsDouble(v: Any): Double = v match {
      case d: Double => d
      case f: Float => f.toDouble
      case other => other.toString.toDouble
    }

    override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

    override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
      val s = sim.eval(input)
      val i = id.eval(input)
      // null or NaN sim never ranks, nor does a null id (class
      // scaladoc: deliberate window deviation + heap soundness —
      // `sd == sd` is the branch-free NaN test; ±Infinity passes)
      if (s != null && i != null) {
        val sd = simAsDouble(s)
        if (sd == sd) buf.offer(sd, idAsLong(i))
      }
      buf
    }

    override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
      var i = 0
      while (i < other.size) { buf.offer(other.sims(i), other.ids(i)); i += 1 }
      buf
    }

    override def eval(buf: TopKHeap): Any = {
      val idx = buf.sortedIdx()
      val rows = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) {
        rows(i) = InternalRow(buf.ids(idx(i)), buf.sims(idx(i)))
        i += 1
      }
      new GenericArrayData(rows)
    }

    override def serialize(buf: TopKHeap): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.size)
      bb.putInt(buf.k).putInt(buf.size)
      var i = 0
      while (i < buf.size) { bb.putDouble(buf.sims(i)).putLong(buf.ids(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): TopKHeap = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val heap = new TopKHeap(bb.getInt())
      val n = bb.getInt()
      var i = 0
      while (i < n) {
        val s = bb.getDouble(); val d = bb.getLong()
        heap.offer(s, d)
        i += 1
      }
      heap
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(sim = newChildren(0), id = newChildren(1))
  }

  /** `graft_probe_topk` — single-pass brute-force k-NN of an EMBEDDED
    * probe matrix against the corpus, as one mergeable aggregate.
    *
    * The join formulation (corpus ⋈ broadcast(probes) → score →
    * graft_top_k) is already exchange-optimal, but it MATERIALIZES a
    * joined row per (probe, candidate) pair — 400M UnsafeRow copies
    * carrying two embedding arrays each at sf10, ~1.9 µs/pair of pure
    * plumbing around a ~30 ns dot product. When the probe set fits in
    * memory (it is already driver-collected for the broadcast build),
    * this aggregate embeds it in the expression and scans the corpus
    * ONCE: per candidate row, a tight probes × dims loop feeds
    * per-probe bounded heaps; partial heaps merge across tasks
    * (`partitions × probes × k` state through the exchange — the same
    * width graft_top_k achieves, with zero joined rows).
    *
    * Exactness contract (spec-pinned ≡ the join formulation): scoring
    * replays `Similarity.splitScore` bit-for-bit — per-side norms with
    * the kernel's accumulation order, dot in pair order, the zero-
    * denominator guard, and Catalyst `round(_, 6)`'s exact
    * BigDecimal(HALF_UP) rounding BEFORE ranking (ties rank on the
    * rounded value, so rounding after would reorder them).
    */
  object ProbeTopKAgg {
    /** shared empty active-probe set for unmapped LSH signatures */
    private[functions] val NoActive: Array[Int] = Array.empty[Int]

    /** Sign-bit LSH signature of a vector — Similarity.lshSignature's
      * exact rule: bit p set iff dot(plane_p, v) >= 0, the dot over
      * min(plane dims, vec length) left-to-right, the same arithmetic
      * the column form's dot kernel runs. The ONE definition both the
      * driver-side probe bucketing and the kernel's per-row hashing
      * call, so a probe and a candidate with equal vectors always
      * share a bucket.
      */
    private[graft] def signature(planes: Array[Array[Double]], v: Array[Double]): Long = {
      var sig = 0L
      var p = 0
      while (p < planes.length) {
        val pl = planes(p)
        val d = math.min(pl.length, v.length)
        var dot = 0.0
        var j = 0
        while (j < d) { dot += pl(j) * v(j); j += 1 }
        if (dot >= 0) sig |= 1L << p
        p += 1
      }
      sig
    }
  }

  case class ProbeTopKAgg(
      candId: Expression,
      candVec: Expression,
      probeIds: Array[Long],
      probeVecs: Array[Array[Double]],
      k: Int,
      // IVF restriction (both empty = brute force over every probe):
      // `centroids` defines the coarse quantizer — each candidate row
      // is assigned its nearest centroid by (max dot, min index), the
      // exact tie rule of Similarity.nearestLists' (-dot, id) ascending
      // sort — and only the probes registered for that list in
      // `probesByList` are scored against the row.
      centroids: Array[Array[Double]] = Array.empty,
      probesByList: Array[Array[Int]] = Array.empty,
      // LSH restriction (alternative to IVF, Similarity.lshTopK's
      // embedded regime): `planes` are the random hyperplanes — each
      // candidate row hashes to the sign-bit signature Σ (dot(plane_p,
      // v) >= 0 ? 1<<p : 0), exactly Similarity.lshSignature's rule —
      // and only the probes registered for that signature's bucket in
      // `probesBySig` are scored (an unmapped signature scores NO
      // probes: the bucket equi-join admits exact matches only).
      planes: Array[Array[Double]] = Array.empty,
      probesBySig: Map[Long, Array[Int]] = Map.empty,
      // cross-corpus mode: probe and candidate ids come from UNRELATED
      // id spaces, so a numeric collision is NOT a self-pair — score it
      // (the single-frame dedup contract keeps the default exclusion)
      includeSelf: Boolean = false,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[TopKHeap]] {
    require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")
    require(probeIds.length == probeVecs.length, "ids/vecs length mismatch")
    require(centroids.isEmpty == probesByList.isEmpty,
      "centroids and probesByList come together")
    require(probesByList.isEmpty || probesByList.length == centroids.length,
      "probesByList must map every centroid list")
    require(planes.isEmpty || probesBySig.nonEmpty || probeIds.isEmpty,
      "planes without a signature index scores nothing — pass probesBySig")
    require(planes.isEmpty || centroids.isEmpty,
      "IVF and LSH restrictions are mutually exclusive")
    override def prettyName: String = "graft_probe_topk"
    override def children: Seq[Expression] = Seq(candId, candVec)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("probe_id", LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("cand_id", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))), containsNull = false)

    // norms once per probe, driver-side, in the kernel's own
    // accumulation order (sum of squares left-to-right, sqrt at end) —
    // identical doubles to graft_norm2 over the same vectors
    private val probeNorms: Array[Double] = probeVecs.map { v =>
      var nx = 0.0; var i = 0
      while (i < v.length) { nx += v(i) * v(i); i += 1 }
      math.sqrt(nx)
    }

    override def checkInputDataTypes(): TypeCheckResult = {
      val idOk = candId.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val vecOk = VectorElem.elemType(candVec.dataType).isDefined
      if (!idOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: cand id must be integral, got ${candId.dataType.catalogString}")
      else if (!vecOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: cand vec must be a numeric array, got ${candVec.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def createAggregationBuffer(): Array[TopKHeap] =
      Array.fill(probeIds.length)(new TopKHeap(k))

    override def update(buf: Array[TopKHeap], input: InternalRow): Array[TopKHeap] = {
      val idv = candId.eval(input)
      val vecv = candVec.eval(input)
      if (idv == null || vecv == null) return buf
      val cid = idv match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
      }
      val arr = vecv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val get = VectorElem.readerOf(
        VectorElem.elemType(candVec.dataType).get)
      val n = arr.numElements()
      // candidate materialized once to a double array: the probe loop
      // then reads flat primitives (same exact widened values the
      // codegen'd kernels consume)
      val cv = new Array[Double](n)
      var cn = 0.0
      var i = 0
      while (i < n) { val v = get(arr, i); cv(i) = v; cn += v * v; i += 1 }
      val candNorm = math.sqrt(cn)
      // IVF: score only the probes probing this row's inverted list;
      // LSH: only the probes sharing this row's sign-bit signature;
      // null = brute force (every probe)
      val active: Array[Int] =
        if (centroids.nonEmpty) {
          var best = 0
          var bestDot = Double.NegativeInfinity
          var c = 0
          while (c < centroids.length) {
            val cw = centroids(c)
            val d = math.min(cw.length, n)
            var dot = 0.0
            var j = 0
            while (j < d) { dot += cw(j) * cv(j); j += 1 }
            // nearestLists sorts (-dot, id) ascending: strict > keeps
            // the LOWEST index on dot ties
            if (dot > bestDot) { bestDot = dot; best = c }
            c += 1
          }
          probesByList(best)
        } else if (planes.nonEmpty) {
          probesBySig.getOrElse(ProbeTopKAgg.signature(planes, cv), ProbeTopKAgg.NoActive)
        } else null
      val nActive = if (active == null) probeIds.length else active.length
      var a = 0
      while (a < nActive) {
        val p = if (active == null) a else active(a)
        if (includeSelf || probeIds(p) != cid) {
          val pv = probeVecs(p)
          val d = math.min(pv.length, n)
          var dot = 0.0
          var j = 0
          while (j < d) { dot += pv(j) * cv(j); j += 1 }
          val denom = probeNorms(p) * candNorm
          val sim = if (denom == 0.0) 0.0 else dot / denom
          val h = buf(p)
          // NaN never ranks (sim == sim is the NaN test) — the same
          // deliberate deviation and heap-soundness guard as
          // TopKAgg.update, so the embedded regime degrades
          // identically to the join regime (whose graft_top_k drops
          // the NaN-scored rows) on a NaN embedding. Then the exact
          // early-reject BEFORE the (expensive) rounding: rounding to
          // 6 decimals moves a value by < 1e-6, so a raw sim more
          // than 1e-6 below the heap's worst ROUNDED value cannot
          // round into contention — no BigDecimal needed for the
          // overwhelming majority of losing candidates
          if (sim == sim && (h.size < k || sim + 1e-6 >= h.sims(0))) {
            // Catalyst round(_, 6) on double codegens
            // BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()
            // — valueOf (the Double.toString path), NOT the
            // exact-binary constructor, which rounds boundary values
            // differently. Rank on the ROUNDED value: ties rank on
            // it, so rounding after ranking would reorder them.
            // Infinity passes through unrounded, exactly as Catalyst's
            // Round codegen does (BigDecimal.valueOf would throw
            // NumberFormatException on non-finite input).
            val rounded =
              if (java.lang.Double.isInfinite(sim)) sim
              else java.math.BigDecimal.valueOf(sim)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            h.offer(rounded, cid)
          }
        }
        a += 1
      }
      buf
    }

    override def merge(buf: Array[TopKHeap], other: Array[TopKHeap]): Array[TopKHeap] = {
      var p = 0
      while (p < buf.length) {
        val o = other(p)
        var i = 0
        while (i < o.size) { buf(p).offer(o.sims(i), o.ids(i)); i += 1 }
        p += 1
      }
      buf
    }

    override def eval(buf: Array[TopKHeap]): Any = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p < buf.length) {
        val idx = buf(p).sortedIdx()
        var r = 0
        while (r < idx.length) {
          rows += InternalRow(probeIds(p), (r + 1).toLong,
            buf(p).ids(idx(r)), buf(p).sims(idx(r)))
          r += 1
        }
        p += 1
      }
      new GenericArrayData(rows.toArray)
    }

    override def serialize(buf: Array[TopKHeap]): Array[Byte] = {
      var bytes = 8
      var p = 0
      while (p < buf.length) { bytes += 4 + 16 * buf(p).size; p += 1 }
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(k).putInt(buf.length)
      p = 0
      while (p < buf.length) {
        bb.putInt(buf(p).size)
        var i = 0
        while (i < buf(p).size) {
          bb.putDouble(buf(p).sims(i)).putLong(buf(p).ids(i)); i += 1
        }
        p += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[TopKHeap] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val kk = bb.getInt()
      val nProbes = bb.getInt()
      val out = Array.fill(nProbes)(new TopKHeap(kk))
      var p = 0
      while (p < nProbes) {
        val sz = bb.getInt()
        var i = 0
        while (i < sz) {
          val s = bb.getDouble(); val d = bb.getLong()
          out(p).offer(s, d)
          i += 1
        }
        p += 1
      }
      out
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): ProbeTopKAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): ProbeTopKAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(candId = newChildren(0), candVec = newChildren(1))
  }

  /** `graft_probe_matches(cand_id, cand_vec)` — scalar companion to
    * [[ProbeTopKAgg]] for THRESHOLD pair search (embedding near-dup):
    * per candidate row, the array of embedded-probe ids with
    * `probe_id < cand_id` and `cosine > threshold`, scored with the
    * split-norm arithmetic (bit-identical to the join formulation —
    * same zero-denominator guard, no rounding: the threshold compares
    * the raw quotient, as the operator always has). Exploding the
    * result reproduces the join's output rows with zero joined-row
    * materialization.
    *
    * `emitGreater` flips the id comparison to `embedded_id > row_id`
    * — the ROLE-SWAPPED form (Dedup.embeddingNearDupFrames): the
    * CORPUS embeds and the PROBES are scanned, so the row is the
    * probe and the emitted ids are candidates with `probe_id <
    * cand_id`, the identical pair contract from the other side.
    *
    * `emitAll` drops the id comparison entirely — the CROSS-CORPUS
    * mode (decontamination: probe and candidate ids come from
    * unrelated id spaces, where an ordering filter silently discards
    * ~half the true matches and an id collision is not a self-pair).
    * Every embedded id above the threshold is emitted, whichever
    * side is embedded.
    */
  case class ProbeMatches(
      candId: Expression,
      candVec: Expression,
      probeIds: Array[Long],
      probeVecs: Array[Array[Double]],
      threshold: Double,
      emitGreater: Boolean = false,
      emitAll: Boolean = false)
      extends org.apache.spark.sql.catalyst.expressions.Expression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(probeIds.length == probeVecs.length, "ids/vecs length mismatch")
    override def prettyName: String = "graft_probe_matches"
    override def children: Seq[Expression] = Seq(candId, candVec)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private val probeNorms: Array[Double] = probeVecs.map { v =>
      var nx = 0.0; var i = 0
      while (i < v.length) { nx += v(i) * v(i); i += 1 }
      math.sqrt(nx)
    }

    override def checkInputDataTypes(): TypeCheckResult = {
      val idOk = candId.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!idOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: cand id must be integral, got ${candId.dataType.catalogString}")
      else if (VectorElem.elemType(candVec.dataType).isEmpty)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: cand vec must be a numeric array, got ${candVec.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def eval(input: InternalRow): Any = {
      val idv = candId.eval(input)
      val vecv = candVec.eval(input)
      if (idv == null || vecv == null) return new GenericArrayData(Array.empty[Long])
      val cid = idv match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
      }
      val arr = vecv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val get = VectorElem.readerOf(VectorElem.elemType(candVec.dataType).get)
      val n = arr.numElements()
      val cv = new Array[Double](n)
      var cn = 0.0
      var i = 0
      while (i < n) { val v = get(arr, i); cv(i) = v; cn += v * v; i += 1 }
      val candNorm = math.sqrt(cn)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p < probeIds.length) {
        if (emitAll || (if (emitGreater) probeIds(p) > cid else probeIds(p) < cid)) {
          val pv = probeVecs(p)
          val d = math.min(pv.length, n)
          var dot = 0.0
          var j = 0
          while (j < d) { dot += pv(j) * cv(j); j += 1 }
          val denom = probeNorms(p) * candNorm
          val sim = if (denom == 0.0) 0.0 else dot / denom
          // Double.compare, NOT the primitive >: Spark's GreaterThan
          // orders NaN ABOVE every double (SQL total order), so a
          // NaN-scored pair passes the join regime's `cos > threshold`
          // filter — the kernel must match (regime-parity spec)
          if (java.lang.Double.compare(sim, threshold) > 0) out += probeIds(p)
        }
        p += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(candId = newChildren(0), candVec = newChildren(1))
  }

  /** `graft_corpus_topk(probe_id, probe_vec)` — the ROLE-SWAPPED
    * companion to [[ProbeTopKAgg]]: the CORPUS embeds in the
    * expression and the PROBES are scanned —
    * per probe row, the k best (cand_id, sim) among the embedded
    * candidates, best-first, as a plain projection. No aggregate, no
    * exchange, no joined rows: the shape for probe sets too large to
    * driver-collect when the corpus side DOES fit the collect bound
    * (Similarity.bruteForceTopKFrames' third regime — it retires the
    * measured-dead CartesianProduct fallback whenever either side
    * fits, BENCHNOTES_r14). The best-first array IS the probe's
    * answer: one kernel over the whole corpus matrix, no k-merge.
    *
    * Scoring and ranking replay ProbeTopKAgg exactly (spec-pinned ≡
    * the join regime): split norms in the kernel's accumulation
    * order, zero-denominator guard, NaN-never-ranks, Catalyst
    * `round(_, 6)` BigDecimal(HALF_UP) rounding BEFORE ranking, ties
    * by cand_id ascending, self-pairs (cand_id == probe_id) skipped
    * unless `includeSelf` (the cross-corpus mode: unrelated id
    * spaces, where an id collision is not a self-pair).
    * A null probe id or vector yields an empty array — exploding
    * drops the probe, the join regime's null-condition semantics.
    */
  case class CorpusTopK(
      probeId: Expression,
      probeVec: Expression,
      candIds: Array[Long],
      candVecs: Array[Array[Double]],
      k: Int,
      includeSelf: Boolean = false)
      extends org.apache.spark.sql.catalyst.expressions.Expression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")
    require(candIds.length == candVecs.length, "ids/vecs length mismatch")
    override def prettyName: String = "graft_corpus_topk"
    override def children: Seq[Expression] = Seq(probeId, probeVec)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(PairStruct, containsNull = false)

    private val candNorms: Array[Double] = candVecs.map { v =>
      var nx = 0.0; var i = 0
      while (i < v.length) { nx += v(i) * v(i); i += 1 }
      math.sqrt(nx)
    }

    override def checkInputDataTypes(): TypeCheckResult = {
      val idOk = probeId.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!idOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: probe id must be integral, got ${probeId.dataType.catalogString}")
      else if (VectorElem.elemType(probeVec.dataType).isEmpty)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: probe vec must be a numeric array, got ${probeVec.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    private val emptyResult = new GenericArrayData(Array.empty[Any])

    override def eval(input: InternalRow): Any = {
      val idv = probeId.eval(input)
      val vecv = probeVec.eval(input)
      if (idv == null || vecv == null) return emptyResult
      val pid = idv match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
      }
      val arr = vecv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val get = VectorElem.readerOf(VectorElem.elemType(probeVec.dataType).get)
      val n = arr.numElements()
      val pv = new Array[Double](n)
      var pn = 0.0
      var i = 0
      while (i < n) { val v = get(arr, i); pv(i) = v; pn += v * v; i += 1 }
      val probeNorm = math.sqrt(pn)
      val h = new TopKHeap(k)
      var c = 0
      while (c < candIds.length) {
        if (includeSelf || candIds(c) != pid) {
          val cv = candVecs(c)
          val d = math.min(cv.length, n)
          var dot = 0.0
          var j = 0
          while (j < d) { dot += cv(j) * pv(j); j += 1 }
          val denom = candNorms(c) * probeNorm
          val sim = if (denom == 0.0) 0.0 else dot / denom
          // NaN never ranks + exact early-reject before rounding —
          // ProbeTopKAgg.update's guard, verbatim rationale there
          if (sim == sim && (h.size < k || sim + 1e-6 >= h.sims(0))) {
            val rounded =
              if (java.lang.Double.isInfinite(sim)) sim
              else java.math.BigDecimal.valueOf(sim)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            h.offer(rounded, candIds(c))
          }
        }
        c += 1
      }
      val idx = h.sortedIdx()
      val rows = new Array[Any](idx.length)
      var r = 0
      while (r < idx.length) {
        rows(r) = InternalRow(h.ids(idx(r)), h.sims(idx(r)))
        r += 1
      }
      new GenericArrayData(rows)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(probeId = newChildren(0), probeVec = newChildren(1))
  }

  /** Generic-key sibling of [[TopKHeap]]: the k best (sim, key) pairs
    * under (sim DESC, key ASC) where the key is any integral OR string
    * value — real corpus ids are URLs and content hashes at least as
    * often as they are longs. Keys are held boxed (the per-row hot
    * path is still one double compare against the root; the key
    * compare only runs on sim ties) and string keys are COPIES — the
    * caller clones before offering, because `eval` hands out
    * UTF8Strings backed by a reused row buffer.
    */
  final class TopKKeyHeap(val k: Int, cmp: (Any, Any) => Int) {
    val sims = new Array[Double](k)
    val keys = new Array[Any](k)
    var size = 0

    /** is element at i worse (closer to eviction) than at j */
    private def worse(i: Int, j: Int): Boolean =
      sims(i) < sims(j) || (sims(i) == sims(j) && cmp(keys(i), keys(j)) > 0)

    private def swap(i: Int, j: Int): Unit = {
      val s = sims(i); sims(i) = sims(j); sims(j) = s
      val d = keys(i); keys(i) = keys(j); keys(j) = d
    }

    /** would `offer` displace state? safe to call with an UNOWNED key
      * (only compares) — lets the caller clone strings lazily
      */
    def accepts(sim: Double, key: Any): Boolean =
      size < k || sim > sims(0) || (sim == sims(0) && cmp(key, keys(0)) < 0)

    /** key must be OWNED (cloned if buffer-backed) */
    def offer(sim: Double, key: Any): Unit = {
      if (size < k) {
        sims(size) = sim; keys(size) = key; size += 1
        var c = size - 1
        while (c > 0 && worse(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
      } else if (sim > sims(0) || (sim == sims(0) && cmp(key, keys(0)) < 0)) {
        sims(0) = sim; keys(0) = key
        var p = 0
        var done = false
        while (!done) {
          val l = 2 * p + 1; val r = l + 1
          var w = p
          if (l < size && worse(l, w)) w = l
          if (r < size && worse(r, w)) w = r
          if (w == p) done = true else { swap(p, w); p = w }
        }
      }
    }

    /** indices of kept elements, best-first (sim desc, key asc) */
    def sortedIdx(): Array[Int] = {
      val idx = Array.range(0, size)
      idx.sortWith { (a, b) =>
        sims(a) > sims(b) || (sims(a) == sims(b) && cmp(keys(a), keys(b)) < 0)
      }
    }
  }

  private[functions] def keyComparator(dt: DataType): (Any, Any) => Int = dt match {
    case StringType => (a, b) =>
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    case LongType => (a, b) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a, b) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => (a, b) =>
      java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => (a, b) =>
      java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case other => throw new IllegalArgumentException(
      s"graft_top_k_key: unsupported key type ${other.catalogString}")
  }

  /** `graft_top_k_key(sim, key, k)` — [[TopKAgg]] with the id slot
    * widened to ANY integral or STRING key, output
    * `array<struct<cand_key:<keyType>, sim:double>>` with the key in
    * its ORIGINAL type (no BIGINT widening). Built for the exact-quota
    * samplers: corpus keys are URLs/content hashes as often as longs,
    * and a quota sampler that can't key on them sends users back to
    * the per-stratum window sort it exists to replace. String tie
    * order is binary (UTF8String memcmp — identical to DuckDB's
    * default collation), so `ORDER BY sim DESC, key` states the same
    * order in both engines.
    */
  case class TopKKeyAgg(
      sim: Expression,
      key: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKKeyHeap] {
    require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")
    override def prettyName: String = "graft_top_k_key"
    override def children: Seq[Expression] = Seq(sim, key)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("cand_key", key.dataType, nullable = false),
      StructField("sim", DoubleType, nullable = false))), containsNull = false)

    private lazy val isString = key.dataType == StringType

    override def checkInputDataTypes(): TypeCheckResult = {
      val simOk = sim.dataType match {
        case DoubleType | FloatType => true
        case _ => false
      }
      val keyOk = key.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }
      if (!simOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: sim must be double/float, got ${sim.dataType.catalogString}")
      else if (!keyOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: key must be integral or string, got " +
          s"${key.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    @transient private lazy val cmp = keyComparator(key.dataType)

    private def simAsDouble(v: Any): Double = v match {
      case d: Double => d
      case f: Float => f.toDouble
      case other => other.toString.toDouble
    }

    override def createAggregationBuffer(): TopKKeyHeap = new TopKKeyHeap(k, cmp)

    override def update(buf: TopKKeyHeap, input: InternalRow): TopKKeyHeap = {
      val s = sim.eval(input)
      val kv = key.eval(input)
      // null sim or key never ranks (same contract as graft_top_k),
      // and neither does NaN (`sd == sd` — ±Infinity still ranks):
      // beyond matching graft_top_k's deliberate window deviation,
      // this is heap soundness — every NaN comparison is false in
      // Java, so a NaN admitted while the heap is FILLING would be
      // permanently un-evictable (it never sifts to the root) and
      // could surface in the output in an arbitrary position. Spark's
      // total-order `>` filters upstream do NOT stop NaN (GreaterThan
      // puts NaN above every double — see ProbeMatches), so the
      // aggregate enforces the contract for every caller itself.
      if (s != null && kv != null) {
        val sd = simAsDouble(s)
        // compare FIRST with the (possibly buffer-backed) key, clone
        // only when the heap will actually retain it
        if (sd == sd && buf.accepts(sd, kv)) {
          val owned =
            if (isString)
              kv.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone()
            else kv
          buf.offer(sd, owned)
        }
      }
      buf
    }

    override def merge(buf: TopKKeyHeap, other: TopKKeyHeap): TopKKeyHeap = {
      var i = 0
      while (i < other.size) { buf.offer(other.sims(i), other.keys(i)); i += 1 }
      buf
    }

    override def eval(buf: TopKKeyHeap): Any = {
      val idx = buf.sortedIdx()
      val rows = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) {
        rows(i) = InternalRow(buf.keys(idx(i)), buf.sims(idx(i)))
        i += 1
      }
      new GenericArrayData(rows)
    }

    private def keyToLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }

    private def longToKey(l: Long): Any = key.dataType match {
      case LongType => l
      case IntegerType => l.toInt
      case ShortType => l.toShort
      case ByteType => l.toByte
    }

    override def serialize(buf: TopKKeyHeap): Array[Byte] = {
      if (isString) {
        var bytes = 8
        var i = 0
        while (i < buf.size) {
          bytes += 12 + buf.keys(i)
            .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].numBytes()
          i += 1
        }
        val bb = java.nio.ByteBuffer.allocate(bytes)
        bb.putInt(buf.k).putInt(buf.size)
        i = 0
        while (i < buf.size) {
          val kb = buf.keys(i)
            .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
          bb.putDouble(buf.sims(i)).putInt(kb.length).put(kb)
          i += 1
        }
        bb.array()
      } else {
        val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.size)
        bb.putInt(buf.k).putInt(buf.size)
        var i = 0
        while (i < buf.size) {
          bb.putDouble(buf.sims(i)).putLong(keyToLong(buf.keys(i)))
          i += 1
        }
        bb.array()
      }
    }

    override def deserialize(bytes: Array[Byte]): TopKKeyHeap = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val heap = new TopKKeyHeap(bb.getInt(), cmp)
      val n = bb.getInt()
      var i = 0
      while (i < n) {
        val s = bb.getDouble()
        val kv: Any =
          if (isString) {
            val len = bb.getInt()
            val kb = new Array[Byte](len)
            bb.get(kb)
            org.apache.spark.unsafe.types.UTF8String.fromBytes(kb)
          } else longToKey(bb.getLong())
        heap.offer(s, kv)
        i += 1
      }
      heap
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): TopKKeyAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKKeyAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(sim = newChildren(0), key = newChildren(1))
  }

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[TopKAgg]("graft_top_k", 3)(e =>
      TopKAgg(e(0), e(1), SqlFunction.intArg("graft_top_k", "k", e(2))).toAggregateExpression()),
    SqlFunction.of[TopKKeyAgg]("graft_top_k_key", 3)(e =>
      TopKKeyAgg(e(0), e(1), SqlFunction.intArg("graft_top_k_key", "k", e(2)))
        .toAggregateExpression()))

  def topK(sim: Column, id: Column, k: Int): Column =
    column(TopKAgg(expression(sim), expression(id), k).toAggregateExpression())

  def topKKey(sim: Column, key: Column, k: Int): Column =
    column(TopKKeyAgg(expression(sim), expression(key), k).toAggregateExpression())
}
