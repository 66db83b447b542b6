package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md
  * §7.5): tokenization, quality stats, heuristic language ID, document
  * fingerprinting. All are compositions of built-in (codegen-able)
  * functions — no UDFs — so they inline into whole-stage codegen and
  * scale linearly with the scan at 100 TB.
  *
  * Every formula here has an exact DuckDB mirror (see
  * graft.queries.Queries oracle SQL) so the driver's oracle can
  * hash-compare results; that forces integer/deterministic math
  * (md5-derived word values, integer counts) rather than
  * platform-dependent float ops.
  */
object TextAnalysis {

  /** 2^31-safe polynomial-hash modulus (large prime). */
  val FingerprintMod = 1000000007L

  /** Whitespace tokenization; the shared definition for all word ops. */
  def words(text: Column): Column = split(text, "\\s+")

  def wordCount(text: Column): Column = size(words(text))

  def uniqueWordCount(text: Column): Column = size(array_distinct(words(text)))

  /** BPE-ish token count: letter runs, digit runs, single punctuation.
    * (RE2/Java-compatible pattern so the oracle matches.)
    */
  val TokenPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0)))

  /** Deterministic 32-bit word value from md5 — the shared "hash
    * function" for fingerprinting/simhash, chosen because md5 is
    * identical across engines (oracle-replayable).
    */
  def wordValue(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long")

  /** Rolling polynomial document fingerprint:
    * h_i = (h_{i-1} * 31 + v(w_i)) mod P, h_0 = 0.
    * Order-sensitive (unlike a bag-of-words hash), so reordered
    * near-duplicates fingerprint differently. Evaluated by the
    * compiled TextKernels.fingerprint kernel; the test tree's
    * `ReferenceForms.fingerprintExpr` keeps the HOF fold the oracle
    * replays (OperatorSpec asserts agreement).
    */
  def fingerprint(text: Column): Column =
    graft.functions.TextKernelFunctions.fingerprint(text)

  /** Language markers: tiny per-language stopword lists. A real
    * pipeline swaps in character-n-gram profiles; the operator shape
    * (score per language → argmax with deterministic tie-break) is
    * what matters at scale.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "fr" -> Seq("le", "la", "et", "de"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "y", "de"),
  )

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(words(text), w => w.isin(markers.map(m => lit(m): Any): _*)))

  /** Quality stats used for corpus filtering: all integer-valued and
    * engine-portable.
    */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0)))

  /** All five per-document quality statistics in one compiled pass
    * (TextKernels.textStats): n_words, n_uniq, n_tokens, n_punct,
    * longest_word. The column functions above are the executable
    * spec the kernel is agreement-tested against (OperatorSpec;
    * adversarial strings in PropertySpec) — and the form the DuckDB
    * oracle replays. Prefer this for full-stat scans: the five
    * interpreted HOF/regex expressions cost ~5 passes per document
    * and resist parallel speedup (allocation-bound), while the kernel
    * is one JIT'd loop inside whole-stage codegen.
    */
  def textStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.TextKernelFunctions.textStats(col(textCol))
    // rebalance before the per-doc kernel: a single-row-group corpus
    // file scans as one task (no-op on multi-split tables)
    Dedup.rebalance(docs.select(col(idCol), col(textCol)), Seq(col(idCol)))
      .select(col(idCol), st.as("st"))
      .select(col(idCol),
        col("st.n_words").as("n_words"),
        col("st.n_uniq").as("n_uniq"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_punct").as("n_punct"),
        col("st.longest_word").as("longest_word"))
  }

  def longestWordLen(text: Column): Column =
    array_max(transform(words(text), w => length(w)))

  /** Per-document distinctive terms by TF-IDF.
    *
    * Shape (all shuffle-minimal):
    *   1. explode words → partial-aggregated (doc, word) term counts
    *      (one wide shuffle keyed on the pair);
    *   2. document frequency = groupBy(word) over the (doc, word) table
    *      — a second, vocabulary-sized shuffle;
    *   3. tf joins df on word (both sides already word-keyed), score =
    *      tf · ln(N/df), top-k per doc via a PARTITIONED window.
    *
    * The rank orders by the score QUANTIZED to micro-units (floor of
    * score·1e6 as BIGINT), ties broken by (tf desc, word asc). Raw
    * double ordering is not oracle-safe: two mathematically equal
    * scores from different (tf, df) pairs — e.g. 2·ln(N/50) vs
    * ln(N²/2500) — can differ in the last ulp between engines and flip
    * the rank; after quantization such near-ties collapse to the same
    * integer and the deterministic tiebreak decides identically
    * everywhere.
    */
  /** Session conf: max distinct words drawn through the bounded
    * collect that gates the dfreq broadcast join-back (default 2²⁰;
    * bytes are capped at BoundedCollect.GateBytes), so the driver
    * transfer is bounded whatever the vocabulary turns out to be.
    */
  val TfidfBroadcastWordsKey = "spark.graft.tfidf.broadcastWords"
  private val TfidfBroadcastWordsDefault = 1 << 20

  def topTermsByTfidf(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val n = docs.count()
    // term frequencies come from the compiled per-doc kernel: only
    // DISTINCT (doc, term) pairs are ever exploded — the word-
    // OCCURRENCE shuffle of the explode+groupBy form is gone (at any
    // corpus size the occurrences never leave their scan task).
    // OperatorSpec asserts kernel/grouped-form agreement.
    val tf = Dedup.rebalance(docs.select(col(idCol).as("doc_id"), col(textCol).as("t")))
      .select(col("doc_id"),
        explode(graft.functions.TextKernelFunctions.wordTf(col("t"))).as("wt"))
      .select(col("doc_id"), col("wt.word").as("word"), col("wt.tf").as("tf"))
    // document frequency by groupBy(word), NOT a count window over
    // the word partition: the window form re-shuffled the ENTIRE
    // (doc, word, tf) stream keyed on the word — a vocabulary-sized
    // key space (guide §2.5's too-few-distinct-values trap) that is
    // Zipf-skewed on any real corpus, where the groupBy's map-side
    // partial aggregation condenses each task's hot words to one row
    // before the exchange (≤ tasks × vocab rows, corpus-size-
    // independent, hot keys flattened).
    //
    // dfreq RECOMPUTES the kernel scan rather than caching tf: the
    // r18 measurement ran all three sharings at sf10 — window-dfreq
    // 6.69 s / localCheckpoint(tf)+join 5.76 s / recompute+join
    // 6.45 s isolated — but the checkpoint holds a corpus-sized tf in
    // the block manager until the frame is GC'd, and that residue
    // measurably taxed the NEXT query in a bench sequence (q66
    // 7.7 → 12 s). Guide §5: cache only when recomputation costs more
    // than the memory pressure — at 100 TB a corpus-scale cached
    // intermediate is the OOM/spill shape, while this second scan
    // prunes to the text column alone (doc_id is unused by dfreq).
    val dfr = tf.groupBy("word").agg(count(lit(1)).as("dfreq"))
      .select(col("word").as("__w"), col("dfreq"))
    // join-back gate (the quota sampler's): the vocabulary is
    // data-dependent, so the broadcast decision is drawn through
    // BoundedCollect.joinBack — within the caps the dfreq rows embed
    // as a broadcast local relation and tf never shuffles at all; past
    // them the planner sizes the shuffle join of dfreq itself, reading
    // the same RDD the gate ran (its map stage is skipped, not
    // recomputed; no cache is kept), and AQE's skew-join splitting
    // handles hot-word partitions. Null-safe word equality: the window form
    // groups null words into a partition like any other value, so the
    // join-back must match them too, not drop them.
    val maxWords = graft.core.SessionConf.nonNegativeInt(
      spark, TfidfBroadcastWordsKey, TfidfBroadcastWordsDefault)
    val joined = BoundedCollect.joinBack(tf, dfr, col("word") <=> col("__w"), "inner", maxWords)
    val qscore = floor(col("tf") * log(lit(n.toDouble) / col("dfreq")) * lit(1e6))
      .cast("long")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("qscore").desc, col("tf").desc, col("word").asc)
    joined.drop("__w")
      .withColumn("qscore", qscore)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("word"),
        col("tf"), col("dfreq"),
        (col("tf") * log(lit(n.toDouble) / col("dfreq"))).as("tfidf"))
  }
}
