package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Compiled kernel for word-n-gram hashing (benchmark
  * decontamination's hot loop). Computes, for one text value:
  * whitespace words → 30-bit md5-derived word values → the packed
  * 60-bit double polynomial hash of every n-gram, using a TRUE rolling
  * update (subtract the leaving word's P^{n-1} term, shift, add the
  * entering word) — O(words) total instead of the O(words × n)
  * re-fold of the expression form it replaces, with zero per-element
  * interpreter dispatch.
  *
  * The math is EXACTLY Decontamination's documented construction
  * (h1·2^30 + h2 with P1=31 mod M1, P2=37 mod M2 over per-word
  * 30-bit values), so the DuckDB oracle's fresh-fold replay matches
  * bit-for-bit: a polynomial hash is the same number whether computed
  * fresh or rolled. All intermediates stay under 2^61 — exact in
  * signed 64-bit.
  */
object GramHashKernel {
  private val M1 = 1073741789L
  private val M2 = 1073741783L
  private val P1 = 31L
  private val P2 = 37L
  private val Mask30 = (1L << 30) - 1

  // MessageDigest is not thread-safe; one per task thread.
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def powMod(p: Long, e: Int, m: Long): Long = {
    var r = 1L; var i = 0
    while (i < e) { r = r * p % m; i += 1 } // p, r < 2^30: product exact
    r
  }

  /** Word values: first 8 hex chars of md5(word) (= first 4 digest
    * bytes, big-endian) masked to 30 bits — identical to
    * `conv(substring(md5(w),1,8),16,10) & (2^30-1)`.
    */
  private def wordVals(text: UTF8String): Array[Long] = {
    // Spark's split(str, regex) is toString.split(regex, -1) — leading
    // and trailing empty words are kept, exactly as the HOF form saw.
    val words = text.toString.split("\\s+", -1)
    val md = digest.get()
    val vals = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(StandardCharsets.UTF_8))
      vals(i) = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & Mask30
      i += 1
    }
    vals
  }

  /** Packed 60-bit hashes of all word n-grams; texts shorter than n
    * words fold to ONE whole-text gram (the degenerate-doc convention
    * shared with Dedup.shingles).
    */
  def hashes(text: UTF8String, n: Int): ArrayData = {
    val vals = wordVals(text)
    val len = vals.length
    if (len < n) {
      var h1 = 0L; var h2 = 0L; var j = 0
      while (j < len) {
        h1 = (h1 * P1 + vals(j)) % M1
        h2 = (h2 * P2 + vals(j)) % M2
        j += 1
      }
      return new GenericArrayData(Array(h1 * (1L << 30) + h2))
    }
    val out = new Array[Long](len - n + 1)
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < n) {
      h1 = (h1 * P1 + vals(j)) % M1
      h2 = (h2 * P2 + vals(j)) % M2
      j += 1
    }
    out(0) = h1 * (1L << 30) + h2
    // rolling update: h' = ((h − v_out·P^{n−1}) · P + v_in) mod M.
    // v_out·pw ≤ 2^60; the +M before the difference keeps it positive.
    val pw1 = powMod(P1, n - 1, M1)
    val pw2 = powMod(P2, n - 1, M2)
    var i = 1
    while (i <= len - n) {
      h1 = ((h1 - vals(i - 1) * pw1 % M1 + M1) % M1 * P1 + vals(i + n - 1)) % M1
      h2 = ((h2 - vals(i - 1) * pw2 % M2 + M2) % M2 * P2 + vals(i + n - 1)) % M2
      out(i) = h1 * (1L << 30) + h2
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `WordNgramHashes(text, n)`: array<long> of the text's packed
  * 60-bit word-n-gram hashes. Codegen emits one static kernel call
  * per row — the expression stays inside whole-stage codegen and the
  * loop runs as compiled JVM code.
  */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngram_hashes expects a string column, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    GramHashKernel.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashKernel.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

object GramHashFunctions {
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[WordNgramHashes]("graft_word_ngram_hashes", 2)(e =>
      WordNgramHashes(e(0), SqlFunction.intArg("graft_word_ngram_hashes", "n", e(1)))))

  def wordNgramHashes(text: Column, n: Int): Column =
    column(WordNgramHashes(expression(text), n))
}

/** Compiled kernel for md5 word-n-gram identities (exact-substring
  * dedup, SubstringDedup). One md5 per W-token window of the text,
  * emitted as two longs (digest bytes 0-7 / 8-15, big-endian) — the
  * repo's md5-as-exact-identity convention (Dedup.exactSummary) at
  * gram granularity, 16 bytes per window through any exchange instead
  * of the gram text. The gram string is materialized once per window
  * into a reused byte buffer; no per-window String allocation.
  */
object GramMd5Kernel {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** array<struct<hi, lo>> of md5(space-joined W-gram) for every
    * window; texts with fewer than n words yield an empty array (no
    * window exists — the oracle's `len(toks) >= n` guard).
    */
  def gramMd5(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val md = digest.get()
    val wordBytes = new Array[Array[Byte]](words.length)
    var i = 0
    while (i < words.length) {
      wordBytes(i) = words(i).getBytes(StandardCharsets.UTF_8)
      i += 1
    }
    val out = new Array[Any](words.length - n + 1)
    var p = 0
    while (p < out.length) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wordBytes(p + j))
        j += 1
      }
      val d = md.digest()
      var hi = 0L; var lo = 0L
      var k = 0
      while (k < 8) {
        hi = (hi << 8) | (d(k) & 0xffL)
        lo = (lo << 8) | (d(k + 8) & 0xffL)
        k += 1
      }
      out(p) = org.apache.spark.sql.catalyst.InternalRow(hi, lo)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** `WordGramMd5(text, n)`: array<struct<hi, lo>> md5 identity per
  * W-token window (see GramMd5Kernel).
  */
case class WordGramMd5(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_word_gram_md5 expects a string column, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("hi", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lo", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_gram_md5"
  override protected def nullSafeEval(input: Any): Any =
    GramMd5Kernel.gramMd5(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramMd5Kernel.gramMd5($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordGramMd5 =
    copy(child = newChild)
}

object GramMd5Functions {
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[WordGramMd5]("graft_word_gram_md5", 2)(e =>
      WordGramMd5(e(0), SqlFunction.intArg("graft_word_gram_md5", "n", e(1)))))

  def wordGramMd5(text: Column, n: Int): Column =
    column(WordGramMd5(expression(text), n))
}
