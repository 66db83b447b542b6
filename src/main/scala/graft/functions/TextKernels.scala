package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Compiled kernels for the dedup operators' hot text loops —
  * minhash signatures, shingle hash sets, char n-gram sets, simhash.
  * Each is the byte-identical compiled form of a documented
  * HOF-expression construction (kept in the test tree's
  * `ReferenceForms` as executable specifications; OperatorSpec asserts
  * agreement),
  * which is also why the DuckDB oracles keep matching: the math is
  * unchanged, only the evaluation strategy moves from per-element
  * interpreted lambda dispatch to one JIT'd loop per row.
  *
  * Shared conventions (Dedup.scala): words = text.split("\\s+", -1)
  * (Spark's split semantics); shingles = 3-word space-joined grams,
  * degenerate texts (<3 words) shingling to [text]; hashes come from
  * md5 hex — a = chars 1-15 (60 bits), b = chars 17-30 (56 bits);
  * hash function j is (a + j·b) & (2^60−1), the Kirsch–Mitzenmacher
  * double-hashing family.
  */
object TextKernels {
  val Mask60: Long = (1L << 60) - 1

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def shingleStrings(text: UTF8String): Array[String] = {
    val words = text.toString.split("\\s+", -1)
    if (words.length < 3) Array(text.toString)
    else {
      val out = new Array[String](words.length - 2)
      var i = 0
      while (i < out.length) {
        out(i) = words(i) + " " + words(i + 1) + " " + words(i + 2)
        i += 1
      }
      out
    }
  }

  /** (a, b) of one gram: md5 hex chars 1-15 and 17-30 as longs —
    * computed straight from the digest bytes (char 2k−1..2k = byte
    * k−1), no hex string.
    */
  private def hashA(d: Array[Byte]): Long = {
    var a = 0L; var i = 0
    while (i < 7) { a = (a << 8) | (d(i) & 0xffL); i += 1 }
    (a << 4) | ((d(7) >> 4) & 0xfL)
  }
  private def hashB(d: Array[Byte]): Long = {
    var b = 0L; var i = 8
    while (i < 15) { b = (b << 8) | (d(i) & 0xffL); i += 1 }
    b
  }

  /** k-minhash signature over the text's shingles: one md5 per
    * shingle, all k mins in a single pass.
    */
  def minhashSignature(text: UTF8String, k: Int): ArrayData = {
    val md = digest.get()
    val grams = shingleStrings(text)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var gi = 0
    while (gi < grams.length) {
      md.reset()
      val d = md.digest(grams(gi).getBytes(StandardCharsets.UTF_8))
      val a = hashA(d); val b = hashB(d)
      var j = 0
      while (j < k) {
        val v = (a + j * b) & Mask60
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      gi += 1
    }
    new GenericArrayData(mins)
  }

  /** 60-bit hashes of the text's DISTINCT shingles (distinct on the
    * gram STRING, matching `array_distinct(shingles(t))` + per-element
    * md5 — duplicate hashes from distinct colliding strings are kept,
    * as that form kept them).
    */
  def shingleHashes(text: UTF8String): ArrayData = {
    val md = digest.get()
    val grams = shingleStrings(text)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < grams.length) { seen.add(grams(i)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) {
      md.reset()
      out(i) = hashA(md.digest(it.next().getBytes(StandardCharsets.UTF_8)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct char n-grams (first-occurrence order, the
    * array_distinct convention); texts shorter than n chars collapse
    * to [text]. Substrings are taken with UTF8String.substringSQL —
    * code-point semantics, byte-identical to the `substr` column
    * function.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    if (len < n)
      return new GenericArrayData(Array[Any](text))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= len - n + 1) {
      seen.add(text.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(seen.toArray())
  }

  /** Rolling polynomial document fingerprint — the compiled form of
    * TextAnalysis.fingerprint: h = (h·31 + wordValue) mod 1e9+7 over
    * ALL words (empties included, as the HOF fold saw them).
    */
  def fingerprint(text: UTF8String): Long = {
    val md = digest.get()
    val words = text.toString.split("\\s+", -1)
    var h = 0L; var wi = 0
    while (wi < words.length) {
      md.reset()
      val d = md.digest(words(wi).getBytes(StandardCharsets.UTF_8))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h = (h * 31L + v) % 1000000007L
      wi += 1
    }
    h
  }

  /** Word-repetition profile — the compiled form of
    * Scrubbing.repetitionStats' two groupBys: per-doc word counts in
    * one hash-map pass. trim() is space-only (UTF8String.trim, the
    * SQL `trim` the HOF form used); empty tokens are dropped.
    * Returns (n_words, top_count).
    */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val words = text.trim().toString.split("\\s+", -1)
    val counts = new java.util.HashMap[String, Int]()
    var n = 0L; var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (!w.isEmpty) { counts.merge(w, 1, Integer.sum); n += 1 }
      wi += 1
    }
    var top = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next().toLong; if (c > top) top = c }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, top))
  }

  /** Per-document term frequencies — one hash-map pass, emitted as
    * (word, tf) pairs in first-occurrence order. Every split token
    * counts (empties included), exactly like
    * `explode(words(t))` + `groupBy(id, word).count()` — whose
    * occurrence-level shuffle this removes: only DISTINCT terms per
    * doc ever leave the scan task.
    */
  def wordTf(text: UTF8String): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    val counts = new java.util.LinkedHashMap[String, Long]()
    var wi = 0
    while (wi < words.length) {
      counts.merge(words(wi), 1L, (a, b) => a + b)
      wi += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The five q27 text statistics in one split + one code-point scan —
    * the compiled form of the five-expression HOF/regex projection in
    * graft.queries (which stays there as the executable spec;
    * OperatorSpec + PropertySpec assert agreement):
    *
    *   n_words      = size(split(text, "\\s+"))
    *   n_uniq       = size(array_distinct(split(text, "\\s+")))
    *   n_tokens     = regex matches of [a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]
    *   n_punct      = regex matches of [^a-zA-Z0-9\s]
    *   longest_word = array_max(transform(words, length))  (code points)
    *
    * The token/punct regexes are pure character classes, so the scan
    * reproduces them exactly: a token is a maximal same-class
    * [a-z]/[A-Z]/[0-9] run or one non-space-non-alnum code POINT
    * (Java regex matches classes per code point — a surrogate pair is
    * ONE punct), and \s is Java's ASCII [ \t\n\x0B\f\r].
    */
  def textStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val words = s.split("\\s+", -1)
    val uniq = new java.util.HashSet[String]()
    var longest = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      uniq.add(w)
      val cp = w.codePointCount(0, w.length).toLong
      if (cp > longest) longest = cp
      wi += 1
    }
    var nTokens = 0L
    var nPunct = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') {
        nTokens += 1; i += 1
        while (i < len && s.charAt(i) >= 'a' && s.charAt(i) <= 'z') i += 1
      } else if (c >= 'A' && c <= 'Z') {
        nTokens += 1; i += 1
        while (i < len && s.charAt(i) >= 'A' && s.charAt(i) <= 'Z') i += 1
      } else if (c >= '0' && c <= '9') {
        nTokens += 1; i += 1
        while (i < len && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      } else if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') {
        i += 1
      } else {
        nTokens += 1; nPunct += 1
        i += (if (Character.isHighSurrogate(c) && i + 1 < len &&
          Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words.length.toLong, uniq.size.toLong, nTokens, nPunct, longest))
  }

  /** 32-bit SimHash: per word, the 32-bit value is the first 8 md5
    * hex chars (= first 4 digest bytes); sketch bit i is set iff
    * 2·(count of words with bit i set) > word count — the Σ±1 > 0
    * identity from the HOF form.
    */
  def simhash(text: UTF8String): Long = {
    val md = digest.get()
    val words = text.toString.split("\\s+", -1)
    val counts = new Array[Int](32)
    var wi = 0
    while (wi < words.length) {
      md.reset()
      val d = md.digest(words(wi).getBytes(StandardCharsets.UTF_8))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var i = 0
      while (i < 32) { counts(i) += ((v >> i) & 1L).toInt; i += 1 }
      wi += 1
    }
    val n = words.length
    var sketch = 0L; var i = 0
    while (i < 32) {
      if (2L * counts(i) > n) sketch |= 1L << i
      i += 1
    }
    sketch
  }
}

private[functions] trait TextKernelExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${child.dataType.sql}")
}

/** `MinhashSignatureExpr(text, k)` → array<long> of the k minhashes. */
case class MinhashSignatureExpr(child: Expression, k: Int) extends TextKernelExpr {
  require(k >= 1 && k <= 64, "k must be in [1, 64]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhashSignature(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.minhashSignature($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

/** `ShingleHashesExpr(text)` → array<long> 60-bit distinct-shingle hashes. */
case class ShingleHashesExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** `CharNgramsExpr(text, n)` → array<string> distinct char n-grams. */
case class CharNgramsExpr(child: Expression, n: Int) extends TextKernelExpr {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_ngrams"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charNgrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charNgrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharNgramsExpr =
    copy(child = newChild)
}

/** `FingerprintExpr(text)` → long rolling polynomial fingerprint. */
case class FingerprintExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** `RepetitionStatsExpr(text)` → struct<n_words,top_count>. */
case class RepetitionStatsExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_words", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top_count", LongType, nullable = false)))
  override def prettyName: String = "graft_repetition_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

/** `WordTfExpr(text)` → array<struct<word,tf>> per-doc term counts. */
case class WordTfExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_tf"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordTf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordTf($c)")
  override protected def withNewChildInternal(newChild: Expression): WordTfExpr =
    copy(child = newChild)
}

/** `TextStatsExpr(text)` →
  * struct<n_words,n_uniq,n_tokens,n_punct,longest_word>. */
case class TextStatsExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_words", "n_uniq", "n_tokens", "n_punct", "longest_word").map(
      org.apache.spark.sql.types.StructField(_, LongType, nullable = false)))
  override def prettyName: String = "graft_text_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.textStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.textStats($c)")
  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

/** `SimHashExpr(text)` → long 32-bit simhash sketch. */
case class SimHashExpr(child: Expression) extends TextKernelExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** SQL entries + Column surface for the text kernels. */
object TextKernelFunctions {
  import org.apache.spark.sql.Column

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[MinhashSignatureExpr]("graft_minhash_signature", 2)(e =>
      MinhashSignatureExpr(e(0), SqlFunction.intArg("graft_minhash_signature", "k", e(1)))),
    SqlFunction.of[ShingleHashesExpr]("graft_shingle_hashes", 1)(e => ShingleHashesExpr(e(0))),
    SqlFunction.of[CharNgramsExpr]("graft_char_ngrams", 2)(e =>
      CharNgramsExpr(e(0), SqlFunction.intArg("graft_char_ngrams", "n", e(1)))),
    SqlFunction.of[SimHashExpr]("graft_simhash", 1)(e => SimHashExpr(e(0))),
    SqlFunction.of[FingerprintExpr]("graft_fingerprint", 1)(e => FingerprintExpr(e(0))),
    SqlFunction.of[RepetitionStatsExpr]("graft_repetition_stats", 1)(e =>
      RepetitionStatsExpr(e(0))),
    SqlFunction.of[WordTfExpr]("graft_word_tf", 1)(e => WordTfExpr(e(0))),
    SqlFunction.of[TextStatsExpr]("graft_text_stats", 1)(e => TextStatsExpr(e(0))))

  def minhashSignature(text: Column, k: Int): Column =
    column(MinhashSignatureExpr(expression(text), k))
  def shingleHashes(text: Column): Column = column(ShingleHashesExpr(expression(text)))
  def charNgrams(text: Column, n: Int): Column = column(CharNgramsExpr(expression(text), n))
  def simhash(text: Column): Column = column(SimHashExpr(expression(text)))
  def fingerprint(text: Column): Column = column(FingerprintExpr(expression(text)))
  def repetitionStats(text: Column): Column = column(RepetitionStatsExpr(expression(text)))
  def wordTf(text: Column): Column = column(WordTfExpr(expression(text)))
  def textStats(text: Column): Column = column(TextStatsExpr(expression(text)))
}
