package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.SparkBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernel for the one JSON shape a telemetry pipeline runs
  * all day: pull ONE top-level scalar out of a small props blob and
  * use it as a number.
  *
  * `get_json_object(props, '$.k').cast("long")` is semantically right
  * but pays for full generality per row: a Jackson streaming parser
  * (object allocation, token events, char decoding), materializing
  * the matched value as a new UTF8String, then a second string→long
  * parse in the cast. `graft_json_long(props, 'k')` is one strict
  * validating pass over the UTF-8 bytes with no allocation on the
  * common hit path (integer value): the long parses straight off the
  * byte slice. Evaluation strategy only — the result contract is
  * pinned to the built-in composition by JsonKernelSpec over
  * adversarial and fuzzed inputs.
  *
  * Contract, reverse-engineered from the built-in composition
  * (probed behaviors in JsonKernelSpec; every rule below is what
  * GetJsonObject + non-ANSI cast actually does):
  *  - the ENTIRE top-level object must be strict JSON through its
  *    closing brace — a syntax error anywhere (leading-zero number,
  *    bad escape, missing comma, EOF), including inside nested
  *    values or after the matched key, nulls the result; trailing
  *    bytes after the object's close are ignored;
  *  - first occurrence of the key with a non-null value wins; a
  *    JSON-null match is skipped and scanning continues;
  *  - integer value → text parsed by the cast's own
  *    `UTF8String.toLong` (trims blanks, truncates at a '.', rejects
  *    exponents and overflow);
  *  - float value → Jackson re-renders it as `Double.toString`
  *    ("1e3" → "1000.0" → 1000, "1E-2" → "0.01" → 0, magnitudes ≥1e7
  *    render in E-notation which the cast rejects → null);
  *  - quoted value → escape-decoded, then the same cast parse
  *    ("42" → 42, " 1.5 " → 1, "x" → null);
  *  - booleans, objects, arrays → a match (scanning stops) whose
  *    cast is null; missing key, non-object root → null.
  */
object JsonKernels {

  /** Nesting cap mirroring Jackson's default StreamReadConstraints
    * max depth (1000): past it the built-in throws → null.
    */
  private val MaxDepth = 1000

  private val longWrapper = new ThreadLocal[UTF8String.LongWrapper] {
    override def initialValue(): UTF8String.LongWrapper = new UTF8String.LongWrapper
  }

  // candidate states for the pending result
  private final val Searching = 0 // no non-null match yet
  private final val FoundLong = 1 // matched, long value in hand
  private final val FoundNull = 2 // matched, value casts to null

  /** Top-level `key` of `json` as a boxed Long, or null. */
  def jsonLong(json: UTF8String, key: UTF8String): Any = {
    val b = json.getBytes
    val k = key.getBytes
    var i = ws(b, 0)
    if (i >= b.length || b(i) != '{') return null
    i = ws(b, i + 1)
    if (i < b.length && b(i) == '}') return null // empty object: key absent
    var state = Searching
    var found = 0L
    while (true) {
      if (i >= b.length || b(i) != '"') return null
      val ks = i + 1
      i = str(b, i)
      if (i < 0) return null
      val ke = i - 1
      i = ws(b, i)
      if (i >= b.length || b(i) != ':') return null
      i = ws(b, i + 1)
      if (i >= b.length) return null
      val vs = i
      i = value(b, i, 1)
      if (i < 0) return null
      if (state == Searching && keyEquals(b, ks, ke, k)) {
        val c = candidate(b, vs, i)
        if (c != Searching) {
          state = c
          if (c == FoundLong) found = longWrapper.get().value
        }
      }
      i = ws(b, i)
      if (i >= b.length) return null
      if (b(i) == '}') // object complete; trailing bytes are ignored
        return if (state == FoundLong) java.lang.Long.valueOf(found) else null
      if (b(i) != ',') return null
      i = ws(b, i + 1)
    }
    null // unreachable
  }

  private def ws(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length &&
      (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
    i
  }

  private def hex(c: Byte): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** `i` on the opening quote → index just past the closing quote,
    * or -1. Strict: escapes limited to the JSON eight + \uXXXX,
    * unescaped control bytes rejected — what Jackson's defaults do.
    */
  private def str(b: Array[Byte], from: Int): Int = {
    var i = from + 1
    while (i < b.length) {
      val c = b(i)
      if (c == '\\') {
        if (i + 1 >= b.length) return -1
        val e = b(i + 1)
        if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' ||
          e == 'n' || e == 'r' || e == 't') i += 2
        else if (e == 'u') {
          if (i + 6 > b.length || !hex(b(i + 2)) || !hex(b(i + 3)) ||
            !hex(b(i + 4)) || !hex(b(i + 5))) return -1
          i += 6
        } else return -1
      } else if (c == '"') return i + 1
      else if ((c & 0xff) < 0x20) return -1 // unescaped control char
      else i += 1
    }
    -1
  }

  /** `i` on the first byte of a number → index past it, or -1.
    * Strict JSON grammar: -? (0 | [1-9][0-9]*) (.[0-9]+)? ([eE][+-]?[0-9]+)?
    */
  private def num(b: Array[Byte], from: Int): Int = {
    var i = from
    if (i < b.length && b(i) == '-') i += 1
    if (i >= b.length || b(i) < '0' || b(i) > '9') return -1
    if (b(i) == '0') i += 1
    else while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
    if (i < b.length && b(i) == '.') {
      i += 1
      if (i >= b.length || b(i) < '0' || b(i) > '9') return -1
      while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
    }
    if (i < b.length && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      if (i < b.length && (b(i) == '+' || b(i) == '-')) i += 1
      if (i >= b.length || b(i) < '0' || b(i) > '9') return -1
      while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
    }
    i
  }

  private def lit(b: Array[Byte], from: Int, s: String): Int = {
    if (from + s.length > b.length) return -1
    var i = 0
    while (i < s.length) {
      if (b(from + i) != s.charAt(i)) return -1
      i += 1
    }
    from + s.length
  }

  /** `i` on the first byte of any value → index past it, or -1 —
    * a full strict validation (the built-in parses every token of
    * the document, so an error inside a value we don't care about
    * still nulls the result).
    */
  private def value(b: Array[Byte], from: Int, depth: Int): Int = {
    if (depth > MaxDepth) return -1
    val c = b(from)
    if (c == '"') str(b, from)
    else if (c == '{') {
      var i = ws(b, from + 1)
      if (i < b.length && b(i) == '}') return i + 1
      while (true) {
        if (i >= b.length || b(i) != '"') return -1
        i = str(b, i)
        if (i < 0) return -1
        i = ws(b, i)
        if (i >= b.length || b(i) != ':') return -1
        i = ws(b, i + 1)
        if (i >= b.length) return -1
        i = value(b, i, depth + 1)
        if (i < 0) return -1
        i = ws(b, i)
        if (i >= b.length) return -1
        if (b(i) == '}') return i + 1
        if (b(i) != ',') return -1
        i = ws(b, i + 1)
      }
      -1 // unreachable
    } else if (c == '[') {
      var i = ws(b, from + 1)
      if (i < b.length && b(i) == ']') return i + 1
      while (true) {
        if (i >= b.length) return -1
        i = value(b, i, depth + 1)
        if (i < 0) return -1
        i = ws(b, i)
        if (i >= b.length) return -1
        if (b(i) == ']') return i + 1
        if (b(i) != ',') return -1
        i = ws(b, i + 1)
      }
      -1 // unreachable
    } else if (c == 't') lit(b, from, "true")
    else if (c == 'f') lit(b, from, "false")
    else if (c == 'n') lit(b, from, "null")
    else num(b, from)
  }

  /** Raw (still-escaped) key bytes [s, e) vs the target key bytes.
    * Fast path is a byte compare; an escape routes through the
    * decoder so "k" matches key k, as Jackson's decoded field
    * name does.
    */
  private def keyEquals(b: Array[Byte], s: Int, e: Int, k: Array[Byte]): Boolean = {
    var hasEscape = false
    var i = s
    while (i < e && !hasEscape) { if (b(i) == '\\') hasEscape = true; i += 1 }
    if (!hasEscape) {
      if (e - s != k.length) return false
      i = 0
      while (i < k.length) { if (b(s + i) != k(i)) return false; i += 1 }
      true
    } else {
      java.util.Arrays.equals(
        decode(b, s, e).getBytes(java.nio.charset.StandardCharsets.UTF_8), k)
    }
  }

  /** Decode a validated JSON string body's escapes. */
  private def decode(b: Array[Byte], s: Int, e: Int): String = {
    val raw = new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\') {
        raw.charAt(i + 1) match {
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(raw.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2 // " \ /
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Interpret the validated value bytes [s, e) of a key match:
    * Searching (JSON null — keep scanning), FoundLong (long left in
    * the thread's wrapper), or FoundNull.
    */
  private def candidate(b: Array[Byte], s: Int, e: Int): Int = {
    val c = b(s)
    if (c == 'n') return Searching // JSON null: the built-in keeps scanning
    if (c == '{' || c == '[' || c == 't' || c == 'f') return FoundNull
    if (c == '"') {
      // quoted: decode escapes if present, then the cast's parse
      var esc = false
      var i = s + 1
      while (i < e - 1 && !esc) { if (b(i) == '\\') esc = true; i += 1 }
      val u =
        if (esc) UTF8String.fromString(decode(b, s + 1, e - 1))
        else UTF8String.fromBytes(b, s + 1, e - s - 2)
      return if (u.toLong(longWrapper.get())) FoundLong else FoundNull
    }
    // number: float tokens re-render through Double.toString exactly as
    // Jackson's copyCurrentEvent does before the cast sees the text
    var isFloat = false
    var i = s
    while (i < e && !isFloat) {
      if (b(i) == '.' || b(i) == 'e' || b(i) == 'E') isFloat = true
      i += 1
    }
    val u =
      if (isFloat)
        UTF8String.fromString(java.lang.Double.toString(
          java.lang.Double.parseDouble(new String(b, s, e - s,
            java.nio.charset.StandardCharsets.US_ASCII))))
      else UTF8String.fromBytes(b, s, e - s)
    if (u.toLong(longWrapper.get())) FoundLong else FoundNull
  }
}

/** `GraftJsonLongExpr(json, key)` → nullable long; key must be a
  * foldable string. Codegen delegates to the static kernel — the call
  * stays inside whole-stage codegen like the text kernels.
  */
case class GraftJsonLongExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_long"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string json column, got ${left.dataType.sql}")
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a foldable string key, got $right")
    else TypeCheckResult.TypeCheckSuccess
  override protected def nullSafeEval(json: Any, key: Any): Any =
    JsonKernels.jsonLong(json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, k) => {
      s"""Object r = graft.functions.JsonKernels.jsonLong($j, $k);
         |if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) r).longValue(); }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftJsonLongExpr =
    copy(left = newLeft, right = newRight)
}

/** SQL entry + Column surface (same pattern as TextKernelFunctions). */
object JsonKernelFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Literal

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction.of[GraftJsonLongExpr]("graft_json_long", 2)(e => GraftJsonLongExpr(e(0), e(1))))

  /** Top-level `key` of the json column as a nullable long. */
  def jsonLong(json: Column, key: String): Column =
    column(GraftJsonLongExpr(expression(json), Literal(key)))
}
