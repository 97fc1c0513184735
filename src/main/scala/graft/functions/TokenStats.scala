package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every token-derived quality-gate signal in ONE codegen-capable pass:
  * `struct(n_tokens, sum_tok_len, n_stop, n_punct, n_chars)` (all LONG,
  * matching the casts the declarative gate applied).
  *
  * Why native: the declarative formulation stages
  * `filter(split(lower(trim(text)), ws))` into a token-array column and
  * derives the counts from it — but Spark's lambda array functions are
  * CodegenFallback, so (a) the staging projection runs OUTSIDE
  * whole-stage codegen, and (b) when predicate pushdown substitutes the
  * staged aliases into a gate FILTER condition, nothing de-duplicates
  * the subtrees and the regex split re-runs once per referencing branch
  * — the pinned t19 8x residual (BASELINE round-14). This expression is
  * a plain UnaryExpression with doGenCode, so the gate predicate joins
  * WSCG, where common-subexpression elimination evaluates it once, and
  * no token ARRAY is ever materialized — just five longs. At 100 TB the
  * gate is pure scan-side CPU; removing 8 regex splits + array allocs
  * per row is a direct linear win.
  *
  * Exact parity with the declarative path (spec-pinned property):
  *  - tokens: `lower(trim(text))` split on ASCII whitespace runs
  *    `[ \t\n\x0B\f\r]+` with empties dropped. Lowercasing uses
  *    UTF8String.toLowerCase — the SAME call Spark's `lower` makes —
  *    BEFORE counting, because full-Unicode case mapping can change the
  *    codepoint count (U+0130 lowercases to 2 codepoints) and
  *    `sum_tok_len` must match `length()` of the lowered tokens.
  *  - n_stop: tokens byte-equal to one of the (ASCII, lowercase)
  *    stopwords.
  *  - n_punct: chars of RAW text in [.,!?;:] (the declarative twin
  *    regex-deletes the complement class from the unlowered text).
  *  - n_chars: codepoints of RAW text (UTF-8 lead bytes).
  */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_stats requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  override def prettyName: String = TokenStats.name

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)

  @transient private lazy val stopBytes: Array[Array[Byte]] =
    TokenStatsImpl.toStopBytes(stopwords)

  override def nullSafeEval(input: Any): Any =
    TokenStatsImpl.compute(input.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stops = ctx.addReferenceObj("stopBytes", stopBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.TokenStatsImpl.compute($input, $stops);")
  }
}

object TokenStatsImpl {

  private def isSpace(b: Byte): Boolean = SimHash64.isSpace(b)

  def toStopBytes(words: Seq[String]): Array[Array[Byte]] = {
    require(words.forall(w => w.nonEmpty && w.forall(c => c < 128 && !Character.isUpperCase(c))),
      s"stopwords must be non-empty lowercase ASCII (byte-compared against lowered tokens): $words")
    words.map(_.getBytes("UTF-8")).toArray
  }

  /** One pass over the lowered bytes (tokens) + one over the raw bytes
    * (punct/chars). ASCII whitespace bytes never appear inside UTF-8
    * multibyte sequences, so byte-walking the separators is exact. */
  def compute(s: UTF8String, stops: Array[Array[Byte]]): GenericInternalRow = {
    // trim() strips only 0x20 — Spark's StringTrim — and toLowerCase is
    // the exact call behind `lower`; both are cheap single allocations
    val low = s.trim().toLowerCase()
    val n = low.numBytes()
    var nTokens = 0L
    var sumTokLen = 0L
    var nStop = 0L
    var p = 0
    while (p < n) {
      while (p < n && isSpace(low.getByte(p))) p += 1
      if (p < n) {
        val start = p
        var chars = 0L
        while (p < n && !isSpace(low.getByte(p))) {
          if ((low.getByte(p) & 0xC0) != 0x80) chars += 1
          p += 1
        }
        nTokens += 1
        sumTokLen += chars
        val tokLen = p - start
        var i = 0
        var hit = false
        while (!hit && i < stops.length) {
          val w = stops(i)
          if (w.length == tokLen) {
            var j = 0
            while (j < tokLen && low.getByte(start + j) == w(j)) j += 1
            hit = j == tokLen
          }
          i += 1
        }
        if (hit) nStop += 1
      }
    }
    var nPunct = 0L
    var nChars = 0L
    val m = s.numBytes()
    var q = 0
    while (q < m) {
      val b = s.getByte(q)
      if ((b & 0xC0) != 0x80) nChars += 1
      if (b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':')
        nPunct += 1
      q += 1
    }
    new GenericInternalRow(
      Array[Any](nTokens, sumTokLen, nStop, nPunct, nChars))
  }
}

object TokenStats {
  val name = "token_stats"

  /** The English stopword set the quality gates score against —
    * TextOps.langStopwords("en"); the SQL form and Native.tokenStats bind it. */
  def enStopwords: Seq[String] =
    graft.text.TextOps.langStopwords.toMap.apply("en")

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => TokenStats(a, enStopwords)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
