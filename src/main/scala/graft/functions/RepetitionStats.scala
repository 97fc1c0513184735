package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All four Gopher-style repetition counters in ONE native pass:
  * `struct(total_line_chars, dup_line_chars, n_tokens, top_bigram_count)`.
  *
  * The declarative formulations (nested higher-order lambdas, or explode +
  * two re-aggregations) either re-evaluate the token split per element
  * (Catalyst inlines the projection into every lambda — measured 30 s at
  * sf0.1) or shuffle one row per line AND one per bigram (measured 6 s).
  * This expression walks the bytes once, counts line/bigram occurrences in
  * two small per-row hash maps, and emits four ints — zero explode, zero
  * shuffle, ~1 s for the same scan. The heavy lifting lives in
  * `RepetitionStatsImpl.compute`, which generated code calls directly (a
  * per-row hash map is driver-logic-shaped; inlining it into codegen buys
  * nothing).
  *
  * Tokenization matches TextOps.tokens (ASCII whitespace runs) and lines
  * split on '\n' with empties dropped, so the DuckDB oracle replicates
  * both exactly.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("total_line_chars", IntegerType, nullable = false),
    StructField("dup_line_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("top_bigram", IntegerType, nullable = false)))

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    RepetitionStatsImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.RepetitionStatsImpl.compute($input);")
}

object RepetitionStatsImpl {

  private def isSpace(b: Byte): Boolean = SimHash64.isSpace(b)

  /** One pass over the bytes; two open-addressed (hash → count) maps. */
  def compute(s: UTF8String): InternalRow = {
    val n = s.numBytes()

    // --- lines: hash + per-line char length (UTF8 bytes ≥ chars; the
    // oracle compares fractions of CHARS, so count codepoints not bytes)
    val lineCounts = new java.util.HashMap[Long, Array[Int]]()
    var totalChars = 0
    var p = 0
    while (p < n) {
      var h = 0L
      var chars = 0
      val start = p
      while (p < n && s.getByte(p) != '\n') {
        val b = s.getByte(p)
        h = h * 131L + b
        // count UTF-8 codepoints: skip continuation bytes (10xxxxxx)
        if ((b & 0xC0) != 0x80) chars += 1
        p += 1
      }
      if (p > start && chars > 0) {
        totalChars += chars
        val e = lineCounts.get(h)
        if (e == null) lineCounts.put(h, Array(1, chars))
        else e(0) += 1
      }
      if (p < n) p += 1 // skip the newline
    }
    var dupChars = 0
    val it = lineCounts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e(0) > 1) dupChars += e(0) * e(1)
    }

    // --- tokens + bigram counts (token hash pairs)
    val bigramCounts = new java.util.HashMap[Long, Array[Int]]()
    var nTokens = 0
    var prev = 0L
    var havePrev = false
    p = 0
    while (p < n) {
      while (p < n && isSpace(s.getByte(p))) p += 1
      if (p < n) {
        var h = 0L
        while (p < n && !isSpace(s.getByte(p))) {
          // ASCII-lowercase inline: tokens compare case-folded (the
          // declarative twin runs over lower(trim(text)))
          var b = s.getByte(p)
          if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
          h = h * 131L + b; p += 1
        }
        h = MinHashSig.fmix64(h)
        nTokens += 1
        if (havePrev) {
          val bh = MinHashSig.fmix64(prev ^ (h * 0x9E3779B97F4A7C15L))
          val e = bigramCounts.get(bh)
          if (e == null) bigramCounts.put(bh, Array(1))
          else e(0) += 1
        }
        prev = h
        havePrev = true
      }
    }
    var top = 0
    val bit = bigramCounts.values().iterator()
    while (bit.hasNext) { val c = bit.next()(0); if (c > top) top = c }

    new GenericInternalRow(
      Array[Any](totalChars, dupChars, nTokens, top))
  }
}

object RepetitionStats {
  val name = "repetition_stats"

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => RepetitionStats(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
