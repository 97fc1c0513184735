package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over whitespace tokens, in one native pass over the
  * string's bytes.
  *
  * Per token (maximal run of non-whitespace bytes): a polynomial hash +
  * murmur finalizer; each of the 64 fingerprint bits gets a +1/-1 vote
  * from the token hash's corresponding bit, and the sign of the total is
  * the bit — the classic Charikar construction.
  *
  * vs an aggregation-shaped formulation (explode tokens → 64
  * conditional SUMs): identical downstream semantics (chunk-join
  * candidates, Hamming verify), but this form is a NARROW MAP — the
  * explode row-blowup and the groupBy shuffle disappear; per-doc cost is
  * one pass over the bytes. A token-less string votes nothing and yields
  * 0L.
  *
  * Tokenization: ASCII whitespace (space, \\t, \\n, \\r, \\f, \\u000B) —
  * the byte-level twin of `TextOps.WhitespaceClass` (the explicit class
  * both the engine regexes and the DuckDB oracles spell out); callers
  * pass `lower(trim(text))` to match TextOps.tokens normalization.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    val counts = new Array[Int](64)
    var p = 0
    while (p < n) {
      while (p < n && SimHash64.isSpace(s.getByte(p))) p += 1
      if (p < n) {
        var h = 0L
        while (p < n && !SimHash64.isSpace(s.getByte(p))) {
          h = h * 131L + s.getByte(p); p += 1
        }
        h = MinHashSig.fmix64(h)
        var i = 0
        while (i < 64) {
          counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val out = ctx.freshName("out")
      val sp = (v: String) =>
        s"($v == 32 || $v == 9 || $v == 10 || $v == 13 || $v == 12 || $v == 11)"
      s"""
         |int $n = $input.numBytes();
         |int[] $counts = new int[64];
         |int $p = 0;
         |while ($p < $n) {
         |  byte $b = $input.getByte($p);
         |  if (${sp(b)}) { $p++; continue; }
         |  long $h = 0L;
         |  while ($p < $n) {
         |    $b = $input.getByte($p);
         |    if (${sp(b)}) break;
         |    $h = $h * 131L + $b; $p++;
         |  }
         |  $h = ($h ^ ($h >>> 33)) * ${0xff51afd7ed558ccdL}L;
         |  $h = ($h ^ ($h >>> 33)) * ${0xc4ceb9fe1a85ec53L}L;
         |  $h = $h ^ ($h >>> 33);
         |  for (int $i = 0; $i < 64; $i++) {
         |    $counts[$i] += ((($h >>> $i) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $out = 0L;
         |for (int $i = 0; $i < 64; $i++) {
         |  if ($counts[$i] > 0) $out |= (1L << $i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
}

object SimHash64 {
  val name = "simhash64"

  def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => SimHash64(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
