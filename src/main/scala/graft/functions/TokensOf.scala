package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The corpus tokenization itself as a codegen-capable native pass:
  * `array<string>` of `lower(trim(text))` split on ASCII-whitespace
  * runs, empties dropped — byte-identical to `TextOps.tokens`
  * (`filter(split(lower(trim(text)), ws), len > 0)`), spec-pinned.
  *
  * Why native when `split` is already codegen'd: the declarative form's
  * empty-dropping `filter` is a lambda array function — CodegenFallback
  * — so the whole staging projection it sits in runs OUTSIDE
  * whole-stage codegen, and the split allocates the empty-token slots
  * only for the filter to copy the array again. This expression walks
  * the lowered bytes once and emits exactly the kept tokens, keeping
  * explode-feeding tokenize stages (tfidf, unigram LM, span windows,
  * heavy hitters) inside WSCG. At 100 TB those stages are the scan-side
  * CPU of every shuffle-bound text aggregate.
  */
case class TokensOf(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens_of requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = TokensOf.name

  override protected def withNewChildInternal(newChild: Expression): TokensOf =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    TokensOfImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.TokensOfImpl.compute($input);")
}

object TokensOfImpl {

  private def isSpace(b: Byte): Boolean = SimHash64.isSpace(b)

  def compute(s: UTF8String): GenericArrayData = {
    // trim() (0x20 only) + toLowerCase: the exact calls behind
    // lower(trim(text)); ASCII separators never occur inside UTF-8
    // multibyte sequences, so the byte walk splits exactly like the
    // regex class [ \t\n\x0B\f\r]+
    val bytes = s.trim().toLowerCase().getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[AnyRef]
    var p = 0
    while (p < n) {
      while (p < n && isSpace(bytes(p))) p += 1
      if (p < n) {
        val start = p
        while (p < n && !isSpace(bytes(p))) p += 1
        out.add(UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, start, p)))
      }
    }
    new GenericArrayData(out.toArray)
  }
}

object TokensOf {
  val name = "tokens_of"

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => TokensOf(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
