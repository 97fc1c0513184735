package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd integer dot product over two `array<int>` columns —
  * the coarse-scoring kernel of the quantized ANN path (s14).
  *
  * Why native (FloatCosine's argument, same hot shape): the builtin
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (s,v) -> s+v)` evaluates
  * interpreted lambdas per element and allocates the zipped array — per
  * corpus row, per query. This compiles to one fused loop over the raw
  * `ArrayData` with no allocation.
  *
  * Numerics are EXACT, not approximate: int8-range inputs (|x| ≤ 127,
  * dim ≤ 64) keep every product ≤ 16129 and every 64-term sum far below
  * 2^53, so the long accumulation here, a double accumulation, and
  * DuckDB's `list_dot_product` all produce the identical integer — the
  * coarse ranking is bit-stable across engines, which is what lets the
  * quantized candidate set be oracled exactly (no float tie ambiguity).
  *
  * Length-mismatched arrays truncate to the shorter length (fixed-width
  * harness schema; production validates widths at ingest). NULL in →
  * NULL out via BinaryExpression's default null interception.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _                         => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${IntDot.name} requires two array<int> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

object IntDot {
  val name = "int_dot"

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => IntDot(a, b)
    case args => throw new IllegalArgumentException(
      s"$name(a, b) takes exactly 2 arguments, got ${args.length}")
  }
}
