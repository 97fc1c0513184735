package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two SORTED array<bigint> columns via a single merge scan —
  * O(|A|+|B|) with zero allocation, vs array_intersect's per-call hash
  * set. On a dense near-dup candidate set (hundreds of thousands of pairs
  * × hundreds of elements) this is the difference between the verify
  * stage being free and being the bottleneck. Union size falls out as
  * |A|+|B|-|A∩B| (inputs deduplicated), so no second pass is needed.
  *
  * Inputs MUST be sorted ascending and distinct (sort_array ∘
  * array_distinct); result is undefined otherwise.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "intersect_size_sorted requires two array<bigint> arguments")
  }

  override def dataType: DataType = IntegerType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectSize.compute($a, $b)")
}

object SortedIntersectSize {
  val name = "intersect_size_sorted"

  def compute(x: ArrayData, y: ArrayData): Int = {
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => SortedIntersectSize(a, b)
    case args => throw new IllegalArgumentException(
      s"$name(a, b) takes exactly 2 arguments, got ${args.length}")
  }
}
