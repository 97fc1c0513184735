package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * Why a custom Catalyst Expression (the one place builtins genuinely
  * fall short): the builtin formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,x) -> s+x)` allocates
  * an intermediate array and evaluates interpreted lambdas per element —
  * fine semantically, ~10× slower on a 100 TB ANN scan. This expression
  * runs one loop over the underlying `ArrayData` ([[FloatCosine.compute]],
  * the one kernel eval and generated code both call); its only allocation
  * is the boxed result.
  *
  * Numerics: elements are widened to double and accumulated left-to-right
  * — bit-identical to the builtin double-fold (and to DuckDB's
  * list_cosine_similarity on ::DOUBLE[] casts), so oracle comparisons are
  * unaffected by the swap.
  *
  * A zero-norm (or empty) vector yields NULL, not NaN — NaN sorts ABOVE
  * every real similarity in a descending sort, so a zero vector in the
  * corpus would otherwise outrank all true neighbors; NULLs sort last.
  * Length-mismatched arrays ALSO yield NULL — the same verdict the
  * builtin double route (`zip_with` + `aggregate`) reaches, so a top-k
  * that picks its rerank expression by schema (ivfTopK's float/double
  * routing) filters a malformed vector identically on both routes
  * instead of letting a truncated-prefix similarity sneak into the float
  * path's candidate set.
  */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  private def name = FloatCosine.name
  override def dataType: DataType = DoubleType
  // always nullable: zero-norm inputs produce NULL even when children are
  // non-nullable (forces a real isNull slot in codegen)
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosine =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatCosine.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""
         |java.lang.Double $r = graft.functions.FloatCosine.compute($a, $b);
         |if ($r == null) ${ev.isNull} = true;
         |else ${ev.value} = $r.doubleValue();
       """.stripMargin
    })
}

object FloatCosine {
  val name = "float_cosine"

  /** The cosine, or null (SQL NULL) for a zero-norm or length-mismatched
    * pair. A NaN element gives NaN, so NULL needs a signal of its own:
    * the result is boxed. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else dot / denom
  }

  /** The SQL builder [[GraftExtensions]] injects; strict arity (silently
    * dropping extra args would return wrong results with no error). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => FloatCosine(a, b)
    case args => throw new IllegalArgumentException(
      s"$name(a, b) takes exactly 2 arguments, got ${args.length}")
  }
}
