package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity over two string columns — the
  * transposition-tolerant fuzzy-match metric Spark has no builtin for
  * (useful where token-set Jaccard and edit distance both misfire: short
  * identifiers, names, codes).
  *
  * Standard definition: Jaro = (m/|a| + m/|b| + (m−t)/m)/3 over matches
  * within the ⌊max/2⌋−1 window, t = transpositions/2; Winkler boost
  * j + ℓ·0.1·(1−j) for the common prefix ℓ ≤ 4 applied when j > 0.7.
  * Either side empty → 0. This IEEE evaluation order is bit-identical to
  * DuckDB's `jaro_winkler_similarity` (validated on 7k random pairs plus
  * the classic vectors), which is what lets t20 be hash-oracled.
  * Operates on chars (BMP); the harness corpus is ASCII, where char ==
  * codepoint == DuckDB's byte view.
  *
  * Codegen emits one static call — the whole DP stays inside
  * WholeStageCodegen like a builtin, no boxing, no lambda interpretation.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${JaroWinkler.name} requires two string arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.compute($a, $b)")
}

object JaroWinkler {
  val name = "jaro_winkler"

  /** The full similarity, shared verbatim by eval and generated code. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    var window = math.max(la, lb) / 2 - 1
    if (window < 0) window = 0
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val j = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    if (j > 0.7) j + l * 0.1 * (1 - j) else j
  }

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => JaroWinkler(a, b)
    case args => throw new IllegalArgumentException(
      s"$name(a, b) takes exactly 2 arguments, got ${args.length}")
  }
}
