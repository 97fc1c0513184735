package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-set stopword hit counts for SEVERAL word sets in ONE token walk:
  * `array<long>`, element i = hits for set i. Built for the language-ID
  * argmax (t04), whose declarative forms are both wrong at scale: the
  * per-language column filters re-run the token split 5x per row
  * (CodegenFallback, no de-duplication), and the explode + groupBy
  * rewrite tokenizes once but SHUFFLES the whole corpus for what is a
  * per-row computation. This expression is a codegen-capable narrow
  * map: language-ID at 100 TB is pure scan-side CPU, zero exchanges.
  *
  * Tokenization is byte-identical to [[TokenStats]] (lower(trim(text)),
  * ASCII-whitespace runs, empties dropped); words byte-compare against
  * the lowered tokens, so multibyte (e.g. CJK) stopwords work — only
  * uppercase ASCII is rejected (it could never match a lowered token).
  */
case class StopwordCounts(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"stopword_counts requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = StopwordCounts.name

  override protected def withNewChildInternal(newChild: Expression): StopwordCounts =
    copy(child = newChild)

  @transient private lazy val setBytes: Array[Array[Array[Byte]]] =
    StopwordCountsImpl.toSetBytes(sets)

  override def nullSafeEval(input: Any): Any =
    StopwordCountsImpl.compute(input.asInstanceOf[UTF8String], setBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("setBytes", setBytes, "byte[][][]")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.StopwordCountsImpl.compute($input, $s);")
  }
}

object StopwordCountsImpl {

  private def isSpace(b: Byte): Boolean = SimHash64.isSpace(b)

  def toSetBytes(sets: Seq[Seq[String]]): Array[Array[Array[Byte]]] = {
    require(sets.nonEmpty, "need at least one stopword set")
    sets.foreach { words =>
      require(words.forall(w => w.nonEmpty &&
        !w.exists(c => c < 128 && Character.isUpperCase(c))),
        s"stopwords must be non-empty with no uppercase ASCII " +
          s"(byte-compared against lowered tokens): $words")
    }
    sets.map(_.map(_.getBytes("UTF-8")).toArray).toArray
  }

  def compute(s: UTF8String, sets: Array[Array[Array[Byte]]]): GenericArrayData = {
    val low = s.trim().toLowerCase()
    val n = low.numBytes()
    val counts = new Array[Long](sets.length)
    var p = 0
    while (p < n) {
      while (p < n && isSpace(low.getByte(p))) p += 1
      if (p < n) {
        val start = p
        while (p < n && !isSpace(low.getByte(p))) p += 1
        val tokLen = p - start
        var si = 0
        while (si < sets.length) {
          val words = sets(si)
          var i = 0
          var hit = false
          while (!hit && i < words.length) {
            val w = words(i)
            if (w.length == tokLen) {
              var j = 0
              while (j < tokLen && low.getByte(start + j) == w(j)) j += 1
              hit = j == tokLen
            }
            i += 1
          }
          if (hit) counts(si) += 1
          si += 1
        }
      }
    }
    new GenericArrayData(counts.map(c => c: Any))
  }
}

object StopwordCounts {
  val name = "stopword_counts"

  /** One set per [[graft.text.TextOps.langStopwords]] language, in table
    * order (de, en, es, fr, zh). */
  def langSets: Seq[Seq[String]] = graft.text.TextOps.langStopwords.map(_._2)

  /** Strict-arity SQL builder (see FloatCosine.builder) over [[langSets]]. */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => StopwordCounts(a, langSets)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
