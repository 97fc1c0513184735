package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct 64-bit k-gram hashes of a string, in one native pass —
  * the verify-side companion of MinHashSig.
  *
  * The builtin formulation
  * `sort_array(array_distinct(transform(sequence(...), i ->
  * xxhash64(substr(...)))))` allocates a UTF8String PER WINDOW POSITION
  * (≈ one per byte of corpus) before hashing and deduping — at 100 TB
  * that is the dominant near-dup verify cost. This expression walks the
  * bytes once (same rolling polynomial + murmur finalizer as MinHashSig),
  * sorts the primitive long[] in place, and dedupes by compaction: zero
  * per-window allocation.
  *
  * Output contract: ascending distinct longs — exactly what
  * `intersect_size_sorted` (SortedIntersectSize) consumes, so
  * |intersection| and |union| = na + nb − |intersection| give exact
  * Jaccard over the hashed gram sets (identical to the string-set Jaccard
  * modulo 64-bit collisions, like the previous xxhash64 formulation).
  */
case class GramHashes(child: Expression, k: Int = 5)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    GramHashes.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.GramHashes.compute($s, $k)")
}

object GramHashes {
  val name = "gram_hashes"

  def compute(s: UTF8String, k: Int): ArrayData = {
    val n = s.numBytes()
    // a string shorter than k contributes its WHOLE text as one gram —
    // matching the builtin rawShingles (sequence(1, greatest(n-k+1, 1)));
    // an empty-gram set would silently drop short-doc near-dup pairs
    val win = math.min(n, k)
    val m = n - win + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) {
      var h = 0L
      var j = 0
      while (j < win) { h = h * 131L + s.getByte(p + j); j += 1 }
      hs(p) = MinHashSig.fmix64(h)
      p += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  /** Strict-arity SQL builder (see FloatCosine.builder): `gram_hashes(text)`
    * with the default k=5. */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => GramHashes(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
