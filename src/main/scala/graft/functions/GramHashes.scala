package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
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

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    // a string shorter than k contributes its WHOLE text as one gram —
    // matching the builtin rawShingles (sequence(1, greatest(n-k+1, 1)));
    // an empty-gram set would silently drop short-doc near-dup pairs on
    // this path only
    if (n < k) {
      var h = 0L
      var j = 0
      while (j < n) { h = h * 131L + s.getByte(j); j += 1 }
      return new GenericArrayData(Array(MinHashSig.fmix64(h)))
    }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 131L + s.getByte(p + j); j += 1 }
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val hs = ctx.freshName("hs")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val win = ctx.freshName("win")
      s"""
         |int $n = $input.numBytes();
         |// short string: its whole text is the single gram (matches the
         |// builtin rawShingles sequence(1, greatest(n-k+1, 1)) form)
         |int $m = ($n < $k) ? 1 : ($n - $k + 1);
         |int $win = ($n < $k) ? $n : $k;
         |long[] $hs = new long[$m];
         |for (int $p = 0; $p < $m; $p++) {
         |  long $h = 0L;
         |  for (int $j = 0; $j < $win; $j++) {
         |    $h = $h * 131L + $input.getByte($p + $j);
         |  }
         |  $h = ($h ^ ($h >>> 33)) * ${0xff51afd7ed558ccdL}L;
         |  $h = ($h ^ ($h >>> 33)) * ${0xc4ceb9fe1a85ec53L}L;
         |  $hs[$p] = $h ^ ($h >>> 33);
         |}
         |java.util.Arrays.sort($hs);
         |int $w = 0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($w == 0 || $hs[$i] != $hs[$w - 1]) { $hs[$w] = $hs[$i]; $w++; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($hs, $w));
       """.stripMargin
    })
}

object GramHashes {
  val name = "gram_hashes"

  /** Strict-arity SQL builder (see FloatCosine.builder): `gram_hashes(text)`
    * with the default k=5. */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => GramHashes(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
