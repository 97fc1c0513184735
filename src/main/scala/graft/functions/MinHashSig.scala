package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: all `numHashes` minima in ONE fused loop
  * over the string's bytes — no shingle array, no explode, no shuffle.
  *
  * Per byte-position window of width `k`: a polynomial hash of the window
  * (Java wraparound arithmetic), ONE murmur64 finalizer for full
  * avalanche, then per hash function i a single affine transform
  * `a_i * x + b_i` (odd `a_i`, wraparound) — the standard universal-hash
  * family over an avalanched base (same construction as MLlib's
  * MinHashLSH). One multiply-add per function instead of a per-function
  * finalizer cuts the hot loop ~3× (the finalizer-per-function form spent
  * 96 multiplies per byte position; this spends 35). Byte-level shingling
  * is deterministic for any input and equivalent to char-level for ASCII
  * corpora.
  *
  * A narrow map, where an explode + 32 min-aggregates form would shuffle
  * one row per (doc, shingle): per-doc cost is one pass over the bytes.
  * `Dedup` bands this signature at its default shape (k = 5, 32 hashes).
  */
case class MinHashSig(child: Expression, k: Int = 5, numHashes: Int = 32)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  private lazy val (as, bs): (Array[Long], Array[Long]) =
    MinHashSig.affineSeeds(numHashes)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var p = 0
    while (p + k <= n) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 131L + s.getByte(p + j); j += 1 }
      val base = MinHashSig.fmix64(h)
      var i = 0
      while (i < numHashes) {
        val x = as(i) * base + bs(i)
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      p += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val aRef = ctx.addReferenceObj("mhA", as, "long[]")
      val bRef = ctx.addReferenceObj("mhB", bs, "long[]")
      val mins = ctx.freshName("mins")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      val n = ctx.freshName("n")
      s"""
         |int $n = $input.numBytes();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $p = 0; $p + $k <= $n; $p++) {
         |  long $h = 0L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    $h = $h * 131L + $input.getByte($p + $j);
         |  }
         |  $h = ($h ^ ($h >>> 33)) * ${0xff51afd7ed558ccdL}L;
         |  $h = ($h ^ ($h >>> 33)) * ${0xc4ceb9fe1a85ec53L}L;
         |  $h = $h ^ ($h >>> 33);
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $x = $aRef[$i] * $h + $bRef[$i];
         |    if ($x < $mins[$i]) $mins[$i] = $x;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
}

object MinHashSig {
  val name = "minhash_sig"

  /** Murmur3 64-bit finalizer — full avalanche, so xor-seeding upstream
    * yields effectively independent hash functions. */
  def fmix64(v: Long): Long = {
    var x = v
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  def seeds(numHashes: Int, seed: Long = 42L): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)(rnd.nextLong())
  }

  /** Seeded affine pairs (a_i odd, b_i free) for the universal-hash family
    * `a*x + b (mod 2^64)` over an avalanched base. */
  def affineSeeds(numHashes: Int, seed: Long = 42L)
      : (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(numHashes)(rnd.nextLong() | 1L)
    val b = Array.fill(numHashes)(rnd.nextLong())
    (a, b)
  }

  /** Strict-arity SQL builder (see FloatCosine.builder). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a) => MinHashSig(a)
    case args => throw new IllegalArgumentException(
      s"$name(text) takes exactly 1 argument (k/numHashes are fixed at " +
        s"5/32 on the SQL surface), got ${args.length}")
  }
}
