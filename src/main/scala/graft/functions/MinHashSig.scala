package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: all 32 ([[MinHashSig.NumHashes]]) minima in
  * ONE loop over the string's bytes — no shingle array, no explode, no
  * shuffle.
  *
  * Per byte-position window of width 5 ([[MinHashSig.K]]): a polynomial
  * hash of the window (Java wraparound arithmetic), ONE murmur64
  * finalizer for full avalanche, then per hash function i a single affine
  * transform `a_i * x + b_i` (odd `a_i`, wraparound) — the standard universal-hash
  * family over an avalanched base (same construction as MLlib's
  * MinHashLSH). One multiply-add per function instead of a per-function
  * finalizer cuts the hot loop ~3× (the finalizer-per-function form spent
  * 96 multiplies per byte position; this spends 35). Byte-level shingling
  * is deterministic for any input and equivalent to char-level for ASCII
  * corpora.
  *
  * A narrow map, where an explode + 32 min-aggregates form would shuffle
  * one row per (doc, shingle): per-doc cost is one pass over the bytes.
  * `Dedup` bands it 8 × 4. A string shorter than 5 bytes has no window
  * and yields 32 × `Long.MaxValue`.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.MinHashSig.compute($s)")
}

object MinHashSig {
  val name = "minhash_sig"

  /** Shingle width in bytes. */
  val K = 5

  /** Signature length: one minimum per hash function. */
  val NumHashes = 32

  private val (as, bs) = affineSeeds(NumHashes)

  def compute(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var p = 0
    while (p + K <= n) {
      var h = 0L
      var j = 0
      while (j < K) { h = h * 131L + s.getByte(p + j); j += 1 }
      val base = fmix64(h)
      var i = 0
      while (i < NumHashes) {
        val x = as(i) * base + bs(i)
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      p += 1
    }
    new GenericArrayData(mins)
  }

  /** Murmur3 64-bit finalizer — full avalanche, so xor-seeding upstream
    * yields effectively independent hash functions. */
  def fmix64(v: Long): Long = {
    var x = v
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
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
      s"$name(text) takes exactly 1 argument, got ${args.length}")
  }
}
