package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy hitters (Metwally et al., ICDT'05) as a native
  * `TypedImperativeAggregate` — the mergeable-sketch shape for "top-k
  * most frequent values over 100 TB in one pass".
  *
  * Why a custom aggregate: the exact formulation (`groupBy(value).count`
  * → global top-k) shuffles one row per DISTINCT value — fine until the
  * value domain is the open vocabulary of a web corpus. SpaceSaving keeps
  * a fixed `capacity` of counters per partition (here capacity = 8×k),
  * merges partial sketches pairwise, and guarantees every true heavy
  * hitter with frequency > N/capacity survives with its count
  * over-estimated by at most the error bound the sketch tracks. State is
  * O(capacity) regardless of input size — the property that makes the
  * one-pass plan viable where exact counting OOMs.
  *
  * Result: `array<struct<value:string, cnt:long, err:long>>`, descending
  * by (cnt, value) — `cnt` is an upper bound, `cnt - err` a lower bound.
  * With skewed (Zipfian) data and capacity ≥ 8k the top-k SET matches the
  * exact answer (spec-asserted on the harness corpus); ties and the tail
  * are where approximation shows first.
  */
case class SpaceSavingTopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, (Long, Long)]] {

  private def capacity: Int = 8 * k

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_values requires a string argument, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingTopK =
    copy(child = newChildren.head)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType), StructField("cnt", LongType),
    StructField("err", LongType))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, (Long, Long)] =
    mutable.HashMap.empty

  /** Counter update: existing key increments; a new key either fills a
    * free slot or evicts the current minimum and inherits its count as
    * error (the SpaceSaving invariant: stored cnt ≥ true cnt ≥ stored
    * cnt − err). Keys are cloned on insert — the input UTF8String may
    * point into a reused row buffer. */
  private def offer(buf: mutable.HashMap[UTF8String, (Long, Long)],
                    v: UTF8String, add: Long, addErr: Long): Unit = {
    buf.get(v) match {
      case Some((c, e)) => buf.update(v, (c + add, e + addErr))
      case None if buf.size < capacity => buf.update(v.clone(), (add, addErr))
      case None =>
        val (minV, (minC, _)) = buf.min(SpaceSavingTopK.evictOrd)
        buf.remove(minV)
        buf.update(v.clone(), (minC + add, minC + addErr))
    }
  }

  override def update(buf: mutable.HashMap[UTF8String, (Long, Long)],
                      input: InternalRow): mutable.HashMap[UTF8String, (Long, Long)] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[UTF8String], 1L, 0L)
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, (Long, Long)],
                     other: mutable.HashMap[UTF8String, (Long, Long)]): mutable.HashMap[UTF8String, (Long, Long)] = {
    other.foreach { case (v, (c, e)) => offer(buf, v, c, e) }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, (Long, Long)]): Any = {
    val top = buf.toSeq
      .sortWith { case ((v1, (c1, _)), (v2, (c2, _))) =>
        if (c1 != c2) c1 > c2 else v1.compareTo(v2) < 0
      }
      .take(k)
      .map { case (v, (c, e)) =>
        InternalRow(v, c, e): InternalRow
      }
    new GenericArrayData(top.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[UTF8String, (Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (v, (c, e)) =>
      val bytes = v.getBytes
      out.writeInt(bytes.length); out.write(bytes)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, (Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, (Long, Long)]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(UTF8String.fromBytes(b), (in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
}

object SpaceSavingTopK {
  val name = "topk_values"

  /** Deterministic eviction victim: (count, value) ascending — ties on
    * count evict the lexicographically smallest value. */
  val evictOrd: Ordering[(UTF8String, (Long, Long))] =
    new Ordering[(UTF8String, (Long, Long))] {
      override def compare(a: (UTF8String, (Long, Long)),
                           b: (UTF8String, (Long, Long))): Int = {
        val c = java.lang.Long.compare(a._2._1, b._2._1)
        if (c != 0) c else a._1.compareTo(b._1)
      }
    }

  /** Shared strict SQL builder (see FloatCosine.builder): `k` must be an
    * integer literal — it sizes the aggregation buffer at plan time. */
  val builder: Seq[Expression] => Expression = {
    case Seq(child, kExpr) =>
      val k = kExpr match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, IntegerType) =>
          v.asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"$name k must be an integer literal, got $other")
      }
      SpaceSavingTopK(child, k).toAggregateExpression()
    case args => throw new IllegalArgumentException(
      s"$name(col, k) takes exactly 2 arguments, got ${args.length}")
  }
}
