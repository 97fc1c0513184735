package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimHash64Spec extends SparkSpec {
  import spark.implicits._

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("identical token multisets collide; token order matters not") {
    registerSqlFunctions()
    val sh = Seq((1L, "alpha beta gamma"), (2L, "gamma  alpha\tbeta"),
      (3L, "completely unrelated stuff"))
      .toDF("id", "t")
      .select(col("id"), expr("simhash64(t)").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L), "SimHash is an order-free token vote")
    assert(sh(1L) != sh(3L))
  }

  test("near-dup texts land within small Hamming distance, far texts do not") {
    registerSqlFunctions()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("dog", "cat")
    val far = "entirely different words compose this unrelated sentence body"
    val s = Seq(base, near, far).map(Tuple1(_)).toDF("t")
      .select(expr("simhash64(t)").as("s")).as[Long].collect()
    assert(hamming(s(0), s(1)) <= 12, s"near: ${hamming(s(0), s(1))} bits")
    assert(hamming(s(0), s(2)) > 12, s"far: ${hamming(s(0), s(2))} bits")
  }

  test("matches the aggregation-shaped twin's candidate behavior") {
    // both forms must flag the planted near-dup pair via the chunk join
    val docs = Seq((1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val cands = graft.dedup.Dedup.simhashCandidates(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("empty / whitespace-only strings yield 0L, no crash") {
    registerSqlFunctions()
    val s = Seq("", "   \t  ").map(Tuple1(_)).toDF("t")
      .select(expr("simhash64(t)").as("s")).as[Long].collect()
    assert(s.forall(_ == 0L))
  }
}
