package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  test("signature is 32 longs, deterministic, identical for identical text") {
    registerSqlFunctions()
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "totally different words here")).toDF("id", "t")
    val sigs = df.select(col("id"), expr("minhash_sig(t)").as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length == 32)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    // re-run -> same values (seeded, no RNG state)
    val again = df.select(col("id"), expr("minhash_sig(t)").as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(again == sigs)
  }

  test("near-dup texts agree on most signature components") {
    registerSqlFunctions()
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")).toDF("id", "t")
    val s = df.select(expr("minhash_sig(t)").as("s")).as[Seq[Long]].collect()
    val agree = s(0).zip(s(1)).count { case (a, b) => a == b }
    assert(agree >= 16, s"only $agree/32 components agree") // j ~ 0.85
  }

  test("short and empty strings yield the sentinel signature, no crash") {
    registerSqlFunctions()
    val s = Seq(Tuple1(""), Tuple1("abc")).toDF("t")
      .select(expr("minhash_sig(t)").as("s")).as[Seq[Long]].collect()
    assert(s.forall(_.forall(_ == Long.MaxValue))) // no window of width 5
  }
}
