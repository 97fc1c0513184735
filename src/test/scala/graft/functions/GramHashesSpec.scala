package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GramHashesSpec extends SparkSpec {
  import spark.implicits._

  test("ascending distinct hashes, one per distinct 5-gram") {
    registerSqlFunctions()
    val text = "abcdefabcdef" // 8 positions, 6 distinct 5-grams
    val hs = Seq(Tuple1(text)).toDF("t")
      .select(expr("gram_hashes(t)").as("h")).as[Seq[Long]].collect().head
    val expectGrams = text.sliding(5).toSet.size
    assert(hs.length == expectGrams, s"got ${hs.length}, want $expectGrams")
    assert(hs == hs.sorted && hs.distinct.length == hs.length)
  }

  test("Jaccard via gram_hashes + merge intersect equals string-set Jaccard") {
    registerSqlFunctions()
    val (a, b) = ("the quick brown fox jumps", "the quick brown cat jumps")
    val row = Seq((a, b)).toDF("a", "b")
      .select(expr("intersect_size_sorted(gram_hashes(a), gram_hashes(b))")
          .as("i"),
        expr("size(gram_hashes(a))").as("na"),
        expr("size(gram_hashes(b))").as("nb"))
      .collect().head
    val (i, na, nb) = (row.getInt(0), row.getInt(1), row.getInt(2))
    val sa = a.sliding(5).toSet
    val sb = b.sliding(5).toSet
    assert(na == sa.size && nb == sb.size)
    assert(i == sa.intersect(sb).size,
      "hashed-gram intersection must equal the string-set intersection")
  }

  test("short strings contribute their whole text as one gram (builtin parity)") {
    registerSqlFunctions()
    // rawShingles emits substr(1, k) of the whole short string — one gram;
    // the native path must agree or short-doc near-dup pairs differ by k
    val hs = Seq(Tuple1(""), Tuple1("abc"), Tuple1("abc"))
      .toDF("t")
      .select(expr("gram_hashes(t)").as("h")).as[Seq[Long]].collect()
    assert(hs.forall(_.length == 1))
    assert(hs(1) == hs(2), "identical short strings share their gram")
    assert(hs(0) != hs(1), "empty vs non-empty differ")
  }
}
