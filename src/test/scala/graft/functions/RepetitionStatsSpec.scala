package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextOps

class RepetitionStatsSpec extends SparkSpec {
  import spark.implicits._

  private def stats(text: String): (Int, Int, Int, Int) = {
    registerSqlFunctions()
    val r = Seq(Tuple1(text)).toDF("t")
      .select(expr("repetition_stats(t)").as("rs"))
      .select("rs.total_line_chars", "rs.dup_line_chars", "rs.n_tokens",
        "rs.top_bigram")
      .collect().head
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  test("line counters match the declarative twin's semantics") {
    // "aaaa" x2 (8 chars dup) + "bb" -> total 10, dup 8; each of the two
    // token bigrams occurs once
    assert(stats("aaaa\nbb\naaaa") == (10, 8, 3, 1))
    assert(stats("") == (0, 0, 0, 0))
    assert(stats("x\ny\nz") == (3, 0, 3, 1))
  }

  test("bigram counters: top adjacent pair, case-folded tokens") {
    // "spam ham spam ham spam": top bigram "spam ham" x2 of 4 bigrams
    val (_, _, n, top) = stats("spam ham spam ham spam")
    assert(n == 5 && top == 2)
    // case folding: "The the" tokens collide
    val (_, _, _, top2) = stats("The the the THE")
    assert(top2 == 3, s"case-folded 'the the' x3, got $top2")
    assert(stats("solo")._4 == 0)
  }

  test("native expression agrees with the declarative lambdas on real docs") {
    registerSqlFunctions()
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val both = docs.select(
      expr("repetition_stats(text)").as("rs"),
      TextOps.dupLineCharFraction(col("text")).as("d1"),
      TextOps.topBigramTokenFraction(col("text")).as("b1"))
      .select(
        (when(col("rs.total_line_chars") === 0, lit(0.0))
          .otherwise(col("rs.dup_line_chars").cast("double") /
            col("rs.total_line_chars").cast("double")) - col("d1"))
          .as("dd"),
        (when(col("rs.n_tokens") < 2, lit(0.0))
          .otherwise(least(lit(1.0), (col("rs.top_bigram") * 2).cast("double")
            / col("rs.n_tokens").cast("double"))) - col("b1")).as("db"))
    val bad = both.where(abs(col("dd")) > 1e-9 || abs(col("db")) > 1e-9).count()
    assert(bad == 0, s"$bad documents disagree between native and lambdas")
  }
}
