package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextOps

/** Native tokens_of vs the declarative
  * `filter(split(lower(trim(text)), ws), len > 0)` — element-exact
  * parity (content AND order) on the corpus and adversarial literals,
  * plus codegen/interpreted agreement and null propagation. */
class TokensOfSpec extends SparkSpec {

  private def bothForms(df: org.apache.spark.sql.DataFrame) = {
    registerSqlFunctions(df.sparkSession)
    df.select(TextOps.tokens(col("text")).as("d"),
      expr("tokens_of(text)").as("n"))
  }

  test("element-exact parity on the sf corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
    val diverging = bothForms(docs).where(col("d") =!= col("n")).count()
    assert(diverging == 0)
    assert(docs.count() > 0)
  }

  test("adversarial literals: separators, unicode case, empties, CJK") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(
      "", "   ", " \t\n\f\r ", "one",
      "  leading and trailing  ",
      "tab\tsep\nnl\rcr\fff vt",
      "MIXED Case TOKENS Here",
      "İstanbul I ı İ",
      "日本語 テキスト mixed ascii",
      "café café naïve",
      "a  b   c    d", // separator runs
      "😀 emoji 😀😀 tokens").toDF("text")
    val got = bothForms(rows).collect()
    got.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"diverged on ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("null text yields null, exactly like the declarative path") {
    val sess = spark
    import sess.implicits._
    registerSqlFunctions()
    val got = Seq[Option[String]](Some("a b"), None).toDF("text")
      .select(expr("tokens_of(text)").isNull).collect().map(_.getBoolean(0))
    assert(got.toSeq == Seq(false, true))
  }

  test("interpreted eval agrees with codegen") {
    val sess = spark
    import sess.implicits._
    registerSqlFunctions()
    def run() = Seq("The Quick brown\tfox").toDF("text")
      .select(expr("tokens_of(text)")).collect().map(_.getSeq[String](0)).toSeq
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(on == run())
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
