package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextOps

/** Native stopword_counts vs the declarative per-set counts — exact
  * parity on the corpus (all five language sets at once, CJK included)
  * and on adversarial literals, plus codegen/interpreted agreement. */
class StopwordCountsSpec extends SparkSpec {

  private def declarative(df: org.apache.spark.sql.DataFrame) = {
    val staged = df.withColumn("__toks", TextOps.tokens(col("text")))
    staged.select(col("text") +:
      TextOps.langStopwords.map { case (l, words) =>
        TextOps.stopwordCountIn(col("__toks"), words).cast("long").as(s"s_$l")
      }: _*)
  }

  private def native(df: org.apache.spark.sql.DataFrame) = {
    registerSqlFunctions(df.sparkSession)
    df.select(col("text") +:
      TextOps.langStopwords.map(_._1).zipWithIndex.map { case (l, i) =>
        expr("stopword_counts(text)").getItem(i).as(s"s_$l")
      }: _*)
  }

  test("parity with the declarative per-set counts on the sf corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
    val d = declarative(docs).collect().map(_.toSeq).toSeq
    val n = native(docs).collect().map(_.toSeq).toSeq
    assert(d.nonEmpty && d == n)
  }

  test("adversarial literals: CJK stopwords, case folding, empties") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(
      "", "   ", "the el le der 的",
      "THE AND OF la est 是 不 了",
      "日本語 的 text with 在 我 mixed",
      "Der Die Das und ist nicht",
      "los y es en que el").toDF("text")
    val d = declarative(rows).collect().map(_.toSeq).toSeq
    val n = native(rows).collect().map(_.toSeq).toSeq
    assert(d == n, s"diverged:\n d=$d\n n=$n")
  }

  test("interpreted eval agrees with codegen") {
    val sess = spark
    import sess.implicits._
    registerSqlFunctions()
    def run() = Seq("the 的 el le der und").toDF("text")
      .select(expr("stopword_counts(text)")).collect().toSeq.map(_.getSeq[Long](0))
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(on == run())
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("multibyte stopwords allowed; uppercase ASCII and empties rejected") {
    StopwordCountsImpl.toSetBytes(Seq(Seq("的", "是"))) // CJK fine
    intercept[IllegalArgumentException](
      StopwordCountsImpl.toSetBytes(Seq(Seq("The"))))
    intercept[IllegalArgumentException](
      StopwordCountsImpl.toSetBytes(Seq(Seq(""))))
    intercept[IllegalArgumentException](StopwordCountsImpl.toSetBytes(Seq.empty))
  }
}
