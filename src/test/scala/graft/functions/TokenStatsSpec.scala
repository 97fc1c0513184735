package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextOps

/** Native token_stats vs the declarative formulation it replaced —
  * field-exact parity on the corpus AND on adversarial literals (full
  * Unicode case mapping, CJK, vertical tab, empties, null), plus the
  * codegen/interpreted agreement the WSCG claim rests on. */
class TokenStatsSpec extends SparkSpec {

  private val en = TextOps.langStopwords.toMap.apply("en")

  /** The exact declarative twin: staged token array + builtin counts. */
  private def declarative(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("__toks", TextOps.tokens(col("text")))
    .select(col("text"),
      size(col("__toks")).cast("long").as("n_tokens"),
      aggregate(transform(col("__toks"), t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).as("sum_tok_len"),
      TextOps.stopwordCountIn(col("__toks"), en).cast("long").as("n_stop"),
      TextOps.punctCount(col("text")).cast("long").as("n_punct"),
      length(col("text")).cast("long").as("n_chars"))

  private def native(df: org.apache.spark.sql.DataFrame) = {
    registerSqlFunctions(df.sparkSession)
    df.select(col("text"), col("ts.n_tokens"), col("ts.sum_tok_len"),
      col("ts.n_stop"), col("ts.n_punct"), col("ts.n_chars"))
  }

  private def check(rows: Seq[String]): Unit = {
    val sess = spark
    import sess.implicits._
    val df = rows.toDF("text")
    val d = declarative(df).collect().toSeq
    val n = native(df.withColumn("ts", expr("token_stats(text)")))
      .collect().toSeq
    assert(d == n, s"native diverges from declarative:\n d=$d\n n=$n")
  }

  test("parity with the declarative formulation on the sf corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
    registerSqlFunctions()
    val joined = declarative(docs).withColumn("ts", expr("token_stats(text)"))
    val diverging = joined.where(
      col("ts.n_tokens") =!= col("n_tokens") ||
      col("ts.sum_tok_len") =!= col("sum_tok_len") ||
      col("ts.n_stop") =!= col("n_stop") ||
      col("ts.n_punct") =!= col("n_punct") ||
      col("ts.n_chars") =!= col("n_chars")).count()
    assert(diverging == 0, s"$diverging corpus rows diverge")
    assert(joined.count() > 0)
  }

  test("adversarial literals: Unicode case mapping, CJK, separators, empties") {
    check(Seq(
      "",                          // empty
      "   ",                       // spaces only (trim leaves nothing)
      " \t\n\f\r ",          // the full separator class, no tokens
      "the quick brown fox. and IT is; IN of: to!",
      "THE AND OF TO IS IN",       // stopwords only after lowering
      "café café day",  // precomposed vs decomposed accents
      "日本語 text",   // CJK (3-byte UTF-8)
      "İstanbul In The",      // U+0130 lowers to TWO codepoints
      "Iı İ",      // dotless/dotted i family
      "a" * 5000,                  // one long token
      "xy verticaltab",// \x0B IS a separator in both paths
      "punct....,,,;;;!!!???::: heavy",
      "mixed 😀 emoji the end", // supplementary plane (4-byte)
      "tab\tsep\ncr\rlf\fff"))
  }

  test("null text yields a null struct, exactly like the declarative path") {
    val sess = spark
    import sess.implicits._
    registerSqlFunctions()
    val df = Seq[Option[String]](Some("a b"), None).toDF("text")
    val got = df.select(expr("token_stats(text)").as("ts"))
      .select(col("ts").isNull).collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(false, true))
  }

  test("interpreted eval agrees with codegen (WSCG on, off)") {
    val texts = Seq("the İ café and, of.", "", "one")
    val sess = spark
    import sess.implicits._
    registerSqlFunctions()
    def run(): Seq[Row] = texts.toDF("text")
      .select(expr("token_stats(text)").as("ts")).select("ts.*")
      .collect().toSeq
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = run()
      assert(on == off, s"codegen vs interpreted diverge:\n on=$on\n off=$off")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("stopword builder rejects non-lowercase or non-ASCII sets") {
    intercept[IllegalArgumentException](TokenStatsImpl.toStopBytes(Seq("The")))
    intercept[IllegalArgumentException](TokenStatsImpl.toStopBytes(Seq("é")))
    intercept[IllegalArgumentException](TokenStatsImpl.toStopBytes(Seq("")))
  }
}
