package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.SparkSpec

/** The [[Native]] Column functions resolve on a session whose function
  * registry has never seen graft's names, and agree with the SQL surface
  * ([[GraftExtensions.functions]]) row for row. */
class NativeSpec extends SparkSpec {

  /** (SQL text, Native function) of every stateless native function, over
    * the columns of [[input]]. */
  private val stateless: Seq[(String, Column)] = Seq(
    "float_cosine(fa, fb)" -> Native.floatCosine(col("fa"), col("fb")),
    "int_dot(ia, ib)" -> Native.intDot(col("ia"), col("ib")),
    "minhash_sig(t)" -> Native.minhashSig(col("t")),
    "gram_hashes(t)" -> Native.gramHashes(col("t")),
    "simhash64(t)" -> Native.simhash64(col("t")),
    "intersect_size_sorted(ga, gb)" ->
      Native.intersectSizeSorted(col("ga"), col("gb")),
    "repetition_stats(t)" -> Native.repetitionStats(col("t")),
    "jaro_winkler(t, u)" -> Native.jaroWinkler(col("t"), col("u")),
    "tokens_of(t)" -> Native.tokensOf(col("t")),
    "token_stats(t)" -> Native.tokenStats(col("t")),
    "stopword_counts(t)" -> Native.stopwordCounts(col("t")))

  private val texts = Seq(
    ("The cat and the hat\nthe cat and the hat", "the cat in a hat"),
    ("  Der Hund und die Katze, la casa!  ", "der hund"),
    ("", "x"),
    ("short", "shorter"))

  private def input(s: SparkSession): DataFrame = {
    import s.implicits._
    texts.zipWithIndex.map { case ((t, u), i) =>
      (i.toLong, t, u, Array(1.0f, i.toFloat, 2.0f), Array(0.5f, 1.0f, -1.0f),
        Array(i, 2, -3), Array(4, -5, i), Array(1L, 3L, 5L + i), Array(3L, 5L, 7L))
    }.toDF("id", "t", "u", "fa", "fb", "ia", "ib", "ga", "gb")
  }

  /** A new session over the shared context: builtin functions only. */
  private def freshSession(): SparkSession = {
    val fresh = spark.newSession()
    GraftExtensions.functions.foreach { case (name, _, _) =>
      assert(!fresh.sessionState.functionRegistry.functionExists(
        FunctionIdentifier(name)), s"$name is registered on a new session")
    }
    fresh
  }

  test("every stateless Native function's expression is on the SQL surface") {
    val surface = GraftExtensions.functions.map(_._2).toSet
    stateless.foreach { case (sql, native) =>
      val cls = ColumnBridge.expression(native).getClass
      assert(surface.contains(cls),
        s"${cls.getSimpleName} ($sql) is missing from GraftExtensions.functions")
    }
  }

  test("Native functions on a fresh session equal the registered SQL names") {
    registerSqlFunctions()
    val fresh = freshSession()
    stateless.foreach { case (sql, native) =>
      val byColumn = input(fresh).orderBy("id").select(native.as("r")).collect()
      val bySql = input(spark).orderBy("id").select(expr(sql).as("r")).collect()
      assert(byColumn.toSeq == bySql.toSeq, s"$sql differs")
    }
  }

  test("every stateless native expression's generated code calls its kernel") {
    stateless.foreach { case (sql, native) =>
      val Project(Seq(Alias(e, _)), child) =
        input(spark).select(native.as("r")).queryExecution.analyzed
      val code = BindReferences.bindReference(e, child.output)
        .genCode(new CodegenContext).code.toString
      assert(code.contains("graft.functions."), s"$sql calls no kernel:\n$code")
      assert(!code.contains("for (") && !code.contains("while ("),
        s"$sql generates a loop of its own:\n$code")
    }
  }

  test("trained state travels as an argument, not a session name") {
    val fresh = freshSession()
    val docs = texts.map(_._1)
    val merges = Bpe.train(docs, 20)
    val ranks = Bpe.toRanks(merges)
    val table = NbQuality.train(Seq(
      ("the cat and the hat", true), ("buy now buy now cheap", false)))
    val got = input(fresh).orderBy("id").select(
      Native.bpeDocCount(col("t"), merges),
      Native.nbQualityScore(col("t"), table)).collect()
    docs.zip(got).foreach { case (t, r) =>
      assert(r.getLong(0) ==
        Bpe.pretokenize(t).map(w => Bpe.countTokens(w, ranks).toLong).sum, t)
      assert(r.getLong(1) == NbQuality.score(t, table), t)
    }
  }
}
