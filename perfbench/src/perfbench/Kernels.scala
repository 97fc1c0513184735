package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions._

/** Kernel tier of the traced `llm_kernels` run: each native expression
  * applied alone to the sf0.1 `documents` or `embeddings` columns it
  * takes, over a cached input, forced with a `noop` write. The input is
  * the table's rows paired with their successor, repeated `reps` times or
  * thinned to every `every`-th row, sized so one run takes a few hundred
  * milliseconds. Reports, per input row, the median of three timed runs
  * minus the median of three runs of a bare projection of the same input
  * (the job's own fixed cost). */
object Kernels {
  val Runs = 3

  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def c(x: Expression): Column = ColumnBridge.column(x)

  private def time(input: DataFrame, col: Column): Long = {
    val t0 = System.nanoTime()
    input.select(col.as("k")).write.mode("overwrite").format("noop").save()
    System.nanoTime() - t0
  }

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  /** Net ns per row of `kernel` over `input` (cached, `rows` rows). */
  private def nsPerRow(input: DataFrame, rows: Long, kernel: Column, bare: Column): Double = {
    time(input, kernel); time(input, bare) // compile and warm
    val k = Seq.fill(Runs)(time(input, kernel))
    val b = Seq.fill(Runs)(time(input, bare))
    (median(k) - median(b)).toDouble / rows
  }

  private def pairs(df: DataFrame, id: String, value: String, reps: Int,
                    every: Int): DataFrame =
    df.as("a").join(df.as("b"), col(s"b.$id") === col(s"a.$id") + 1)
      .where(pmod(col(s"a.$id"), lit(every)) === 0)
      .select(col(s"a.$value").as("x1"), col(s"b.$value").as("x2"))
      .crossJoin(broadcast(df.sparkSession.range(reps).toDF("rep"))).drop("rep")

  def run(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    val x1 = e(col("x1"))
    val x2 = e(col("x2"))
    val gram = (x: Expression) => c(GramHashes(x))
    // (name, table, id, value column, repeats, every, kernel); sf0.1 has
    // 5000 documents and 2000 embeddings
    val kernels: Seq[(String, DataFrame, String, String, Int, Int, Column)] = Seq(
      ("MinHashSig", docs, "doc_id", "text", 4, 1, c(MinHashSig(x1))),
      ("GramHashes", docs, "doc_id", "text", 4, 1, gram(x1)),
      ("SimHash64", docs, "doc_id", "text", 4, 1, c(SimHash64(x1))),
      ("SortedIntersectSize", docs, "doc_id", "text", 4, 1,
        c(SortedIntersectSize(e(col("g1")), e(col("g2"))))),
      ("FloatCosine", vecs, "vec_id", "embedding", 100, 1, c(FloatCosine(x1, x2))),
      ("JaroWinkler", docs, "doc_id", "text", 1, 1, c(JaroWinkler(x1, x2))),
      ("WinnowPrints", docs, "doc_id", "text", 1, 10, c(WinnowPrints(x1,
        graft.queries.TextQueries.WinnowGram, graft.queries.TextQueries.WinnowWindow))),
      ("TokensOf", docs, "doc_id", "text", 4, 1, c(TokensOf(x1))))
    kernels.map { case (name, table, id, value, reps, every, kernel) =>
      val base = pairs(table, id, value, reps, every)
      // SortedIntersectSize takes sorted gram-hash arrays, built beforehand
      val input = (if (name == "SortedIntersectSize")
        base.select(col("x1"), gram(x1).as("g1"), gram(x2).as("g2")) else base).cache()
      val rows = input.count()
      val ns = nsPerRow(input, rows, kernel, col("x1"))
      input.unpersist()
      s"functions.$name.ns_per_row" -> ns
    }.toMap
  }
}
