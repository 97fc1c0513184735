package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.Similarity

class FloatCosineSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the builtin double-fold bit-for-bit") {
    registerSqlFunctions()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .where(col("ia") < col("ib")).limit(500)
    val diff = pairs.select(
        expr("float_cosine(a, b)").as("native"),
        Similarity.cosine(Similarity.asDouble(col("a")),
          Similarity.asDouble(col("b"))).as("builtin"))
      .where(col("native") =!= col("builtin"))
      .count()
    assert(diff == 0, "native and builtin cosines must be bit-identical")
  }

  test("every injected SQL builder wires its args and rejects bad arity") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    // applying to a fresh extensions object must not throw
    (new GraftExtensions).apply(new org.apache.spark.sql.SparkSessionExtensions)
    val b = GraftExtensions.functions.map(f => f._1 -> f._3).toMap
    val s = Literal("x")
    assert(b.size == 12)
    assert(b("int_dot")(Seq(s, Literal("y")))
      .asInstanceOf[IntDot].left == s)
    // correct arity → the right expression with args in order
    assert(b("float_cosine")(Seq(s, Literal("y")))
      .asInstanceOf[FloatCosine].left == s)
    assert(b("minhash_sig")(Seq(s)).isInstanceOf[MinHashSig])
    assert(b("gram_hashes")(Seq(s)).isInstanceOf[GramHashes])
    assert(b("simhash64")(Seq(s)).isInstanceOf[SimHash64])
    assert(b("intersect_size_sorted")(Seq(s, Literal("y")))
      .asInstanceOf[SortedIntersectSize].right == Literal("y"))
    assert(b("repetition_stats")(Seq(s)).isInstanceOf[RepetitionStats])
    assert(b("jaro_winkler")(Seq(s, Literal("y")))
      .asInstanceOf[JaroWinkler].left == s)
    assert(b("tokens_of")(Seq(s)).asInstanceOf[TokensOf].child == s)
    assert(b("token_stats")(Seq(s)) == TokenStats(s, TokenStats.enStopwords))
    assert(b("stopword_counts")(Seq(s)) ==
      StopwordCounts(s, StopwordCounts.langSets))
    val agg = b("topk_values")(Seq(s, Literal(5)))
      .asInstanceOf[AggregateExpression]
    assert(agg.aggregateFunction.asInstanceOf[SpaceSavingTopK].k == 5)
    // wrong arity / non-literal k → a comprehensible error, never silent
    // defaulting (minhash_sig(text, 9, 64) must not quietly use k=5)
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      intercept[IllegalArgumentException](builder(Seq.empty))
      intercept[IllegalArgumentException](builder(Seq(s, s, s)))
    }
    intercept[IllegalArgumentException](b("topk_values")(Seq(s, s)))
  }

  test("handles degenerate inputs via eval path") {
    registerSqlFunctions()
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 2.0f), Array(-1.0f, -2.0f))).toDF("a", "b")
    val r = df.select(expr("float_cosine(a, b)").as("c")).as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-15)
    assert(math.abs(r(1) + 1.0) < 1e-15)
  }

  test("zero-norm and empty vectors yield NULL, never NaN (sort safety)") {
    registerSqlFunctions()
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),   // zero left
      (Array.empty[Float], Array.empty[Float]), // empty both
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))   // orthogonal, defined
      .toDF("a", "b")
    // both the codegen path (DataFrame) and the builtin twin must agree
    val native = df.select(expr("float_cosine(a, b)").as("c")).collect()
    assert(native(0).isNullAt(0) && native(1).isNullAt(0))
    assert(native(2).getDouble(0) == 0.0)
    val builtin = df.select(Similarity.cosine(
      Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))).as("c"))
      .collect()
    assert(builtin(0).isNullAt(0) && builtin(1).isNullAt(0))
    // NULL similarity ranks LAST in a descending sort, unlike NaN
    val ordered = df.select(expr("float_cosine(a, b)").as("c"))
      .orderBy(col("c").desc).collect()
    assert(!ordered(0).isNullAt(0), "real similarity must outrank NULL")
  }

  test("width-mismatched vectors yield NULL on BOTH rerank routes") {
    // ivfTopK picks its rerank expression by schema (float_cosine on an
    // array<float> corpus, the builtin double-fold otherwise). The two
    // routes must hand a malformed (length-mismatched) vector the SAME
    // verdict — NULL, row filtered from top-k — or candidate membership
    // would differ by schema route (r19 advice item).
    registerSqlFunctions()
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f)))
      .toDF("a", "b")
    val native = df.select(expr("float_cosine(a, b)").as("c")).collect()
    assert(native(0).isNullAt(0),
      "float route must NULL a width mismatch, not score a prefix")
    val builtin = df.select(Similarity.cosine(
      Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))).as("c"))
      .collect()
    assert(builtin(0).isNullAt(0), "double route NULLs a width mismatch")
  }
}
