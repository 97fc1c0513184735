package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** t40's trained hashed-ngram NB classifier: the harness corpus is
  * synthetic (near-shared vocabulary across the lang labels), so the
  * LEARNING claims are pinned here on a planted separable corpus, and
  * the engine-vs-oracle value claims ride the driver gate. */
class NbQualitySpec extends SparkSpec {
  import spark.implicits._

  // disjoint vocabularies: a learner that can't separate THIS is broken
  private val posDocs = Seq(
    "alpha beta gamma delta alpha beta", "beta gamma alpha",
    "delta delta alpha beta gamma", "gamma beta alpha delta")
  private val negDocs = Seq(
    "zork quux frobnitz mumble", "quux zork mumble",
    "frobnitz mumble zork quux zork", "mumble quux frobnitz")
  private def sample = posDocs.map((_, true)) ++ negDocs.map((_, false))

  test("planted separable corpus: every training doc and held-out doc " +
    "classifies correctly, with a real margin") {
    val t = NbQuality.train(sample)
    sample.foreach { case (text, label) =>
      val s = NbQuality.score(text, t)
      assert((s > 0) == label, s"'$text' scored $s, wanted label $label")
    }
    // held-out compositions of each vocabulary
    assert(NbQuality.score("alpha gamma gamma beta", t) > 0)
    assert(NbQuality.score("mumble zork quux", t) < 0)
  }

  test("training is deterministic: same sample, bit-identical table") {
    val a = NbQuality.train(sample)
    val b = NbQuality.train(sample)
    assert(a.bias == b.bias && a.weights.sameElements(b.weights))
  }

  test("a one-class sample is a data bug: training throws") {
    intercept[IllegalArgumentException] {
      NbQuality.train(posDocs.map((_, true)))
    }
  }

  test("registered codegen scalar equals the plain-Scala score, " +
    "word-free text scores exactly the bias, null stays null") {
    val t = NbQuality.train(sample)
    val texts = Seq((1L, "alpha beta, ZORK! gamma"), (2L, "?!..."),
      (3L, ""), (4L, null))
    val got = texts.toDF("id", "text")
      .select(col("id"), Native.nbQualityScore(col("text"), t).as("s"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == Some(NbQuality.score("alpha beta, ZORK! gamma", t)))
    assert(got(2L) == Some(t.bias) && got(3L) == Some(t.bias))
    assert(got(4L).isEmpty)
  }

  test("bigrams are order-sensitive features: reversing word order " +
    "changes the feature set (hash inputs are w1_w2 strings)") {
    // same unigrams, different bigrams -> scores may differ; pin that
    // the FEATURE buckets differ, which is the structural claim
    assert(NbQuality.bucket("alpha_beta") != NbQuality.bucket("beta_alpha"))
  }

  test("t40 on the harness corpus: one row per non-null-text doc, pred " +
    "is the strict sign gate of the scaled score") {
    val out = graft.queries.TextQueries.qualityClassifier(spark, sf)
      .as[(Long, Long, Int)].collect()
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").isNotNull).count()
    assert(out.length == expected)
    out.foreach { case (_, s, p) =>
      assert(p == (if (s > 0) 1 else 0))
    }
    // the synthetic corpus shares vocabulary across lang labels, so NB
    // leans with the class prior and pred is legitimately one-sided at
    // gate SFs (the separable-corpus test above pins real learning).
    // What the mutation-kill surface needs is a LIVE value column:
    // scores must vary doc-to-doc, so any weight/hash flip moves values
    // the oracle hash-compares.
    assert(out.map(_._2).distinct.length > 1,
      "constant scores across the corpus — the value surface is dead")
  }
}
