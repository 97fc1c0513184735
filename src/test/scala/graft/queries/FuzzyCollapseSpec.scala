package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** t29's adaptive exact-collapse routing (the ×10-hot-axis fix): on a
  * duplicate-heavy corpus the LSH-candidates→Levenshtein/Jaro composition
  * must collapse byte-identical texts before the O(200²) DP and expand
  * after — OUTPUT-IDENTICAL to the flat form, including the case
  * sensitivity the raw collapse key exists for: two texts equal under
  * `lower(trim())` but differing in case must stay separate groups and
  * carry their true nonzero distance (a normalized key would conflate
  * them and fabricate dist = 0). */
class FuzzyCollapseSpec extends SparkSpec {

  /** ~12 distinct sentences (≥ 60 chars, ASCII), each duplicated 6× —
    * verbatim, the hot-axis shape — plus one case-variant copy pair. */
  private def plantCorpus(): String = {
    val dir = trackedTempDir("fuzzy-collapse")
    val sess = spark
    import sess.implicits._
    val bases = (0 until 12).map { i =>
      s"the quick brown fox number $i jumps over the lazy dog while the " +
        s"miller grinds wheat at dawn in field $i"
    }
    val rows = bases.zipWithIndex.flatMap { case (t, i) =>
      (0 until 6).map(r => (i * 100L + r, t))
    } ++ Seq(
      // case variants: identical under lower(trim()), distinct raw —
      // LSH still bands them together (signatures hash the NORMALIZED
      // text), so the pair IS a candidate and its true dist is 2
      (9000L, "The Quick trial sentence about rivers and stones rolling " +
        "down the long valley road"),
      (9001L, "the quick trial sentence about rivers and stones rolling " +
        "down the long valley road"))
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The flat formulation, reimplemented here (not a call into the
    * query's routed path): raw LSH candidates over docs ∪ perturbed,
    * prefix-200 Levenshtein + Jaro-Winkler, ≤ 20 filter. */
  private def flatExpected(sess: SparkSession, dir: String): DataFrame = {
    registerSqlFunctions(sess)
    val docs = sess.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pert = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" fuzzy tail")).as("text"))
    // the query's corpus includes the planted multibyte rows (ids 2e6+,
    // disjoint from this spec's 0..9001 range) — mirror them here so the
    // route-equality compare covers them too
    val all = docs.unionAll(pert).unionAll(PlantedFuzzy.df(sess))
    val cands = Dedup.minhashCandidates(all, "text", "doc_id")
    val p = all.select(col("doc_id").as("id"),
      substring(col("text"), 1, 200).as("t"))
    cands
      .join(p.as("pa"), col("id_a") === col("pa.id"))
      .join(p.as("pb"), col("id_b") === col("pb.id"))
      .withColumn("dist", levenshtein(col("pa.t"), col("pb.t")))
      .where(col("dist") <= 20)
      .select(col("id_a"), col("id_b"), col("dist"),
        expr("jaro_winkler(pa.t, pb.t)")
          .cast("decimal(28,6)").cast("double").as("jw"))
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("t29 collapsed route == flat form on a duplicate-heavy corpus") {
    val dir = plantCorpus()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the corpus genuinely trips the routing probe (verbatim duplicates,
    // so the raw-key ratio matches the normalized-key one within HLL rsd)
    assert(Dedup.duplicationHeavy(docs, "text"),
      "planted corpus must be duplicate-heavy or the test exercises " +
        "the flat route twice")
    val routed = asSet(Registry.queries("t29_fuzzy_neardup")(spark, dir))
    val flat = asSet(flatExpected(spark, dir))
    assert(routed == flat,
      s"collapsed-route output diverged from the flat form: " +
        s"only-routed=${(routed -- flat).take(5)} " +
        s"only-flat=${(flat -- routed).take(5)}")
    // every verbatim-duplicate intra pair surfaced with the degenerate
    // payload (dist 0 / jw exactly 1.0)
    assert(routed.exists { case (a, b, d, j) =>
      a / 100 == b / 100 && a < 1000000 && d == 0 && j == 1.0 })
  }

  test("t29 raw collapse key: case variants keep their true distance") {
    val dir = plantCorpus()
    val routed = asSet(Registry.queries("t29_fuzzy_neardup")(spark, dir))
    val pair = routed.find { case (a, b, _, _) => a == 9000L && b == 9001L }
    assert(pair.isDefined,
      "case-variant pair must band together (signatures hash the " +
        "normalized text) and survive the ≤ 20 filter")
    // 'T'→'t' and 'Q'→'q': a normalized collapse key would have merged
    // the two docs into one group and emitted dist = 0
    assert(pair.get._3 == 2, s"expected true dist 2, got ${pair.get}")
    assert(pair.get._4 < 1.0)
  }
}
