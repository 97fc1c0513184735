package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** t48 — the per-source dedup/contamination report. The DuckDB oracle
  * re-derives the whole pair set at dump time; this spec pins the
  * AGGREGATION against an independent Scala recomputation from the raw
  * pair table (so a reporting bug can't hide behind a matching pair
  * set), plus the conservation invariants an ops report must satisfy.
  *
  * Mutation kill recorded in BASELINE.md: flipping the cross-source
  * predicate to same-source fails the per-source cross-pair
  * recomputation below. */
class SourceDedupReportSpec extends SparkSpec {

  private lazy val report =
    Registry.queries("t48_source_dedup_report")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  private lazy val corpus = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
      lit("perturbed").as("source"),
      concat(col("text"), lit(" perturbed tail")).as("text")))
  }

  test("per-source columns equal an independent recomputation from the " +
    "raw pair table") {
    val srcOf = corpus.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.nearDupPairs(corpus, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nd = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .groupBy(srcOf).view.mapValues(_.length.toLong).toMap
    val cross = pairs.filter { case (a, b) => srcOf(a) != srcOf(b) }
      .flatMap { case (a, b) => Seq(srcOf(a), srcOf(b)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nDocs = corpus.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.keySet == nDocs.keySet)
    report.foreach { case (s, (docs, _, ndd, cp)) =>
      assert(docs == nDocs(s), s"$s n_docs")
      assert(ndd == nd.getOrElse(s, 0L), s"$s n_neardup_docs")
      assert(cp == cross.getOrElse(s, 0L), s"$s n_cross_pairs")
    }
  }

  test("building t48 runs only the duplication probe's jobs") {
    // the pair table has one consumer, so nothing is materialized while
    // the plan is built: the exact-collapse routing probe is the only
    // eager work, for plan-only callers (explain, PlanSnap) too
    val build = Registry.queries("t48_source_dedup_report")
    build(spark, sf) // warm-up: per-dir memos and scan schemas
    val c = corpus
    val (_, buildJobs) = jobsStartedBy(build(spark, sf))
    val (_, probeJobs) = jobsStartedBy(Dedup.duplicationHeavy(c, "text"))
    assert(buildJobs.size == probeJobs.size,
      s"t48 build ran $buildJobs; the probe alone runs $probeJobs")
  }

  test("conservation: doc counts cover the planted corpus; cross-pair " +
    "sides sum even; the perturbed source is fully near-dup") {
    val total = report.values.map(_._1).sum
    assert(total == corpus.count())
    val crossSum = report.values.map(_._4).sum
    assert(crossSum % 2 == 0, "each cross pair must be counted once per side")
    assert(crossSum > 0, "planted corpus must produce cross-source overlap")
    // CORPUS-COMPOSITION PRECONDITION for the assertion below: appending
    // " perturbed tail" (15 chars) to a text adds at most ~19 new distinct
    // 5-gram shingles and removes none, so jaccard(text, text + tail)
    // = G / (G + new) ≥ 0.5 is GUARANTEED only when the original text has
    // G ≥ 19 distinct grams (≥ ~23 normalized chars). Check it explicitly
    // so a future testdata change with short documents fails HERE with a
    // named cause instead of reading as a dedup regression.
    val minGrams = corpus.where(col("source") =!= "perturbed")
      .select(size(Dedup.shingles(col("text"), 5)).as("g"))
      .agg(min(col("g"))).head().getInt(0)
    assert(minGrams >= 19,
      s"corpus min distinct-5-gram count $minGrams < 19: too short to " +
        "guarantee jaccard(text, text + ' perturbed tail') >= 0.5 — " +
        "update the planted-corpus expectation, the engine is not at fault")
    val (pDocs, _, pNd, _) = report("perturbed")
    assert(pNd == pDocs,
      "every perturbed copy near-dups its original by construction")
  }

  test("exact-dup accounting uses the corpus-wide collapse key " +
    "(planted exact duplicate lands in BOTH sources' counts)") {
    // plant one exact cross-source duplicate on top of the corpus and
    // run the same aggregation shape the query uses
    val extra = corpus.limit(1)
      .select((col("doc_id") + 5000000).as("doc_id"),
        lit("cloned").as("source"), col("text"))
    val c2 = corpus.unionByName(extra)
    val ek = c2.where(col("text").isNotNull)
      .select(col("source"), Dedup.exactKey(col("text")).as("ek"))
    val exact = ek
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ek"))))
      .where(col("grp") >= 2)
      .groupBy(col("source")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.getOrElse("cloned", 0L) == 1L)
    assert(exact.values.sum == 2L,
      s"one planted duplicate pair must yield exactly two member docs, " +
        s"got $exact")
  }
}
