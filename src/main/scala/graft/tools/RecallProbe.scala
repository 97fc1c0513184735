package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Native.{floatCosine, jaroWinkler}

/** Independent recall cross-check for the LSH-fed near-dup closures
  * (t29 fuzzy text, s15 ANN cosine) — r13 verdict item 4.
  *
  * The dump-time DuckDB oracles for t29/s15 share their candidate
  * constants (MinHash band buckets / LSH hyperplanes) with the engine:
  * a candidate pair MISSED by LSH is missed identically on both sides,
  * so the oracles are exact on the surviving pairs but blind to recall.
  * This probe closes that blind spot without an all-pairs blowup: for a
  * 1-in-N id slice it computes the ground-truth survivor set EXACTLY
  * (brute-force all-pairs over the slice with the same metrics and
  * thresholds) and checks the production pipeline recovered every pair,
  * with identical values.
  *
  * The slice key folds both the +1_000_000 perturbed-copy shift and the
  * ScaleUp replica stride (1e9 ≡ 0 mod 1e6) back to the base id, so a
  * doc/vector and ALL its derived near-dup partners land in the same
  * slice — designed truth pairs never straddle the slice boundary:
  * perturbed copies differ by exactly +1e6, and since r15 the
  * PlantedFuzzy multibyte pairs follow the same +1e6 convention
  * (2000001/3000001 etc. — the r14 ADVICE finding was that their old
  * consecutive ids made every planted pair straddle any n > 1 slicing,
  * so the probe silently skipped them). Incidental cross-slice corpus
  * pairs (e.g. the café-family cross pairs) are out of scope on BOTH
  * sides of the comparison (restricting the pipeline output to
  * slice×slice pairs), so the comparison stays consistent.
  *
  * Precision needs no probe: a surviving LSH candidate passed the same
  * exact metric threshold the brute force applies, so pipeline ⊆ truth
  * always; only recall (and value agreement) can diverge — `missed` and
  * `mismatched` count exactly those.
  *
  * In-suite: ScaledRecallSpec runs this on ×10-grow and ×10-hot worlds
  * built from sf0.001. Manual: `runMain graft.tools.RecallProbe <dir>
  * [n] [r]` prints one JSON line per query — run against the real ×10
  * worlds, results recorded in BASELINE.md.
  */
object RecallProbe {

  final case class Probe(query: String, truth: Long, found: Long,
                         missed: Long, mismatched: Long) {
    def recall: Double = if (truth == 0) 1.0 else found.toDouble / truth
    def json: String =
      s"""{"query":"$query","truth":$truth,"found":$found,""" +
        s""""missed":$missed,"mismatched":$mismatched,"recall":$recall}"""
  }

  private def sliceKey(id: org.apache.spark.sql.Column, n: Int) =
    id % 1000000L % n

  /** truth vs pipeline on slice×slice pairs: `missed` = truth pairs the
    * pipeline lost; `mismatched` = common pairs whose payload values
    * differ. */
  private def compare(query: String, truth: DataFrame, pipe: DataFrame,
                      valueCols: Seq[String]): Probe = {
    val t = truth.select(
      (col("id_a") +: col("id_b") +: valueCols.map(c => col(c).as(s"t_$c")))
        .toIndexedSeq: _*)
    val p = pipe.select(
      (col("id_a") +: col("id_b") +: valueCols.map(c => col(c).as(s"p_$c")))
        .toIndexedSeq: _*)
    val joined = t.join(p, Seq("id_a", "id_b"), "left").cache()
    try {
      val truthN = joined.count()
      val missed = joined.where(col(s"p_${valueCols.head}").isNull).count()
      val mismatched = joined
        .where(col(s"p_${valueCols.head}").isNotNull)
        .where(valueCols.map(c => col(s"t_$c") =!= col(s"p_$c"))
          .reduce(_ || _)).count()
      Probe(query, truthN, truthN - missed, missed, mismatched)
    } finally joined.unpersist()
  }

  /** t29: brute-force prefix-200 Levenshtein(≤20) + Jaro-Winkler over a
    * 1-in-N slice of the exact t29 corpus vs the production pipeline.
    * The |len gap| ≤ 20 prefilter is sound (lev ≥ length gap), keeping
    * the probe's crossJoin affordable at real-×10 slice sizes. */
  def t29(spark: SparkSession, dir: String, n: Int, r: Int): Probe = {
    val slice = graft.queries.TextQueries.fuzzyCorpus(spark, dir)
      .where(sliceKey(col("doc_id"), n) === r)
    val p = slice.select(col("doc_id").as("id"),
      substring(col("text"), 1, 200).as("t"))
    val truth = p.as("a").crossJoin(p.as("b"))
      .where(col("a.id") < col("b.id"))
      .where(abs(length(col("a.t")) - length(col("b.t"))) <= 20)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t"), 20))
      .where(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"),
        jaroWinkler(col("a.t"), col("b.t"))
          .cast("decimal(28,6)").cast("double").as("jw"))
    val pipe = graft.queries.TextQueries.fuzzyNearDup(spark, dir)
      .where(sliceKey(col("id_a"), n) === r &&
        sliceKey(col("id_b"), n) === r)
    compare("t29_fuzzy_neardup", truth, pipe, Seq("dist", "jw"))
  }

  /** s15: brute-force exact cosine ≥ 0.8 over a 1-in-N slice of the
    * exact s15 corpus vs the production pipeline. */
  def s15(spark: SparkSession, dir: String, n: Int, r: Int): Probe = {
    val slice = graft.queries.SimilarityQueries.annCorpus(spark, dir)
      .where(sliceKey(col("vec_id"), n) === r)
    val v = slice.select(col("vec_id").as("id"), col("embedding").as("vf"))
    val truth = v.as("a").crossJoin(v.as("b"))
      .where(col("a.id") < col("b.id"))
      .withColumn("sim", floatCosine(col("a.vf"), col("b.vf")))
      .where(col("sim") >= 0.8)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("sim"), 6).as("sim"))
    val pipe = graft.queries.SimilarityQueries
      .annCosineNearDup(spark, dir)
      .where(sliceKey(col("id_a"), n) === r &&
        sliceKey(col("id_b"), n) === r)
    compare("s15_ann_cosine_neardup", truth, pipe, Seq("sim"))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallProbe <dir> [n] [r]")
    val n = if (args.length > 1) args(1).toInt else 33
    val r = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.getOrCreate()
    println(t29(spark, args(0), n, r).json)
    println(s15(spark, args(0), n, r).json)
    spark.stop()
  }
}
