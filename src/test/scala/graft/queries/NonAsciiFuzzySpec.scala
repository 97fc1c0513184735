package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Codepoint semantics of the fuzzy metrics, made load-bearing (r13
  * verdict item 3): the harness corpus is pure ASCII, where Spark's
  * codepoint-walking levenshtein/jaro and DuckDB's byte-walking twins
  * coincide \u2014 so until now nothing verified WHICH semantics the engine
  * computes. [[PlantedFuzzy]] plants CJK / precomposed-accent /
  * combining-mark rows whose byte distances differ from their codepoint
  * distances into the t18/t20/t29 slices; this spec pins the Spark side
  * (exact codepoint distances and JW values on the survivor pairs), and
  * the DuckDB side recomputes the same pairs through the transcode
  * bridge (PlantedFuzzy.tcSql) in the driver's correctness gate.
  *
  * Expected values were computed by an independent pure-python codepoint
  * Levenshtein/Jaro-Winkler over all 28 planted pairs (and cross-checked
  * against transcoded DuckDB) before landing.
  */
class NonAsciiFuzzySpec extends SparkSpec {

  // -- the raw expression semantics, pinned on literals ------------------

  test("Spark levenshtein counts codepoints, not bytes (2- and 3-arg)") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      ("h\u00E9llo", "hello"), // precomposed \u00E9: 2 bytes, 1 codepoint
      ("ab\u65E5", "ab\u8A9E"), // CJK sub, disjoint UTF-8 bytes: 3 vs 1
      ("cafe\u0301", "cafe"), // combining mark delete: 2 bytes, 1 cp
      ("caf\u00E9", "cafe\u0301") // precomposed vs decomposed: 3 vs 2
    ).toDF("a", "b")
    val got = df.select(
      levenshtein(col("a"), col("b")).as("d2"),
      levenshtein(col("a"), col("b"), 20).as("d3")).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 1, 1, 2),
      "2-arg levenshtein must walk codepoints")
    assert(got.map(_.getInt(1)).toSeq == Seq(1, 1, 1, 2),
      "3-arg (threshold-bounded) levenshtein must walk codepoints")
  }

  test("native jaro_winkler walks UTF-16 chars == codepoints on BMP") {
    registerSqlFunctions()
    val sess = spark
    import sess.implicits._
    // byte-based JW of this pair is 0.976 (measured in DuckDB on the raw
    // bytes); codepoint JW is 0.991304 \u2014 the values separate the walks
    val got = Seq((PlantedFuzzy.rows(0)._2, PlantedFuzzy.rows(1)._2))
      .toDF("a", "b")
      .select(expr("jaro_winkler(a, b)")
        .cast("decimal(28,6)").cast("double"))
      .head().getDouble(0)
    assert(got == 0.991304, s"expected codepoint JW 0.991304, got $got")
  }

  // -- the planted pairs in the query outputs ----------------------------

  /** Planted survivor pairs of the lev <= 20 gate with their codepoint
    * distances (python ground truth; byte walks disagree on every pair
    * except 2000005x2000007). */
  private val plantedLev: Set[(Long, Long, Int)] = Set(
    // pair members now differ by +1e6 (r15: co-slice under RecallProbe's
    // id % 1e6 slicing); both metrics are symmetric, so the reordered
    // pairs carry the same ground-truth values
    (2000001L, 3000001L, 1), // \u65E5 -> \u8A9E (bytes: 3)
    (2000003L, 3000003L, 1), // insert \u30AD (bytes: 3)
    (2000005L, 3000005L, 1), // \u00E9 -> e (bytes: 2)
    (2000005L, 2000007L, 3), // delta -> theta (ASCII; \u00E9 on both sides)
    (2000005L, 3000007L, 5), // \u00E9 vs e+U+0301 + delta/theta (bytes: 6)
    (2000007L, 3000005L, 4), // e -> \u00E9 + delta/theta (bytes: 5)
    (3000005L, 3000007L, 4), // combining insert + delta/theta (bytes: 5)
    (2000007L, 3000007L, 2)) // precomposed vs decomposed \u00E9 (bytes: 3)

  /** Planted survivor pairs of the jw >= 0.9 gate (6-dp rounded). */
  private val plantedJw: Set[(Long, Long, Double)] = Set(
    (2000001L, 3000001L, 0.991304),
    (2000003L, 3000003L, 0.995833),
    (2000005L, 2000007L, 0.978986),
    (3000005L, 3000007L, 0.975074))

  private def plantedRows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.where(col("id_a") >= 2000000L || col("id_b") >= 2000000L)
      .collect().toSet

  test("t18 survivors carry the codepoint distances of the planted pairs") {
    val got = plantedRows(Registry.queries("t18_edit_distance")(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got == plantedLev,
      s"planted t18 survivor set diverged:\n got=$got\n exp=$plantedLev")
  }

  test("t20 survivors carry the codepoint JW of the planted pairs") {
    val got = plantedRows(Registry.queries("t20_jaro_neardup")(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got == plantedJw,
      s"planted t20 survivor set diverged:\n got=$got\n exp=$plantedJw")
  }

  test("t29 recovers every planted pair through LSH and scores it " +
    "with codepoint metrics") {
    // all four designed pairs are single-edit neighbors with high shingle
    // Jaccard \u2014 the 8-band/32-hash LSH must band them together (fixed
    // seeds make this deterministic), and the caf\u00E9-family cross pairs
    // ride along when their buckets collide; whatever survives must score
    // exactly as t18/t20 did (same texts, 200-prefix == full text)
    val got = plantedRows(Registry.queries("t29_fuzzy_neardup")(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val designed = Set(
      (2000001L, 3000001L), (2000003L, 3000003L),
      (2000005L, 3000005L), (2000007L, 3000007L))
    assert(designed.subsetOf(got.map(t => (t._1, t._2))),
      s"LSH lost a designed planted pair: got=$got")
    got.foreach { case (a, b, d, jw) =>
      assert(plantedLev.contains((a, b, d)),
        s"t29 planted pair ($a,$b) dist=$d disagrees with the ground truth")
      plantedJw.find(p => p._1 == a && p._2 == b).foreach { p =>
        assert(jw == p._3,
          s"t29 planted pair ($a,$b) jw=$jw != ground truth ${p._3}")
      }
    }
  }

  // -- the oracle bridge shape (the DuckDB side itself runs in the
  //    driver's gate; here we pin that the dumped SQL carries it) --------

  test("t18/t20/t29 oracle SQL carries the transcode bridge and the rows") {
    def byName(n: String) = Registry.all.find(_.name == n).get
    val t18 = byName("t18_edit_distance").oracle.get
    val t20 = byName("t20_jaro_neardup").oracle.get
    Seq(t18, t20).foreach { sql =>
      assert(sql.contains("chr(1)") && sql.contains("replace("),
        "oracle must transcode the planted alphabet to single bytes")
      assert(sql.contains("2000001"), "oracle must union the planted rows")
    }
    // t29's oracle is dump-time; build it after a recorded run
    Registry.queries("t29_fuzzy_neardup")(spark, sf).count()
    val t29 = byName("t29_fuzzy_neardup").oracleFn.get.apply()
    assert(t29.contains("chr(1)") && t29.contains("2000001"),
      "t29 oracle must carry the transcode bridge and the planted rows")
  }
}
