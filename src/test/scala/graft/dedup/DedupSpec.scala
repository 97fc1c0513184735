package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG "), // dup after normalize
    (4L, "the quick brown fox jumps over the lazy cat"),  // near dup
    (5L, "completely different content about spark engines and parquet files"),
  ).toDF("doc_id", "text")

  test("exactDedup keeps exactly the min-id row per normalized text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) || pairs.contains((4L, 1L)) ||
      pairs.contains((1L, 2L))) // near/exact dup caught
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash candidates never do all-pairs: distinct docs in no shared bucket are absent") {
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(!cands.contains((4L, 5L)) && !cands.contains((5L, 4L)))
  }

  test("exact-collapse near-dup == flat formulation on a duplicate-heavy corpus") {
    // the hot-×100 world in miniature: every distinct text appears many
    // times (with normalization variants), near-dups exist ACROSS groups,
    // one doc is unique, one has null text. The collapsed default must
    // reproduce the flat formulation's output exactly — ids, pairing,
    // jaccard values — including intra-group pairs at jaccard 1.0 and
    // cross-group member pairs inheriting their representatives' jaccard.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat", // near-dup of ^
      "completely different content about spark engines and parquet files",
      "completely different content about spark engines and parquet piles", // near-dup of ^
      "a unique unduplicated document about streaming watermarks")
    val rows = texts.zipWithIndex.flatMap { case (t, g) =>
      (0 until 4).map { c =>
        val variant = c % 3 match {
          case 0 => t
          case 1 => t.toUpperCase
          case 2 => s"  $t "
        }
        (g * 100L + c, variant)
      }
    } :+ (999L, null: String)
    val df = rows.toDF("doc_id", "text")
    // the adaptive probe must route THIS corpus through the collapse —
    // otherwise the equality below would vacuously compare flat to flat
    assert(Dedup.duplicationHeavy(df, "text"),
      s"planted corpus must collapse (ratio=${Dedup.duplicationRatio(df, "text")})")
    val got = Dedup.nearDupPairs(df, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.nearDupPairsFlat(df, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"collapsed=${got.size} flat=${want.size}; " +
      s"onlyCollapsed=${(got -- want).take(5)} onlyFlat=${(want -- got).take(5)}")
    // sanity: duplication actually exercised — intra-group 1.0 pairs and
    // cross-group expanded pairs are both present
    assert(got.exists(_._3 == 1.0))
    assert(got.exists(p => p._1 / 100 != p._2 / 100 && p._3 < 1.0))
    assert(!got.exists(p => p._1 == 999L || p._2 == 999L))
    // same equivalence for the SimHash operator (same collapse harness,
    // hamming payload): intra pairs at hamming 0, cross pairs inheriting
    // their representatives' hamming
    val gotSh = Dedup.simhashCandidates(df, "text", "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    val wantSh = Dedup.simhashCandidatesFlat(df, "text", "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    assert(gotSh == wantSh, s"simhash collapsed=${gotSh.size} flat=${wantSh.size}; " +
      s"onlyCollapsed=${(gotSh -- wantSh).take(5)} onlyFlat=${(wantSh -- gotSh).take(5)}")
    assert(gotSh.exists(_._3 == 0) && !gotSh.exists(p => p._1 == 999L))
  }

  test("adaptive routing: distinct corpora go flat, duplicate-heavy corpora collapse") {
    // 400 distinct texts -> ratio ~1.0 (inside HLL's ±5% band) -> flat;
    // 400 rows over 20 distinct texts -> ratio ~20 -> collapse
    val distinct = (1L to 400L)
      .map(i => (i, s"unique document number $i about topic ${i * 7} and subject ${i * 13}"))
      .toDF("doc_id", "text")
    val dupHeavy = (1L to 400L)
      .map(i => (i, s"boilerplate legal footer variant ${i % 20} all rights reserved"))
      .toDF("doc_id", "text")
    assert(!Dedup.duplicationHeavy(distinct, "text"),
      s"distinct corpus must route flat (ratio=${Dedup.duplicationRatio(distinct, "text")})")
    assert(Dedup.duplicationHeavy(dupHeavy, "text"),
      s"duplicate-heavy corpus must collapse (ratio=${Dedup.duplicationRatio(dupHeavy, "text")})")
    // the probe is deterministic under re-evaluation (HLL register-merge
    // is commutative and replay-deterministic): same input -> same ratio
    assert(Dedup.duplicationRatio(dupHeavy, "text") ==
      Dedup.duplicationRatio(dupHeavy, "text"))
    // ratio lands near truth: 400/20 = 20, HLL rsd ±5%
    val r = Dedup.duplicationRatio(dupHeavy, "text")
    assert(r > 15.0 && r < 25.0, s"ratio $r far from 20")
    // null texts count on neither side of the ratio (they never collapse)
    val withNulls = dupHeavy.unionAll(
      Seq((9001L, null: String), (9002L, null: String)).toDF("doc_id", "text"))
    assert(Dedup.duplicationRatio(withNulls, "text") ==
      Dedup.duplicationRatio(dupHeavy, "text"))
    // routing is performance-only: the flat route's output IS the
    // operator's output on the distinct corpus (trivial equality by
    // construction, asserted so a future routing change that altered
    // output column shape would fail here)
    val viaOp = Dedup.nearDupPairs(distinct, "text", "doc_id", threshold = 0.5)
    val viaFlat = Dedup.nearDupPairsFlat(distinct, "text", "doc_id", threshold = 0.5)
    assert(viaOp.columns.toSeq == viaFlat.columns.toSeq)
    assert(viaOp.as[(Long, Long, Double)].collect().toSet ==
      viaFlat.as[(Long, Long, Double)].collect().toSet)
  }

  test("simhash: identical texts collide; planted near-dups within hamming 3") {
    val base = docs.where(col("doc_id") === 1L)
    val sh = Dedup.simhashes(docs, "text", "doc_id")
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L)) // identical normalized text -> same simhash
    val cands = Dedup.simhashCandidates(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
  }

  /** A session whose broadcast is disabled: clusterAssign takes its
    * distributed route there whatever the graph's size. The default
    * session's 10 MB threshold sends every graph below to the driver. */
  private lazy val distributed: SparkSession = sessionWithThreshold(-1)

  private def sessionWithThreshold(bytes: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    s
  }

  private def assignOn(s: SparkSession, pairs: Seq[(Long, Long)],
                       ids: Seq[Long], maxIter: Int = 10): DataFrame = {
    import s.implicits._
    Dedup.clusterAssign(pairs.toDF("id_a", "id_b"), ids.toDF("id"), maxIter)
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  /** clusterAssign's labels, asserted identical on both routes. */
  private def clusterLabels(pairs: Seq[(Long, Long)], ids: Seq[Long],
                            maxIter: Int = 10): Map[Long, Long] = {
    val viaDriver = labelsOf(assignOn(spark, pairs, ids, maxIter))
    val viaPropagation = labelsOf(assignOn(distributed, pairs, ids, maxIter))
    assert(viaDriver == viaPropagation,
      s"driver route $viaDriver != distributed route $viaPropagation")
    viaDriver
  }

  test("cluster assignment labels each component with its min id") {
    // components: {1,2,3} (chain), {4,5}, {6} singleton
    val labels = clusterLabels(Seq((1L, 2L), (2L, 3L), (4L, 5L)), 1L to 6L)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("cluster assignment converges on a long chain within maxIter hops") {
    // chain 1-2-3-...-9: min label must travel the whole chain
    val labels = clusterLabels((1L until 9L).map(i => (i, i + 1)), 1L to 9L,
      maxIter = 20)
    assert(labels.values.toSet == Set(1L))
  }

  test("pointer jumping converges a 40-hop chain within the default maxIter") {
    // plain one-hop propagation needs 40 iterations here (> default 10)
    // and used to return silently SPLIT labels; path doubling covers
    // distance ~2^maxIter, so the default must now label the whole chain
    val labels = clusterLabels((1L until 40L).map(i => (i, i + 1)), 1L to 40L)
    assert(labels.values.toSet == Set(1L))
  }

  test("unconverged clusterAssign throws instead of returning split labels") {
    // only the distributed route iterates (the driver route's union-find
    // cannot fail to converge), so broadcast is disabled here
    val e = intercept[graft.GraftError.Other] {
      assignOn(distributed, (1L until 40L).map(i => (i, i + 1)), 1L to 40L,
        maxIter = 2)
    }
    assert(e.code == 9999 && e.getMessage.contains("did not converge"))
  }

  test("clusterAssign with no pairs labels every id with itself") {
    assert(clusterLabels(Seq.empty, 1L to 4L) == (1L to 4L).map(i => i -> i).toMap)
  }

  test("both clusterAssign routes match a plain-Scala reference on a " +
    "seeded random graph with many components") {
    val rnd = new scala.util.Random(7L)
    val ids = 1L to 300L
    // ~0.6 edges per node, either orientation, self-loops and repeats
    // included: a forest of small trees plus a few larger components
    val pairs = Seq.fill(180)((1L + rnd.nextInt(300), 1L + rnd.nextInt(300)))
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    // ascending starts: the first id to reach a component is its min
    for (start <- ids if !expected.contains(start)) {
      var frontier = List(start)
      expected(start) = start
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(expected.contains).distinct
        frontier.foreach(expected(_) = start)
      }
    }
    assert(expected.values.toSet.size > 100, "the graph must have many components")
    assert(clusterLabels(pairs, ids) == expected.toMap)
  }

  test("the broadcast bound picks clusterAssign's route") {
    // 5 pairs: a threshold of 80 bytes (16 per pair) fits them, 64 does not
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L))
    val ids = 1L to 9L
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L)
    val fits = sessionWithThreshold(80)
    // the driver route: the pair checkpoint and one collect, every time
    val (viaDriver, driverJobs) = jobsStartedBy(assignOn(fits, pairs, ids))
    val (_, againJobs) = jobsStartedBy(assignOn(fits, pairs, ids))
    assert(driverJobs.size == 2 && againJobs.size == 2,
      s"driver route jobs: $driverJobs then $againJobs")
    assert(labelsOf(viaDriver) == expected)
    // a bound of 4 pairs: the propagation loop runs, same labels
    val (viaLoop, loopJobs) =
      jobsStartedBy(assignOn(sessionWithThreshold(64), pairs, ids))
    assert(loopJobs.size > 2, s"distributed route jobs: $loopJobs")
    assert(labelsOf(viaLoop) == expected)
  }

  test("nearDupAgainst finds every planted batch-vs-corpus match, nothing else") {
    import spark.implicits._
    // corpus: 30 distinct-ish long texts; batch: perturbed copies of 3
    // of them (planted matches) + 1 genuinely novel text (must match
    // nothing). Every planted pair must surface with high jaccard.
    val corpus = (0L until 30L).map(i =>
        (i, s"corpus document number $i with a long shared scaffold of " +
          s"words that makes five-gram sets rich enough to band reliably " +
          s"plus unique salt ${"abcdefghij".charAt((i % 10).toInt)}$i"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1000000L, "corpus document number 7 with a long shared scaffold of " +
        "words that makes five-gram sets rich enough to band reliably " +
        "plus unique salt h7 EDITED"),
      (1000001L, "corpus document number 12 with a long shared scaffold of " +
        "words that makes five-gram sets rich enough to band reliably " +
        "plus unique salt c12 EDITED"),
      (1000002L, "corpus document number 25 with a long shared scaffold of " +
        "words that makes five-gram sets rich enough to band reliably " +
        "plus unique salt f25 EDITED"),
      (1000003L, "an entirely novel nightly document sharing no scaffold " +
        "gram material with anything already stored in the corpus at all"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupAgainst(corpus, batch, "text", "doc_id",
        threshold = 0.5)
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect()
    val planted = Set((1000000L, 7L), (1000001L, 12L), (1000002L, 25L))
    assert(planted.subsetOf(out.map(r => (r._1, r._2)).toSet),
      s"every planted edit must match its parent, got ${out.toSeq}")
    assert(out.forall(_._3 >= 0.5))
    assert(!out.exists(_._1 == 1000003L), "the novel doc must match nothing")
    // the scaffold is shared corpus-wide, so batch docs may band with
    // non-parents too — those must verify BELOW parent jaccard
    out.filter(r => !planted((r._1, r._2))).foreach { r =>
      val parent = out.find(p => p._1 == r._1 && planted((p._1, p._2))).get
      assert(r._3 < parent._3,
        s"non-parent match ${r} must verify below the parent ${parent}")
    }
  }

  test("nearDupAgainst collapsed == flat on a duplicate-heavy corpus + batch") {
    import spark.implicits._
    // the hot-axis world in miniature: every corpus text appears many
    // times (with normalization variants) and the batch mirrors that
    // duplication (perturbed copies of replicated docs are themselves
    // replicated). The adaptive route must reproduce the flat output
    // exactly — including cross-slice exact-equal texts at jaccard 1.0
    // and every member-pair expansion — and drop null texts on both
    // slices.
    val baseTexts = Seq(
      "the quick brown fox jumps over the lazy dog tonight again",
      "completely different content about spark engines and parquet files",
      "a third corpus document concerning watermarks and streaming state")
    val corpus = baseTexts.zipWithIndex.flatMap { case (t, g) =>
      (0 until 6).map { c =>
        val v = c % 3 match {
          case 0 => t; case 1 => t.toUpperCase; case 2 => s"  $t "
        }
        (g * 100L + c, v)
      }
    } :+ (999L, null: String)
    val batch = Seq(
      // near-dup of base 0 (edited), replicated ×3 — duplicate-heavy batch
      (1000000L, baseTexts(0).replace("dog", "cat")),
      (1000001L, baseTexts(0).replace("dog", "cat")),
      (1000002L, baseTexts(0).replace("dog", "cat").toUpperCase),
      // EXACT copy of base 1 — must surface at jaccard 1.0 for every
      // corpus member of that group
      (1000003L, baseTexts(1)),
      (1000004L, null: String))
    val (cdf, bdf) = (corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"))
    assert(Dedup.duplicationHeavy(cdf, "text"),
      "planted corpus must route through the collapse")
    val got = Dedup.nearDupAgainst(cdf, bdf, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.nearDupAgainstFlat(cdf, bdf, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"collapsed=${got.size} flat=${want.size}; " +
      s"onlyCollapsed=${(got -- want).take(5)} onlyFlat=${(want -- got).take(5)}")
    // duplication actually exercised: the exact cross-slice group expands
    // to all 6 corpus members × its batch doc at exactly 1.0...
    assert(got.count(p => p._1 == 1000003L && p._3 == 1.0) == 6)
    // ...and the near-dup group to 6 members × 3 batch replicas below 1.0
    assert(got.count(p => p._1 <= 1000002L && p._2 / 100 == 0) == 18)
    assert(!got.exists(p => p._1 == 1000004L || p._2 == 999L),
      "null texts must pair with nothing on either slice")
  }

  test("collapsed nearDupAgainst is partitioning-independent") {
    // the expansion joins (rep maps × member maps) must not leak
    // partition order — single-partition execution is the degenerate
    // ordering that exposes it (ExecutionModeParitySpec's discipline;
    // the sf-gate corpora route flat, so the parity must be pinned here
    // on a corpus the probe sends through the collapse)
    import spark.implicits._
    val corpus = (0 until 40).map(i => (i.toLong, s"shared text ${i / 8} " * 8))
      .toDF("doc_id", "text")
    val batch = Seq((1000000L, "shared text 2 " * 8)).toDF("doc_id", "text")
    assert(Dedup.duplicationHeavy(corpus, "text"))
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val c = corpus.as[(Long, String)].collect().toSeq.toDF("doc_id", "text")
      val b = batch.as[(Long, String)].collect().toSeq.toDF("doc_id", "text")
      Dedup.nearDupAgainst(c, b, "text", "doc_id", 0.5)
        .as[(Long, Long, Double)].collect().toSet
    }
    val p1 = spark.newSession()
    p1.conf.set("spark.sql.shuffle.partitions", "1")
    assert(run(spark) == run(p1),
      "collapsed batch-vs-corpus output depends on partitioning")
  }

  test("nearDupAgainst plan: batch sides broadcast, corpus never shuffles text") {
    import spark.implicits._
    val corpus = (0L until 30L).map(i => (i, s"text number $i " * 5))
      .toDF("doc_id", "text")
    val batch = Seq((1000000L, "text number 7 " * 5)).toDF("doc_id", "text")
    val plan = Dedup.nearDupAgainst(corpus, batch, "text", "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"batch band keys and grams must broadcast:\n$plan")
  }
}
