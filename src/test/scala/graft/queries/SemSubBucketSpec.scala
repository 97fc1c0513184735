package graft.queries

import graft.SparkSpec
import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** s13's oversize-cell sub-bucketing (r16 verdict item 2): past semK's
  * 1024 ceiling the in-cell quadratic regrows as N²/1024, so cells over
  * [[SimilarityQueries.SemCellCap]] split by SECOND-nearest centroid
  * before pair generation. This spec pins the mechanism on a PLANTED hot
  * cell (the gate SFs never reach the cap — also pinned here):
  *
  *   - activation: members of the oversize cell key on cell2, everyone
  *     else on -1;
  *   - the pair bound: candidate pairs after the split are Σ g·(g−1)/2
  *     over sub-groups — strictly below the unsplit quadratic, and equal
  *     to the value the planted geometry predicts;
  *   - replicas stay comparable: each base vector and its +0.01 planted
  *     replica share (cell, sub), so the planted-positive design
  *     survives the split;
  *   - a cap nothing reaches is the identity: sub == -1 everywhere and
  *     the keyed assignment equals the pre-split shape.
  */
class SemSubBucketSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4
  // three well-separated centroids: the hot cell is A=0; members lean
  // toward B or C so their second-nearest split is deterministic
  private val cents: Array[Array[Double]] = Array(
    Array(0.0, 0.0, 0.0, 0.0),    // A — the planted hot cell
    Array(10.0, 0.0, 0.0, 0.0),   // B
    Array(0.0, 10.0, 0.0, 0.0))   // C

  /** 40 vectors in cell A: ids 0-19 lean toward B (+x), 20-39 toward C
    * (+y). Magnitude 1 keeps them unambiguously in A; the lean dominates
    * the +0.01 replica perturbation, so cell2 is stable under it. */
  private def hotCorpus = (0 until 40).map { i =>
    val v = new Array[Float](dim)
    if (i < 20) v(0) = 1.0f else v(1) = 1.0f
    v(2) = (i % 7) * 0.01f // a little in-cell spread
    (i.toLong, v.toSeq)
  }.toDF("vec_id", "embedding")

  test("planted hot cell splits by second-nearest centroid and the " +
    "candidate-pair count drops to the geometry's prediction") {
    val keyed = SimilarityQueries.semKeyed(hotCorpus, cents, cap = 50)
      .select("vec_id", "cell", "sub").as[(Long, Int, Int)].collect()
    assert(keyed.length == 80) // 40 + 40 replicas
    assert(keyed.forall(_._2 == 0), "everything lands in the hot cell A")
    // activation: cell A holds 80 > 50 members, so every member keys on
    // its second-nearest centroid — B for the +x half, C for the +y half
    assert(keyed.forall(_._3 != -1), "oversize cell must not key on -1")
    val groups = keyed.groupBy(r => (r._2, r._3)).view.mapValues(_.length)
    assert(groups.keySet == Set((0, 1), (0, 2)), s"got ${groups.keySet}")
    assert(groups.values.toSeq.sorted == Seq(40, 40))
    // the in-cell pair bound: 2 × C(40,2) vs the unsplit C(80,2)
    val pairs = groups.values.map(g => g.toLong * (g - 1) / 2).sum
    assert(pairs == 2L * 40 * 39 / 2, s"pairs=$pairs")
    assert(pairs < 80L * 79 / 2, "split must beat the unsplit quadratic")
  }

  test("each base vector and its planted replica share (cell, sub): the " +
    "planted-positive design survives the split") {
    val keyed = SimilarityQueries.semKeyed(hotCorpus, cents, cap = 50)
      .select("vec_id", "cell", "sub").as[(Long, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    (0L until 40L).foreach { id =>
      assert(keyed(id) == keyed(id + 1000000L),
        s"replica of $id split away: ${keyed(id)} vs ${keyed(id + 1000000L)}")
    }
  }

  test("a cap nothing reaches is the identity: sub == -1 everywhere") {
    val keyed = SimilarityQueries.semKeyed(hotCorpus, cents,
      cap = Int.MaxValue)
      .select("vec_id", "cell", "sub").as[(Long, Int, Int)].collect()
    assert(keyed.length == 80 && keyed.forall(_._3 == -1))
  }

  test("split-active values match a plain-Scala brute force: n_sem_dups " +
    "and keep_flag over the planted hot cell, exactly") {
    val got = SimilarityQueries
      .semanticDedupLayout(hotCorpus, cents, cap = 50)
      .select("vec_id", "cell", "n_sem_dups", "keep_flag")
      .as[(Long, Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // independent reimplementation: assignment (strict-< argmin then
    // second-best in (dist, cell) order), the replica float round-trip,
    // the >cap split, and the in-(cell, sub) lower-id cosine count
    val base = hotCorpus.as[(Long, Seq[Float])].collect()
    val all = base.map { case (id, v) => (id, v.map(_.toDouble).toArray) } ++
      base.map { case (id, v) =>
        (id + 1000000L,
          v.map(x => (x.toDouble + 0.01).toFloat.toDouble).toArray)
      }
    def dist2(v: Array[Double], c: Array[Double]): Double =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val assignedRef = all.map { case (id, v) =>
      val order = cents.indices.sortBy(i => (dist2(v, cents(i)), i))
      (id, v, order(0), order(1))
    }
    val sizes = assignedRef.groupBy(_._3).view.mapValues(_.length)
    val keyedRef = assignedRef.map { case (id, v, c1, c2) =>
      (id, v, c1, if (sizes(c1) > 50) c2 else -1)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = keyedRef.map { case (id, v, c1, s) =>
      val n = keyedRef.count { case (id2, v2, c12, s2) =>
        id2 < id && c12 == c1 && s2 == s && cos(v2, v) >= 0.8
      }
      id -> ((c1, n.toLong, if (n == 0) 1 else 0))
    }.toMap
    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
    // the planted geometry actually exercises both outcomes
    assert(got.values.exists(_._3 == 0) && got.values.exists(_._3 == 1))
  }

  test("gate-SF geometry never reaches SemCellCap: the production cap " +
    "is dormant where the oracle matrix runs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val k = SimilarityQueries.semK(emb.count())
    val trained = Similarity.trainCentroids(emb, k = k,
      maxSample = math.max(1024, 16 * k))
    val maxCell = SimilarityQueries
      .semKeyed(emb, trained, SimilarityQueries.SemCellCap)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(max("n")).as[Long].collect()(0)
    assert(maxCell <= SimilarityQueries.SemCellCap,
      s"sf0.001 has a $maxCell-member cell — the spec's 'dormant at " +
        "gate SFs' claim is stale; re-derive the cap story")
  }

  test("the keyed assignment materializes ONCE: both pair-join sides " +
    "read one reused cell exchange (r17 plan pin)") {
    // pre-r17, the keep-flag branch pruned vf out of its copy of the
    // keyed subtree and inferred-isnotnull filters rewrote the build
    // side's copy — the copies stopped canonicalizing equal and the
    // scan+argmin pass ran 3-4x per query. The left-outer reform plus
    // non-nullable keys restored stage-cache reuse; this pin fails if
    // either regression returns.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val k = SimilarityQueries.semK(emb.count())
    val trained = Similarity.trainCentroids(emb, k = k,
      maxSample = math.max(1024, 16 * k))
    val df = SimilarityQueries.semanticDedupLayout(emb, trained,
      SimilarityQueries.SemCellCap)
    df.collect()
    // AdaptiveSparkPlan prints the final plan AND the pre-AQE initial
    // plan; count nodes in the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange"),
      "no ReusedExchange in the final adaptive plan — the keyed " +
        "assignment is being materialized more than once:\n" +
        plan.take(4000))
    val repartitions = "REPARTITION_BY_COL".r
      .findAllMatchIn(plan).size
    val reused = "ReusedExchange".r.findAllMatchIn(plan).size
    assert(repartitions - reused == 1,
      s"$repartitions cell-exchange materializations for $reused reuses " +
        "— expected exactly one materialized pass:\n" + plan.take(4000))
  }
}
