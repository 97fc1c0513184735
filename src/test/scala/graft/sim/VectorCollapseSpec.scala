package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

/** lshNearDupPairs' adaptive vector exact-collapse (the ×100-sampled-cell
  * fix): on a corpus where embeddings repeat verbatim (duplicated docs →
  * duplicated vectors; every scaled world replicates vectors by
  * construction) the candidate join must collapse byte-identical vectors
  * before the cosine verify and expand after — output-identical to the
  * flat form, including the zero-norm edge: FloatCosine returns NULL on a
  * zero vector, so a group of identical ZERO vectors must vanish from
  * both routes (a hardcoded intra payload of 1.0 would fabricate pairs
  * the flat route never emits). A null embedding has no key, no bucket
  * codes and no cosine, so both routes must drop it too. */
class VectorCollapseSpec extends SparkSpec {

  private def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }

  /** 40 distinct unit vectors (dim 64), each duplicated 8× — plus one
    * near-dup planted pair, one all-zero group and one null embedding. */
  private def corpus(): DataFrame = {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    val bases = (0 until 40).map { _ =>
      unit(Array.fill(64)(rnd.nextGaussian()).toIndexedSeq: _*)
    }
    val rows = bases.zipWithIndex.flatMap { case (v, i) =>
      (0 until 8).map(r => (i * 100L + r, v))
    } ++ Seq(
      // a near-dup of base 0 (tiny perturbation, cosine ≈ 0.9999…)
      (8000L, unit(bases(0).map(_.toDouble + 0.001).toIndexedSeq: _*)),
      // an identical zero-vector pair: must appear in NEITHER route
      (9000L, Array.fill(64)(0f)),
      (9001L, Array.fill(64)(0f)),
      // a null embedding: must appear in NEITHER route
      (9500L, null: Array[Float]))
    rows.toDF("vec_id", "embedding")
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("collapsed route == flat form on a duplicate-heavy vector corpus") {
    val df = corpus()
    val base = df.select(col("vec_id").as("id"), col("embedding").as("vf"))
    assert(Dedup.duplicationHeavy(base, "vf", Dedup.Identity.Vector),
      "planted corpus must trip the routing probe")
    val routed = asSet(Similarity.lshNearDupPairs(df, threshold = 0.8))
    val flat = asSet(Similarity.lshNearDupPairsFlat(base, threshold = 0.8))
    assert(routed == flat,
      s"collapsed-route output diverged from the flat form: " +
        s"only-routed=${(routed -- flat).take(5)} " +
        s"only-flat=${(flat -- routed).take(5)}")
    // verbatim-duplicate intra pairs surface with self-cosine 1.0
    assert(routed.exists { case (a, b, s) =>
      a / 100 == b / 100 && a < 8000 && s == 1.0 })
    // the planted near-dup pair survives with its true (< 1.0) cosine,
    // expanded to every duplicate of base 0
    val nearDups = routed.filter { case (a, b, s) =>
      b == 8000L && a < 100 && s < 1.0 && s >= 0.999 }
    assert(nearDups.size == 8, s"expected 8 expanded near-dup pairs, " +
      s"got $nearDups")
    // the sf-gate embeddings stay on the flat route (distinct vectors)
    val gate = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(!Dedup.duplicationHeavy(gate, "embedding", Dedup.Identity.Vector))
  }

  test("identical zero vectors are dropped by both routes") {
    val df = corpus()
    val base = df.select(col("vec_id").as("id"), col("embedding").as("vf"))
    val routed = asSet(Similarity.lshNearDupPairs(df, threshold = 0.8))
    val flat = asSet(Similarity.lshNearDupPairsFlat(base, threshold = 0.8))
    for (s <- Seq(routed, flat))
      assert(!s.exists { case (a, b, _) => a >= 9000L || b >= 9000L },
        "zero-norm and null-vector pairs must not survive the cosine filter")
  }
}
