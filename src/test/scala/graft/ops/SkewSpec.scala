package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 90% of rows share one hot key
  private def skewed = (1 to 2000)
    .map(i => (if (i % 10 == 0) i.toLong else 7L, i))
    .toDF("k", "v")

  test("salt is deterministic across recomputation and spreads the hot key") {
    val salted = skewed.withColumn("__s", Skew.rowSalt(skewed, 8))
    // recomputing the same plan twice yields identical salts (a task retry
    // would too — unlike monotonically_increasing_id)
    val a = salted.collect().map(_.toSeq).toSeq
    val b = salted.collect().map(_.toSeq).toSeq
    assert(a == b)
    // the hot key's rows land on many salts, not one
    val hotSalts = Skew.saltedAgg(skewed, "k", 8, sum, sum, "v", "s")
    assert(hotSalts.count() == skewed.select("k").distinct().count())
    val perSalt = salted.where(col("k") === 7L).select("__s").distinct().count()
    assert(perSalt >= 6, s"hot key should spread over most of 8 salts, got $perSalt")
  }

  test("salted agg's first shuffle hashes on (key, salt)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = Skew.saltedAgg(skewed, "k", 8, sum, sum, "v", "s")
      .queryExecution.executedPlan
    val root = plan match { // AQE wraps the tree; audit the initial plan
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    // the partial aggregate's Exchange is the one with no Exchange below it
    val first = root.collect {
      case e: ShuffleExchangeExec
          if e.child.collect { case c: ShuffleExchangeExec => c }.isEmpty => e
    }
    assert(first.size == 1, s"expected one bottom Exchange:\n$root")
    val keys = first.head.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: AttributeReference => a.name }
      case other => fail(s"expected hash partitioning, got $other")
    }
    assert(keys.toSet == Set("k", "__salt"), s"shuffle key must include the salt:\n$root")
  }

  test("two-phase salted agg equals the direct aggregation") {
    val direct = skewed.groupBy("k").agg(sum("v").as("s"))
      .as[(Long, Long)].collect().toMap
    val salted = Skew.saltedAgg(skewed, "k", 8, sum, sum, "v", "s")
      .as[(Long, Long)].collect().toMap
    assert(salted == direct)
  }
}
