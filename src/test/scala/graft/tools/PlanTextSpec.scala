package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PlanTextSpec extends SparkSpec {

  test("IDs renumber densely per kind in order of first appearance, links kept") {
    val plan = "Project [a#912L, b#40, a#912L AS c#7]\n" +
      "Exchange hashpartitioning(b#40, 4), [plan_id=311]\n" +
      "ReusedExchange [b#40], [plan_id=305]"
    assert(PlanText.renumberIds(plan) ==
      "Project [a#1L, b#2, a#1L AS c#3]\n" +
      "Exchange hashpartitioning(b#2, 4), [plan_id=1]\n" +
      "ReusedExchange [b#2], [plan_id=2]")
  }

  test("the same query built twice prints the same text") {
    import spark.implicits._
    def q = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .groupBy(col("v")).agg(sum(col("k")).as("s"))
    val (first, second) = (q, q)
    assert(first.queryExecution.executedPlan.toString !=
      second.queryExecution.executedPlan.toString, "IDs were expected to differ")
    assert(PlanText.formatted(first) == PlanText.formatted(second))
  }
}
