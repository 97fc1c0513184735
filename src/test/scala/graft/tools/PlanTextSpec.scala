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

  test("RDD IDs renumber per plan; call-site lines and identity hashes are dropped") {
    val line = "Arguments: [o_orderpriority#5, bucket#6L, bn#7L], " +
      "MapPartitionsRDD[36] at localCheckpoint at EngineQueries.scala:314, " +
      "ExistingRDD, UnknownPartitioning(0)"
    assert(PlanText.renumberIds(line) ==
      "Arguments: [o_orderpriority#1, bucket#2L, bn#3L], " +
      "MapPartitionsRDD[1] at localCheckpoint at EngineQueries.scala, " +
      "ExistingRDD, UnknownPartitioning(0)")
    val objects = "Arguments: graft.multimodal.Multimodal$$$Lambda$5136/" +
      "0x00007fec6d3fc400@6ff5eeed, obj#3: scala.Tuple2\n" +
      "Output [1]: [ivfcells(v#12, [[D@3f2cc8ab, 2) AS cc#14]"
    assert(PlanText.renumberIds(objects) ==
      "Arguments: graft.multimodal.Multimodal$$$Lambda, obj#1: scala.Tuple2\n" +
      "Output [1]: [ivfcells(v#2, [[D, 2) AS cc#3]")
  }

  test("file scan locations print as one token in every run and checkout") {
    val xml = "Location: InMemoryFileIndex [file:/tmp/graft_xml_roundtrip_8123]"
    val catalog = "Location: InMemoryFileIndex [file:/home/dev/graft/" +
      "spark-warehouse/graft_wh.db/lineitem_ds_d178f9eb/ds=19960102]\n" +
      "PartitionFilters: [isnotnull(ds#41), (ds#41 = 19960102)]"
    assert(PlanText.renumberIds(xml) == "Location: InMemoryFileIndex [<path>]")
    assert(PlanText.renumberIds(catalog) ==
      "Location: InMemoryFileIndex [<path>]\n" +
      "PartitionFilters: [isnotnull(ds#1), (ds#1 = 19960102)]")
    assert(PlanText.renumberIds("Location: CatalogFileIndex(2 paths)" +
      "[file:/a/t/ds=1, file:/a/t/ds=2]") ==
      "Location: CatalogFileIndex(2 paths)[<path>]")
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
