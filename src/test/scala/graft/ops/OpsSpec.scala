package graft.ops

import org.apache.spark.sql.functions._

import graft.{GraftError, SparkSpec}
import graft.conf._

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  test("project applies rename + constants in mapping file order") {
    val df = Seq((1, "x", 9.9)).toDF("c1", "c2", "c3")
    val m = FieldMapping.parseString("b=c2\na=c1\nds=$ds\nv=#7")
    val out = CoreOps.project(df, m, Map("ds" -> "20240101"))
    assert(out.columns.toSeq == Seq("b", "a", "ds", "v"))
    assert(out.collect().map(_.toSeq).head == Seq("x", 1, "20240101", "7"))
  }

  test("project under Fail policy raises 9997 for a missing source column") {
    val df = Seq((1, "x")).toDF("c1", "c2")
    val m = FieldMapping.parseString("a=c1\nb=ghost")
    val e = intercept[GraftError.MissingSourceField](
      CoreOps.project(df, m, Map.empty, MissingFieldPolicy.Fail))
    assert(e.code == 9997)
  }

  test("normalizeNulls converts only the NULL sentinel, only in strings") {
    val df = Seq(("NULL", "ok", 1), ("x", "NULL", 2)).toDF("a", "b", "n")
    val out = CoreOps.normalizeNulls(df).collect()
    assert(out(0).isNullAt(0) && out(0).getString(1) == "ok")
    assert(out(1).getString(0) == "x" && out(1).isNullAt(1))
    assert(out.map(_.getInt(2)).toSet == Set(1, 2))
  }

  // The §2 row 15 empty-data check lives only in Pipeline.run now (the
  // CoreOps.checkNonEmpty copy is gone); this case keeps its old name and
  // checks both policies on one empty day through that single check.
  test("checkNonEmpty raises 9998 under Fail, passes data through under Ok") {
    val m = FieldMapping.parseString("id=l_orderkey")
    def runEmpty(conf: DumpConf): Long =
      graft.pipeline.Pipeline.run(spark, sf, "lineitem", "l_shipdate",
        conf, m)(_ => fail("sink called on an empty day"))
    val failConf = DumpConf(Map("ds" -> "19000101"))
    assert(failConf.emptyDataPolicy == EmptyDataPolicy.Fail)
    assert(intercept[GraftError.NoData](runEmpty(failConf)).code == 9998)
    val okConf = DumpConf(Map("ds" -> "19000101",
      "error_if_none_data" -> "false"))
    assert(okConf.emptyDataPolicy == EmptyDataPolicy.Ok)
    assert(runEmpty(okConf) == 0)
  }

  test("withDs + partitionFilter reproduce the reference ds= semantics") {
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2))
      .toDF("d", "v").withColumn("d", to_date(col("d")))
    val withDs = df.withColumn("ds", CoreOps.withDs(col("d")))
    val out = CoreOps.partitionFilter(withDs, col("ds"), "20240102").collect()
    assert(out.map(_.getAs[Int]("v")).toSeq == Seq(2))
  }
}

class TsvSourceSpec extends SparkSpec {
  import spark.implicits._

  test("stripPrefix strips through the first dot only (HiveToMysql.java:532-545)") {
    assert(TsvSource.stripPrefix("tbl.field") == "field")
    assert(TsvSource.stripPrefix("tbl.a.b") == "a.b")
    assert(TsvSource.stripPrefix("plain") == "plain")
  }

  test("round-trip: prefixed header, NULL sentinel, echo row filtered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_spec").toString
    val df = Seq(("1", "a"), ("2", null)).toDF("id", "v")
    TsvSource.write(df, dir, "t")
    val back = TsvSource.read(spark, dir)
    assert(back.columns.toSeq == Seq("id", "v"))
    val rows = graft.ops.CoreOps.normalizeNulls(back)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("1", "a"), ("2", null)))
  }

  test("a data row equal to the header is dropped; embedding header text is kept") {
    val df = Seq(("t.id", "t.v"), ("contains t.id text", "x"), ("3", "y"))
      .toDF("id", "v")
    val filtered = TsvSource.dropHeaderEchoes(df, Seq("t.id", "t.v"))
    val ids = filtered.collect().map(_.getString(0)).toSet
    // full-equality row dropped; the reference's indexOf containment bug
    // would also have dropped the "contains t.id text" row — we keep it
    assert(ids == Set("contains t.id text", "3"))
  }

  test("an empty (headerless) TSV aborts with 9995 (HiveToMysql.java:302)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_empty")
    java.nio.file.Files.createFile(dir.resolve("part-00000.csv"))
    val e = intercept[GraftError.MissingHeader](
      TsvSource.read(spark, dir.toString))
    assert(e.code == 9995)
  }

  test("requireFullWidth raises 9996 when mapped columns have short rows") {
    val df = Seq(("1", "a"), ("2", null)).toDF("id", "v")
    assert(intercept[GraftError.RowWidthMismatch](
      TsvSource.requireFullWidth(df, Seq("id", "v"))).code == 9996)
    // unmapped short column is fine
    TsvSource.requireFullWidth(df, Seq("id"))
  }
}

class PipelineSpec extends SparkSpec {

  test("end-to-end plan matches the reference happy path and dry-run skips execution") {
    val conf = DumpConf(Map("ds" -> "19960102", "mode" -> "test"))
    val m = FieldMapping.parseString("id=l_orderkey\nds=$ds")
    var sunk = false
    val n = graft.pipeline.Pipeline.run(spark, sf, "lineitem", "l_shipdate",
      conf, m)(_ => sunk = true)
    assert(n == 0 && !sunk) // dry-run: plan printed, nothing executed
  }

  test("empty partition + error_if_none_data=true aborts with 9998") {
    val conf = DumpConf(Map("ds" -> "19000101"))
    val m = FieldMapping.parseString("id=l_orderkey")
    val e = intercept[GraftError.NoData] {
      graft.pipeline.Pipeline.run(spark, sf, "lineitem", "l_shipdate",
        conf, m)(_ => ())
    }
    assert(e.code == 9998)
  }

  test("empty partition + error_if_none_data=false returns 0 and never " +
    "calls the sink") {
    val conf = DumpConf(Map("ds" -> "19000101",
      "error_if_none_data" -> "false"))
    val m = FieldMapping.parseString("id=l_orderkey")
    var sunk = false
    val n = graft.pipeline.Pipeline.run(spark, sf, "lineitem", "l_shipdate",
      conf, m)(_ => sunk = true)
    assert(n == 0 && !sunk)
  }

  test("skip_sql_to_target skips the sink but still counts") {
    val conf = DumpConf(Map("ds" -> "19960102", "skip_sql_to_target" -> "true"))
    val m = FieldMapping.parseString("id=l_orderkey")
    var sunk = false
    val n = graft.pipeline.Pipeline.run(spark, sf, "lineitem", "l_shipdate",
      conf, m)(_ => sunk = true)
    assert(n >= 1 && !sunk)
  }
}
