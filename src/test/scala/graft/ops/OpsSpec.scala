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

  // The §2 row 15 empty-data check lives only in Pipeline.run: both
  // policies on one empty day.
  test("empty day: 9998 under Fail, 0 and no sink call under Ok") {
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

  private val lineitemMap = FieldMapping.parseString("id=l_orderkey\nds=$ds")
  private val dataDay = DumpConf(Map("ds" -> "19960102"))
  private val emptyDay = DumpConf(Map("ds" -> "19000101",
    "error_if_none_data" -> "false"))

  private def importDay(conf: DumpConf,
                        session: org.apache.spark.sql.SparkSession = spark)
                       (sink: org.apache.spark.sql.DataFrame => Unit): Long =
    graft.pipeline.Pipeline.run(session, sf, "lineitem", "l_shipdate",
      conf, lineitemMap)(sink)

  private def forceNoop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a data day runs 2 Spark jobs and no shuffle; an empty day runs 1") {
    importDay(dataDay)(forceNoop) // infers the schema if no suite has yet
    val (n, data) = sparkWorkOf(importDay(dataDay)(forceNoop))
    assert(n >= 1)
    // the count fills the cache, the sink reads it back
    assert(data.jobs.size == 2, data.jobs)
    assert(data.tasks.nonEmpty &&
      data.tasks.forall(_.taskType == "ResultTask"), data.tasks.map(_.taskType))
    val (zero, empty) = sparkWorkOf(importDay(emptyDay)(forceNoop))
    assert(zero == 0 && empty.jobs.size == 1, empty.jobs)
  }

  // the benchmark's traced run times the count by this action
  test("each import reports exactly one `count` SQL action") {
    // a session of its own: its listener sees no other suite's actions
    val iso = spark.newSession()
    val actions = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.put(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.put(funcName)
    }
    // actions up to and including a sentinel `collect` on `iso`: listener
    // events are delivered in order, so everything before it has arrived
    def actionsOf(conf: DumpConf): Seq[String] = {
      importDay(conf, iso)(forceNoop)
      iso.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("collect") &&
             System.nanoTime() < deadline)
        Option(actions.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS))
          .foreach(seen += _)
      assert(seen.lastOption.contains("collect"), seen)
      seen.toSeq
    }
    iso.listenerManager.register(listener)
    try for (conf <- Seq(dataDay, emptyDay)) {
      val seen = actionsOf(conf)
      assert(seen.count(_ == "count") == 1, seen)
    } finally iso.listenerManager.unregister(listener)
  }

  test("the JDBC sink reads the cache, not the source a second time") {
    val url = "jdbc:derby:memory:graftpipeline;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE pipeline_t (id BIGINT, ds VARCHAR(8))")
    finally conn.close()
    val tableRows = spark.read.parquet(s"$sf/lineitem.parquet").count()
    importDay(dataDay)(forceNoop) // infers the schema if no suite has yet
    val (n, work) = sparkWorkOf(importDay(dataDay) { df =>
      graft.sink.JdbcIdempotentSink.write(df, url, "pipeline_t",
        Seq("ds" -> "19960102"), batchSize = 100)
    })
    assert(n >= 1)
    // the count's scan reads the source once; reading the cache back adds
    // one record per cached batch
    val read = work.tasks.map(_.taskMetrics.inputMetrics.recordsRead).sum
    assert(read >= tableRows && read < 2 * tableRows,
      s"$read records read for a $tableRows-row table")
  }
}
