package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

class MainSpec extends SparkSpec {

  private def writeConf(dir: String, extra: String = ""): String = {
    val map = s"$dir/dump.map"
    Files.writeString(java.nio.file.Paths.get(map),
      """id=l_orderkey
        |flag=l_returnflag
        |ds=$ds
        |version=#2.0""".stripMargin)
    val conf = s"$dir/dump.conf"
    Files.writeString(java.nio.file.Paths.get(conf),
      s"""source_dir=$sf
         |source_table=lineitem
         |date_column=l_shipdate
         |ds=19960102
         |dump_map_file=$map
         |dump_sql_file=$dir/dump.sql
         |mysql_table=db.t
         |$extra""".stripMargin)
    conf
  }

  test("conf-driven run generates the stage-B SQL artifact") {
    val dir = Files.createTempDirectory("graft_main").toString
    val n = Main.run(writeConf(dir), Some(spark))
    assert(n >= 1)
    val sql = Files.readString(java.nio.file.Paths.get(s"$dir/dump.sql"))
    assert(sql.startsWith("#data timestamp: "))
    assert(sql.contains("insert into db.t (id,flag,ds,version) values"))
    assert(sql.contains("'19960102'") && sql.contains("'2.0'"))
  }

  test("without a session argument, the thread's active session is used " +
    "with its confs untouched") {
    val dir = Files.createTempDirectory("graft_main").toString
    val prev = SparkSession.getActiveSession
    val iso = SparkSpec.session.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", "3")
    SparkSession.setActiveSession(iso)
    try {
      assert(Main.run(writeConf(dir)) >= 1)
      assert(SparkSession.getActiveSession.contains(iso))
      assert(iso.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(iso.experimental.extraOptimizations
        .contains(graft.plans.DsRangeRewrite))
    } finally
      prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(SparkSession.getActiveSession == prev)
  }

  test("empty partition honors the 9998 contract through the CLI path") {
    val dir = Files.createTempDirectory("graft_main").toString
    val conf = writeConf(dir, "ds=19000101\nerror_if_none_data=true")
    // overwrite ds (last key wins, Properties semantics)
    assert(intercept[GraftError.NoData](Main.run(conf, Some(spark))).code == 9998)
  }

  test("dry-run mode plans but writes nothing") {
    val dir = Files.createTempDirectory("graft_main").toString
    val conf = writeConf(dir, "mode=test")
    assert(Main.run(conf, Some(spark)) == 0L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/dump.sql")))
  }

  test("hive_db reads through the session catalog; mysql_db qualifies the sink") {
    spark.sql("CREATE DATABASE IF NOT EXISTS hdb")
    spark.sql("DROP TABLE IF EXISTS hdb.lineitem")
    spark.sql(s"CREATE TABLE hdb.lineitem USING parquet LOCATION '$sf/lineitem.parquet'")
    val dir = Files.createTempDirectory("graft_main").toString
    val conf = writeConf(dir,
      "hive_db=hdb\nhive_table=lineitem\nmysql_db=mydb\nmysql_table=t2")
    val n = Main.run(conf, Some(spark))
    assert(n >= 1)
    val sql = Files.readString(java.nio.file.Paths.get(s"$dir/dump.sql"))
    assert(sql.contains("insert into mydb.t2 "))
  }

  test("a second ds day of the same table plans with no Spark job") {
    // a private copy of the table, so the first run is a schema-memo miss
    // whatever other suites have already scanned
    val src = trackedTempDir("graft_main_src")
    Files.copy(java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      java.nio.file.Paths.get(s"$src/lineitem.parquet"))
    def runDay(ds: String) = jobsStartedBy(Main.run(
      writeConf(trackedTempDir("graft_main"), s"source_dir=$src\nds=$ds"),
      Some(spark)))
    val (n1, first) = runDay("19950405")
    val (n2, second) = runDay("19971106")
    assert(n1 == 8 && n2 == 8)
    // Pipeline.run plans, then counts: every job before the count is the
    // plan's. The first day's plan infers the schema; the second's reuses it.
    def planJobs(jobs: Seq[String]) =
      jobs.takeWhile(!_.startsWith("count at Pipeline.scala"))
    assert(planJobs(first).size == 1 && first.size > 1, first)
    assert(planJobs(second).isEmpty, second)
    assert(second.size == first.size - 1, s"$first vs $second")
  }

  test("JDBC sink path loads into Derby idempotently from conf") {
    val url = "jdbc:derby:memory:graftmain;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE main_t (id BIGINT, flag VARCHAR(4), ds VARCHAR(8), version VARCHAR(8))")
    conn.close()
    val dir = Files.createTempDirectory("graft_main").toString
    val conf = writeConf(dir,
      s"mysql_url=$url\nmysql_table=main_t\ndelete_before_dump=true")
    val n1 = Main.run(conf, Some(spark))
    val n2 = Main.run(conf, Some(spark)) // re-import must not duplicate
    assert(n1 == n2)
    val rows = spark.read.jdbc(url, "main_t", new java.util.Properties()).count()
    assert(rows == n1)
  }

  test("the run report carries ds, rows, elapsed time and the exit code") {
    val data = Main.report(writeConf(trackedTempDir("graft_main")), Some(spark))
    assert(data.ds.contains("19960102") && data.rows >= 1 &&
      data.exitCode == 0 && data.elapsedS > 0, data)
    assert(data.json.matches(s"""\\{"ds":"19960102","rows":${data.rows},""" +
      """"elapsed_s":[0-9.]+,"exit_code":0}"""), data.json)
    val empty = Main.report(writeConf(trackedTempDir("graft_main"),
      "ds=19000101\nerror_if_none_data=true"), Some(spark))
    assert(empty.ds.contains("19000101") && empty.rows == 0 &&
      empty.exitCode == 9998, empty)
    val missing = Main.report(s"${trackedTempDir("graft_main")}/absent.conf",
      Some(spark))
    assert(missing.ds.isEmpty && missing.rows == 0 &&
      missing.exitCode == 9999, missing)
    assert(missing.json.matches(
      """\{"ds":null,"rows":0,"elapsed_s":[0-9.]+,"exit_code":9999}"""),
      missing.json)
  }
}
