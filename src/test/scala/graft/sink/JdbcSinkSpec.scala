package graft.sink

import graft.SparkSpec

/** Idempotent keyed-overwrite sink against embedded Derby — proves the
  * reference's delete_before_dump re-import semantics
  * (HiveToMysql.java:270-282): re-running the same logical partition does
  * not duplicate rows; other partitions are untouched. */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("keyed delete + append is idempotent per logical partition") {
    import spark.implicits._
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE sink_t (id INT, v VARCHAR(20), ds VARCHAR(8))")
    conn.close()

    def load(ds: String, rows: Seq[(Int, String)]): Unit =
      JdbcIdempotentSink.write(
        rows.map { case (i, v) => (i, v, ds) }.toDF("id", "v", "ds"),
        url, "sink_t", keys = Seq("ds" -> ds), batchSize = 2)

    load("20240101", Seq(1 -> "a", 2 -> "b"))
    load("20240102", Seq(3 -> "c"))
    // re-import 20240101 with corrected data — must overwrite, not append
    load("20240101", Seq(1 -> "a2", 2 -> "b2", 9 -> "z"))

    val out = spark.read.jdbc(url, "sink_t", new java.util.Properties())
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1, "a2", "20240101"), (2, "b2", "20240101"),
      (9, "z", "20240101"), (3, "c", "20240102")))
  }

  test("a batchsize below 1 fails before the keyed DELETE") {
    import spark.implicits._
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE sink_b (id INT, v VARCHAR(20), ds VARCHAR(8))")
    conn.close()
    def load(rows: Seq[(Int, String)], batchSize: Int): Unit =
      JdbcIdempotentSink.write(
        rows.map { case (i, v) => (i, v, "20240101") }.toDF("id", "v", "ds"),
        url, "sink_b", keys = Seq("ds" -> "20240101"), batchSize = batchSize)

    load(Seq(1 -> "a", 2 -> "b"), batchSize = 2)
    val err = intercept[Exception](load(Seq(3 -> "c"), batchSize = 0))
    val out = spark.read.jdbc(url, "sink_b", new java.util.Properties())
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "b")))
    assert(err.isInstanceOf[graft.GraftError.Other], err)
  }

  test("no constants -> no delete (reference: delete only on mapped constants)") {
    assert(JdbcIdempotentSink.deleteStatement("t", Nil).isEmpty)
    val Some((sql, params)) =
      JdbcIdempotentSink.deleteStatement("t", Seq("ds" -> "1", "v" -> "2"))
    assert(sql == "delete from t where 1=1 and ds = ? and v = ?")
    assert(params == Seq("1", "2"))
  }
}
