package graft.queries

import graft.SparkSpec

/** Pins the dump's per-query guard ([[Registry.oracleSqlFor]]): an oracle
  * thunk that throws costs that query its oracle, not the whole dump. */
class OracleSentinelSpec extends SparkSpec {

  test("a throwing oracle thunk yields its sentinel") {
    val broken = NamedQuery("zz_untrained", (s, _) => s.range(1).toDF(), None,
      oracleFn = Some(() =>
        throw new IllegalStateException("no 'merges' trained\nsecond line")))
    val healthy = Registry.all.find(_.name == "p01_flagship").get
    val sql = Registry.oracleSqlFor(_ => true, Seq(broken, healthy))
    assert(sql.keySet == Set("zz_untrained", "p01_flagship"))
    assert(sql("p01_flagship") == healthy.oracle.get)

    val sentinel = sql("zz_untrained")
    assert(sentinel.contains("zz_untrained") &&
      sentinel.contains("no ''merges'' trained | second line"),
      s"sentinel must name the query and carry the message: $sentinel")
    val df = spark.sql(sentinel)
    assert(df.columns.toSeq == Seq(Registry.OracleFailedColumn))
    assert(df.count() == 1)
    // the sentinel matches no engine output, the empty one included: it
    // has one row, and its one column is in no registered query's schema
    val carriers = Registry.queries.toSeq.collect {
      case (name, fn)
          if fn(spark, sf).schema.fieldNames.contains(Registry.OracleFailedColumn) =>
        name
    }
    assert(carriers.isEmpty, s"queries outputting the sentinel column: $carriers")
  }
}
