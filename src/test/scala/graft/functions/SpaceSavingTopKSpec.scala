package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SpaceSavingTopKSpec extends SparkSpec {
  import spark.implicits._

  test("recovers the exact top-k on skewed data, with honest error bounds") {
    registerSqlFunctions()
    // Zipf-ish: token i appears ~1000/i times; heavy hitters dominate
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"tok$i"))
    val df = rows.toDF("t").repartition(8) // force partial+merge path
    val got = df.agg(expr("topk_values(t, 5)").as("top"))
      .selectExpr("inline(top)")
      .as[(String, Long, Long)].collect()
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exactTop = exact.toSeq.sortBy { case (v, c) => (-c, v) }.take(5)
    assert(got.map(_._1).toSeq == exactTop.map(_._1),
      s"top-5 set/order mismatch: ${got.toSeq} vs $exactTop")
    got.foreach { case (v, cnt, err) =>
      val truth = exact(v)
      assert(cnt >= truth && cnt - err <= truth,
        s"$v: bounds [${cnt - err}, $cnt] must bracket $truth")
    }
  }

  test("sketch state stays bounded: far more distinct values than capacity") {
    registerSqlFunctions()
    // 10k distinct values, capacity is 8*3=24 — must not OOM or crash,
    // and the guaranteed-heavy hitter must survive
    val rows = (1 to 10000).map(i => s"v$i") ++ Seq.fill(5000)("heavy")
    val got = rows.toDF("t").repartition(4)
      .agg(expr("topk_values(t, 3)").as("top"))
      .selectExpr("inline(top)").as[(String, Long, Long)].collect()
    assert(got.length == 3)
    assert(got.head._1 == "heavy", s"heavy hitter must rank first: ${got.toSeq}")
    assert(got.head._2 >= 5000, "count is an upper bound on the truth")
  }

  test("heavy hitters over the documents corpus match exact counting") {
    registerSqlFunctions()
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
    val sketch = toks.agg(expr("topk_values(t, 10)").as("top"))
      .selectExpr("inline(top)").as[(String, Long, Long)].collect()
      .map(_._1).toSeq
    val exact = toks.groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(10)
      .as[(String, Long)].collect().map(_._1).toSeq
    assert(sketch == exact,
      s"sketch top-10 $sketch != exact $exact on the harness corpus")
  }
}
