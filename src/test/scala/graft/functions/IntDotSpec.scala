package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IntDotSpec extends SparkSpec {
  import spark.implicits._

  test("native int_dot matches the builtin long-fold exactly") {
    registerSqlFunctions()
    val pairs = Seq(
      (Seq(1, 2, 3), Seq(4, 5, 6)),           // 4+10+18 = 32
      (Seq(-127, 127, 0), Seq(127, 127, 9)),  // -16129+16129+0 = 0
      (Seq.empty[Int], Seq.empty[Int])
    ).toDF("a", "b")
    val rows = pairs.select(
        expr("int_dot(a, b)").as("native"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("long") * y.cast("long")),
          lit(0L), (acc, v) => acc + v).as("builtin"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows.map(_.getLong(0)).toSeq == Seq(32L, 0L, 0L))
  }

  test("length mismatch truncates; NULL input yields NULL") {
    registerSqlFunctions()
    val df = Seq(
      (1L, Some(Seq(2, 3, 99)), Some(Seq(10, 10))), // truncated: 20+30
      (2L, None: Option[Seq[Int]], Some(Seq(1)))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), expr("int_dot(a, b)").as("d"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 50L)
    assert(out(1).isNullAt(1))
  }

  test("worst-case int8 magnitudes cannot overflow the long accumulator") {
    // 64 products of ±127·±127 — the s14 shape's extreme; also the bound
    // that makes a DuckDB double dot product integer-exact (< 2^53)
    registerSqlFunctions()
    val a = Seq.fill(64)(127)
    val out = Seq((a, a)).toDF("a", "b")
      .select(expr("int_dot(a, b)").as("d")).head().getLong(0)
    assert(out == 64L * 127 * 127)
    assert(out < (1L << 53), "coarse scores must stay double-exact")
  }
}
