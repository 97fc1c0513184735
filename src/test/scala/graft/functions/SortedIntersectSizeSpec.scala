package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SortedIntersectSizeSpec extends SparkSpec {
  import spark.implicits._

  test("merge scan equals size(array_intersect) on sorted distinct inputs") {
    registerSqlFunctions()
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = (1 to rnd.nextInt(50) + 1).map(_ => rnd.nextInt(100).toLong)
        .distinct.sorted
      val b = (1 to rnd.nextInt(50) + 1).map(_ => rnd.nextInt(100).toLong)
        .distinct.sorted
      (a, b)
    }
    val diff = rows.toDF("a", "b")
      .select(expr("intersect_size_sorted(a, b)").as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("empty and disjoint arrays") {
    registerSqlFunctions()
    val r = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 3L), Seq(2L, 4L)),
      (Seq(5L), Seq(5L)))
      .toDF("a", "b")
      .select(expr("intersect_size_sorted(a, b)").as("c")).as[Int].collect()
    assert(r.toSeq == Seq(0, 0, 1))
  }
}
