package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("classic reference vectors") {
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.8400000000000001) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-15)
    assert(jw("same", "same") == 1.0)
    assert(jw("", "x") == 0.0 && jw("", "") == 0.0)
    assert(jw("abc", "xyz") == 0.0)
  }

  test("winkler boost applies only above the 0.7 jaro threshold (DuckDB-exact)") {
    // expected values read off DuckDB's jaro_winkler_similarity — the
    // boundary pair boosts (its jaro lands one ulp above 0.7), the
    // below-threshold pair keeps its raw jaro despite the shared prefix
    assert(jw("ab", "ab" + "z" * 18) == 0.76)
    assert(jw("abcz", "abc" + "y" * 26) == 0.617816091954023)
    assert(jw("ax", "a" + "z" * 16) == 0.5196078431372549)
  }

  test("SQL surface + codegen path agree with direct compute") {
    registerSqlFunctions()
    val rnd = new scala.util.Random(5)
    def s(): String = Seq.fill(rnd.nextInt(15))(('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = Seq.fill(300)((s(), s()))
    val dir = java.nio.file.Files.createTempDirectory("graft_jw").toString
    pairs.toDF("a", "b").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("a"), col("b"), expr("jaro_winkler(a, b)").as("j"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(2) == jw(r.getString(0), r.getString(1)))
    }
  }

  test("symmetry and range on random inputs") {
    val rnd = new scala.util.Random(6)
    def s(): String = Seq.fill(rnd.nextInt(20))(('a' + rnd.nextInt(5)).toChar).mkString
    (1 to 500).foreach { _ =>
      val (a, b) = (s(), s())
      val v = jw(a, b)
      assert(v >= 0.0 && v <= 1.0)
      assert(v == jw(b, a), s"asymmetric on ('$a','$b')")
    }
  }
}
