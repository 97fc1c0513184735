package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins Verify's loud-failure contract (round-11 post-mortem: a failing
  * query only printed to stderr, so ev05/ev07 were silently ABSENT from
  * the driver's correctness artifact instead of carrying an `err` row). */
class VerifyFailureSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-verify-spec").toString

  test("a failing query leaves a .FAILED marker and an error parquet") {
    val out = tmp()
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).selectExpr("unix_micros(id)") // DATATYPE_MISMATCH at analysis
    val ok = Verify.dumpOne(spark, sf, out, "zz_broken", broken)
    assert(!ok)
    val marker = Paths.get(s"$out/zz_broken.FAILED")
    assert(Files.exists(marker), "expected loud .FAILED marker")
    assert(Files.readString(marker).contains("zz_broken"))
    // The error parquet exists and is readable — a driver iterating result
    // dirs sees a loud mismatch, not an omission.
    val errDf = spark.read.parquet(s"$out/zz_broken")
    assert(errDf.columns.toSeq == Seq("__graft_error"))
    assert(errDf.count() == 1)
  }

  test("a succeeding query writes its parquet and no marker") {
    val out = tmp()
    val fine: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).toDF("id")
    val ok = Verify.dumpOne(spark, sf, out, "zz_fine", fine)
    assert(ok)
    assert(!Files.exists(Paths.get(s"$out/zz_fine.FAILED")))
    assert(spark.read.parquet(s"$out/zz_fine").count() == 3)
  }

  test("an unresolvable oracle still dumps every key") {
    // t40 trains for `sf`; nothing trains for `untrained`, so every
    // trained thunk of a dump declared for it cannot resolve
    graft.queries.Registry.queries("t40_quality_classifier")(spark, sf)
    val untrained = tmp()
    val slice = Set("p01_flagship", "s19_ann_ivfpq", "s03_minhash_neardup",
      "t40_quality_classifier")
    def dump(sfDir: String): Map[String, String] = {
      val out = tmp()
      Verify.dumpOracles(sfDir, out, slice)
      val row = spark.read.option("multiLine", "true")
        .json(s"$out/oracle_sql.json").head()
      row.schema.fieldNames.map(k => k -> row.getAs[String](k)).toMap
    }
    val failed = graft.queries.Registry.OracleFailedColumn
    val blind = dump(untrained)
    assert(blind.keySet == slice)
    assert(!blind("p01_flagship").contains(failed))
    Seq("s19_ann_ivfpq", "s03_minhash_neardup", "t40_quality_classifier")
      .foreach(k => assert(blind(k).contains(failed) && blind(k).contains(k),
        s"$k: expected its failure sentinel, got ${blind(k).take(200)}"))
    assert(!dump(sf)("t40_quality_classifier").contains(failed),
      "t40 trained for sf, so its oracle must resolve there")
  }
}
