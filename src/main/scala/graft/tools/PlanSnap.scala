package graft.tools

import java.nio.file.{Files, Paths}

/** Per-query plan snapshots for optimization-round evidence: write the
  * `explain("formatted")` output of each named query to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan-diff artifacts the
  * optimization rounds commit under plans/r{N}/.
  *
  *   sbt "runMain graft.tools.PlanSnap plans/r21 before t29_fuzzy_neardup,t48_source_dedup_report"
  *
  * The session is Bench's ([[graft.GraftSession]]) so the captured plan is
  * the one the bench actually runs — a 4-core PlanDump-style session can
  * pick different join strategies under AQE thresholds. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sf = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.GraftSession.getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    val reg = graft.queries.Registry.queries
    names.foreach { name =>
      val df = reg(name)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val f = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(f, plan)
      println(s"wrote $f")
    }
    spark.stop()
  }
}
