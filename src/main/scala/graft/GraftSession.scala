package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{DsRangeRewrite, LevenshteinPrefilter}

/** The one place a graft main gets its SparkSession.
  *
  * A new session runs on `SPARK_MASTER` (default `local[cpus]`) with the
  * [[confs]] every main shares, at log level WARN, and with both optimizer
  * rules installed. A session that already exists — one a caller passes
  * to `Main.run`, or one active in the calling thread (an embedding
  * harness) — is used as it is: its confs are left untouched and it only
  * gets the rules, so a caller's tuning is never overwritten. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else the JVM's processors. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Confs every new graft session is built with. The codegen cache is a
    * static conf (default 100): the full query surface generates 1000+
    * codegen classes per pass, and at 100 every repeat pass re-compiles
    * whatever was evicted, so timings measure the compiler. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** The thread's active (else the default) session with the rules
    * installed, or a new one. `cores` sizes a new session only; `extra`
    * carries build-time (static) confs such as a streaming listener. */
  def getOrCreate(cores: Int = cpus,
                  extra: Map[String, String] = Map.empty): SparkSession =
    Seq(SparkSession.getActiveSession, SparkSession.getDefaultSession)
      .flatten.find(!_.sparkContext.isStopped)
      .fold(build(cores, extra))(install)

  private def build(cores: Int, extra: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft")
      .config(confs(cores) ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  /** Idempotently add graft's optimizer rules to `spark`; returns it. */
  def install(spark: SparkSession): SparkSession = {
    DsRangeRewrite.install(spark)
    LevenshteinPrefilter.install(spark)
    spark
  }
}
