package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.conf.{DumpConf, FieldMapping}
import graft.pipeline.Pipeline
import graft.sink.{JdbcIdempotentSink, SqlGenSink}

/** The reference's CLI surface: `java HiveToMysql [dump.conf]`
  * (HiveToMysql.java:71-88, run.sh:9) becomes
  * `runMain graft.Main [dump.conf]`.
  *
  * Config keys are the reference's (dump.conf), plus the Spark-era ones
  * this engine needs in the harness: `source_dir` (parquet table dir),
  * `source_table`, `date_column`. The sink is selected by config:
  * `mysql_url` present → JdbcIdempotentSink (keyed DELETE + batched
  * append); otherwise `dump_sql_file` gets the generated INSERT script
  * (stage-B artifact, inspectable exactly like the reference's dump.sql).
  *
  * Failures exit with the reference's scheduler contract: 0 ok, 9995-9999
  * per GraftError. A process exit status keeps only its low 8 bits, so the
  * caller sees 11-15 (9998 → 14), the same truncation the reference's
  * `System.exit` gets; the codes are not remapped. Either way the last
  * stdout line is a one-line JSON run report ([[RunReport]]), whose
  * `exit_code` carries the full code.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val r = report(args.headOption.getOrElse("dump.conf"))
    println(r.json)
    if (r.exitCode != 0) sys.exit(r.exitCode)
  }

  /** What one run did: the partition it imported (None when the conf could
    * not be read), the rows it counted, its wall time and its exit code. */
  final case class RunReport(ds: Option[String], rows: Long, elapsedS: Double,
                             exitCode: Int) {
    def json: String = {
      val dsJson = ds.fold("null")(d => "\"" + new String(
        com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
          .quoteAsString(d)) + "\"")
      val elapsed = math.round(elapsedS * 1000) / 1000.0
      s"""{"ds":$dsJson,"rows":$rows,"elapsed_s":$elapsed,""" +
        s""""exit_code":$exitCode}"""
    }
  }

  /** [[run]], with any failure mapped to its exit code instead of thrown. */
  def report(confPath: String, sparkOpt: Option[SparkSession] = None): RunReport = {
    val start = System.nanoTime()
    def done(ds: Option[String], rows: Long, code: Int) =
      RunReport(ds, rows, (System.nanoTime() - start) / 1e9, code)
    val conf = scala.util.Try(readConf(confPath))
    val ds = conf.flatMap(c => scala.util.Try(c.ds())).toOption
    try done(ds, runConf(conf.get, sparkOpt), 0)
    catch {
      case e: Throwable =>
        System.err.println(s"[graft] FAILED: ${e.getMessage}")
        done(ds, 0L, GraftError.exitCode(e))
    }
  }

  private def readConf(confPath: String): DumpConf =
    DumpConf.parseString(Files.readString(Paths.get(confPath)))

  def run(confPath: String, sparkOpt: Option[SparkSession] = None): Long =
    runConf(readConf(confPath), sparkOpt)

  private def runConf(conf: DumpConf, sparkOpt: Option[SparkSession]): Long = {
    val batchSize = conf.batchSize // a bad value fails here, before any job
    val mapPath = conf.raw.getOrElse("dump_map_file", "dump.map")
    val mapping = FieldMapping.parseString(Files.readString(Paths.get(mapPath)))

    val spark = sparkOpt.fold(GraftSession.getOrCreate())(GraftSession.install)

    val sfDir = conf.raw.getOrElse("source_dir",
      throw GraftError.Other("source_dir missing from conf"))
    val table = conf.hiveTable.orElse(conf.raw.get("source_table"))
      .getOrElse(throw GraftError.Other("hive_table/source_table missing"))
    val dateColumn = conf.raw.getOrElse("date_column",
      throw GraftError.Other("date_column missing from conf"))

    Pipeline.run(spark, sfDir, table, dateColumn, conf, mapping) { df =>
      conf.raw.get("mysql_url") match {
        case Some(url) =>
          val target = conf.mysqlTarget.getOrElse(
            throw GraftError.Other("mysql_table missing"))
          JdbcIdempotentSink.write(df, url, target,
            mapping.constants(conf.raw), batchSize = batchSize,
            deleteBeforeDump = conf.deleteBeforeDump)
        case None =>
          SqlGenSink.writeScript(df, conf.mysqlTarget.getOrElse("db.tbl"),
            batchSize,
            Paths.get(conf.raw.getOrElse("dump_sql_file", "dump.sql")))
      }
    }
  }
}
