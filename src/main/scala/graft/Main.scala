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
  * per GraftError.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val confPath = args.headOption.getOrElse("dump.conf")
    val code =
      try {
        run(confPath)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[graft] FAILED: ${e.getMessage}")
          GraftError.exitCode(e)
      }
    if (code != 0) sys.exit(code)
  }

  def run(confPath: String, sparkOpt: Option[SparkSession] = None): Long = {
    val conf = DumpConf.parseString(Files.readString(Paths.get(confPath)))
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
            mapping.constants(conf.raw), batchSize = conf.batchSize,
            deleteBeforeDump = conf.deleteBeforeDump)
        case None =>
          SqlGenSink.writeScript(df, conf.mysqlTarget.getOrElse("db.tbl"),
            conf.batchSize,
            Paths.get(conf.raw.getOrElse("dump_sql_file", "dump.sql")))
      }
    }
  }
}
