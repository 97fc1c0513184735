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
          val sqlFile = conf.raw.getOrElse("dump_sql_file", "dump.sql")
          val target = conf.mysqlTarget.getOrElse("db.tbl")
          // Stream statements to the file partition by partition
          // (toLocalIterator holds ONE partition's statements at a time)
          // instead of SqlGenSink.script's coalesce(1)+collect — the
          // script artifact is inherently a single local file (the
          // reference's dump.sql), but building it must not buffer the
          // whole table in driver memory or serialize the generation
          // into one task.
          // Write to a sibling temp file and move into place only after
          // the iterator is exhausted: streaming into the final path
          // directly would truncate the previous good dump BEFORE the job
          // runs, and a mid-job failure would leave a partial file whose
          // statements are individually well-formed — invisible to a
          // consumer that ignores the exit code. ATOMIC_MOVE keeps the
          // old artifact readable until the new one is complete.
          val dest = Paths.get(sqlFile)
          val tmp = Paths.get(sqlFile + ".tmp")
          val out = Files.newBufferedWriter(tmp)
          var ok = false
          try {
            out.write(s"#data timestamp: ${System.currentTimeMillis()}")
            val it = SqlGenSink.insertStatements(df, target, conf.batchSize)
              .toLocalIterator()
            while (it.hasNext) { out.write("\n\n"); out.write(it.next()) }
            ok = true
          } finally {
            out.close()
            if (ok)
              Files.move(tmp, dest,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            else Files.deleteIfExists(tmp)
          }
      }
    }
  }
}
