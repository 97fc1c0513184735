package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Stage-B equivalent: code-generate batched multi-row INSERT text
  * (getInsertSql/insertHeader/insertValues, HiveToMysql.java:338-377,
  * 382-395, 414-459) WITHOUT the reference's two scale killers:
  *
  *   - no full materialization: the reference buffers the whole script in
  *     one StringBuffer (HiveToMysql.java:340); here each partition emits
  *     its own statements via mapPartitions — O(batch) memory per task.
  *   - no escaping bug: the reference's safeWrap discards the replaceAll
  *     result when a value contains both quote kinds, producing malformed
  *     SQL (HiveToMysql.java:487-488). Here quotes and backslashes are
  *     escaped properly; a property test proves round-tripping.
  *
  * This sink exists so stage-B output shape is testable without a live
  * MySQL; the production path is JdbcIdempotentSink (PreparedStatement
  * binding, which needs no escaping at all).
  */
object SqlGenSink {

  /** Escape one value into a single-quoted SQL literal; null (or the
    * pre-normalized sentinel) becomes unquoted NULL
    * (HiveToMysql.java:443-446). */
  def sqlLiteral(v: String): String =
    if (v == null) "NULL"
    else "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** `insert into db.tbl (c1,c2) values` header
    * (insertHeader, HiveToMysql.java:382-395). */
  def insertHeader(table: String, columns: Seq[String]): String =
    s"insert into $table (${columns.mkString(",")}) values"

  /** One `(v1,v2,...)` tuple (insertValues, HiveToMysql.java:414-459). */
  def valuesTuple(row: Row): String =
    row.toSeq.map(v => sqlLiteral(if (v == null) null else v.toString))
      .mkString("(", ",", ")")

  /** Distributed statement generation: Dataset[String] of complete INSERT
    * statements, `batchSize` rows each (reference hardcodes 100,
    * HiveToMysql.java:352). Batches are per-partition, so statement
    * membership depends on partitioning — order-insensitive consumers only
    * (an INSERT set is one). */
  def insertStatements(df: DataFrame, table: String,
                       batchSize: Int = 100): Dataset[String] = {
    val header = insertHeader(table, df.columns.toSeq)
    import df.sparkSession.implicits._
    df.mapPartitions { rows =>
      rows.grouped(batchSize).map { batch =>
        batch.map(valuesTuple).mkString(header + " ", ",", ";")
      }
    }
  }

  /** The stage-B artifact: the reference's dump.sql
    * (localDumpToSql, HiveToMysql.java:238-248) — a `#data timestamp:`
    * banner, then the statements of [[insertStatements]], blank-line
    * separated, written to `path`.
    *
    * Statements stream to the file partition by partition
    * (toLocalIterator holds ONE partition's statements at a time): the
    * artifact is inherently a single local file, but building it must not
    * buffer the whole table in driver memory or serialize the generation
    * into one task. They go to a sibling `<path>.tmp` that moves into
    * place only after the iterator is exhausted: streaming into `path`
    * directly would truncate the previous good dump BEFORE the job runs,
    * and a mid-job failure would leave a partial file whose statements are
    * individually well-formed — invisible to a consumer that ignores the
    * exit code. ATOMIC_MOVE keeps the old artifact readable until the new
    * one is complete; on failure the temp file is deleted. */
  def writeScript(df: DataFrame, table: String, batchSize: Int,
                  path: Path): Unit = {
    val tmp = Paths.get(path.toString + ".tmp")
    val out = Files.newBufferedWriter(tmp)
    var ok = false
    try {
      out.write(s"#data timestamp: ${System.currentTimeMillis()}")
      val it = insertStatements(df, table, batchSize).toLocalIterator()
      while (it.hasNext) { out.write("\n\n"); out.write(it.next()) }
      ok = true
    } finally {
      out.close()
      if (ok)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else Files.deleteIfExists(tmp)
    }
  }
}
