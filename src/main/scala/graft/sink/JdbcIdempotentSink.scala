package graft.sink

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Idempotent keyed-overwrite JDBC sink (SURVEY.md §2 rows 11, 13, 14).
  *
  * The reference achieves effectively-once-per-logical-partition by issuing
  * `delete from db.tbl where 1=1 and <const>=<v> ...` built from the
  * mapping's constant columns, then re-INSERTing
  * (sqlDumpToTarget, HiveToMysql.java:270-282; README.md:22-24).
  *
  * Spark's JDBC writer has only whole-table truncate/overwrite, so the
  * keyed DELETE is a bounded DRIVER-SIDE pre-action on one connection — a
  * few rows of predicate, never data-sized — while the data path stays
  * distributed: per-partition PreparedStatement batches via
  * `df.write.jdbc(mode=append)`. At 100 TB the delete cost is O(existing
  * target rows for the key), unchanged by input scale, and the insert is
  * partition-parallel with `batchsize` rows per round trip.
  *
  * PreparedStatement parameter binding subsumes the reference's entire
  * safeWrap escaping machinery, including its both-quotes bug
  * (HiveToMysql.java:470-491; do-not-port per SURVEY.md §7.3a).
  */
object JdbcIdempotentSink {

  /** The DELETE the reference would issue, parameterized. Returns None when
    * the mapping has no constant columns (reference: "若没有常量则不删除" —
    * no constants, no delete; dump.conf:10). */
  def deleteStatement(table: String, keys: Seq[(String, String)])
      : Option[(String, Seq[String])] =
    if (keys.isEmpty) None
    else Some((
      s"delete from $table where 1=1" + keys.map(k => s" and ${k._1} = ?").mkString,
      keys.map(_._2)))

  /** Keyed delete + batched append, in that order. `url` must carry auth and
    * `characterEncoding=utf8` equivalents (HiveToMysql.java:258). */
  def write(df: DataFrame, url: String, table: String,
            keys: Seq[(String, String)],
            connProps: Properties = new Properties(),
            batchSize: Int = 100,
            deleteBeforeDump: Boolean = true): Unit = {
    // Spark's JDBC writer rejects this too, but only after the DELETE ran
    if (batchSize < 1)
      throw graft.GraftError.Other(s"batchsize must be at least 1, got $batchSize")
    if (deleteBeforeDump) preDelete(url, table, keys, connProps)
    df.write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, connProps)
  }

  /** Driver-side bounded pre-action. One connection, one statement. */
  def preDelete(url: String, table: String, keys: Seq[(String, String)],
                connProps: Properties = new Properties()): Unit =
    deleteStatement(table, keys).foreach { case (sql, params) =>
      val conn = DriverManager.getConnection(url, connProps)
      try {
        val ps = conn.prepareStatement(sql)
        try {
          params.zipWithIndex.foreach { case (v, i) => ps.setString(i + 1, v) }
          ps.executeUpdate()
        } finally ps.close()
      } finally conn.close()
    }
}
