package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a Spark query over the harness tables
  * plus (when SQL-expressible) a DuckDB oracle the driver hash-compares
  * against. Column names/types must match the oracle exactly — the driver
  * sorts columns by name before hashing. */
final case class NamedQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    // oracle built at dump time instead of class-load time — for oracles
    // embedding literals that only exist after the query ran (e.g. s07's
    // data-trained IVF centroids). Verify runs every query BEFORE dumping
    // oracle_sql.json, so the thunk sees the trained state.
    oracleFn: Option[() => String] = None)

object Registry {
  /** All registered queries, parity first. Order is informational only. */
  def all: Seq[NamedQuery] =
    ParityQueries.all ++ EngineQueries.all ++ TextQueries.all ++
      SimilarityQueries.all ++ EventQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] = oracleSqlFor(_ => true)

  /** The one column of a failed oracle's sentinel; no query outputs it. */
  val OracleFailedColumn = "__graft_oracle_failed"

  /** Oracles of the queries `keep` selects; the filter runs before any
    * dump-time thunk is forced. A thunk that throws (its query never ran
    * for the dir being dumped, say) yields a one-row sentinel SELECT of
    * [[OracleFailedColumn]] naming the query and the error, also printed
    * to stderr: that query's compare fails loudly and every other oracle
    * is still written. */
  def oracleSqlFor(keep: String => Boolean,
                   queries: Seq[NamedQuery] = all): Map[String, String] =
    queries.filter(q => keep(q.name)).flatMap(q =>
      q.oracleFn.map(f => q.name -> guarded(q.name, f))
        .orElse(q.oracle.map(q.name -> _))).toMap

  private def guarded(name: String, thunk: () => String): String =
    try thunk()
    catch { case scala.util.control.NonFatal(e) =>
      val msg = s"$name: $e".linesIterator.mkString(" | ")
      System.err.println(s"[oracle] FAILED $msg")
      s"SELECT '${msg.replace("'", "''")}' AS $OracleFailedColumn"
    }
}
