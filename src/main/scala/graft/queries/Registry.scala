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

  /** Oracles of the queries `keep` selects; the filter runs before any
    * dump-time thunk is forced. */
  def oracleSqlFor(keep: String => Boolean): Map[String, String] =
    all.filter(q => keep(q.name)).flatMap(q =>
      q.oracleFn.map(f => q.name -> f())
        .orElse(q.oracle.map(q.name -> _))).toMap
}
