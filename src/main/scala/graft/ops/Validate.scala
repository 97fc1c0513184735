package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-flight data-quality audit — the constraint sweep a 100 TB pipeline
  * runs before training ingestion or a warehouse load (the engine-native
  * analogue of a Deequ-style check suite). Three primitives, each with the
  * scale-correct plan shape:
  *
  *   - `audit`: N predicate checks in ONE scan (conditional sums that
  *     partial-combine map-side) unpivoted to (check_name, n_violations)
  *     rows — adding a check never adds a scan;
  *   - `dupPk`: duplicate-key count as `count(*) - count(distinct k)`
  *     (Expand + two-phase agg, same shape as e23);
  *   - `fkDangling`: orphaned-child count via LeftAnti on the key —
  *     never a cartesian, zero-shuffle when both sides are bucketed on
  *     the key (`bucketBy`).
  */
object Validate {

  /** Run every (name, violated-when predicate) in one pass; returns one
    * row per check. Check names become SQL identifiers in the unpivot —
    * callers use simple snake_case names. */
  def audit(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "audit needs at least one check")
    val aggs = checks.map { case (n, p) =>
      sum(when(p, 1L).otherwise(0L)).as(n)
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = checks.map { case (n, _) => s"'$n', $n" }.mkString(", ")
    one.select(expr(
      s"stack(${checks.length}, $stackArgs) as (check_name, n_violations)"))
  }

  /** Rows whose key appears more than once, as a count. */
  def dupPk(df: DataFrame, key: String, checkName: String): DataFrame =
    df.agg((count(lit(1)) - countDistinct(col(key))).as("n"))
      .select(lit(checkName).as("check_name"), col("n").as("n_violations"))

  /** Child rows whose key has no parent. */
  def fkDangling(child: DataFrame, childKey: String,
                 parent: DataFrame, parentKey: String,
                 checkName: String): DataFrame =
    child.join(parent.select(col(parentKey)),
        child(childKey) === parent(parentKey), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(checkName).as("check_name"), col("n").as("n_violations"))
}
