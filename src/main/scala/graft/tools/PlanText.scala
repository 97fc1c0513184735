package graft.tools

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** The plan text [[PlanDump]] and [[PlanSnap]] write. Spark numbers
  * expression IDs and exchange plan IDs from JVM-wide counters, so the
  * same plan prints different numbers in every run and a regenerated
  * PLANS.md diffs on nearly every line. Renumbering them per plan leaves a
  * diff only where the plan's shape changed. */
object PlanText {

  /** `df`'s `explain("formatted")` text with [[renumberIds]] applied. */
  def formatted(df: DataFrame): String = renumberIds(
    df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  private val IdPrefixes = Seq("#", "plan_id=")

  /** Renumbers expression IDs (`#1234`; the type suffix of `#1234L` is
    * kept) and `plan_id=` values densely from 1, each kind on its own, in
    * order of first appearance in `plan`. Equal IDs get equal numbers, so
    * every reference still points at its attribute. */
  def renumberIds(plan: String): String =
    IdPrefixes.foldLeft(plan) { (text, prefix) =>
      val seen = mutable.HashMap.empty[String, Int]
      s"${Regex.quote(prefix)}(\\d+)".r.replaceAllIn(text, m =>
        Regex.quoteReplacement(
          prefix + seen.getOrElseUpdate(m.group(1), seen.size + 1)))
    }
}
