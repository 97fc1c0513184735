package graft.tools

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** The plan text [[PlanDump]] and [[PlanSnap]] write. Spark numbers
  * expression IDs, exchange plan IDs and RDD IDs from JVM-wide counters,
  * so the same plan prints different numbers in every run and a
  * regenerated PLANS.md diffs on nearly every line. Renumbering them per
  * plan and dropping the other run-dependent text ([[Noise]]) leaves a
  * diff only where the plan's shape changed. */
object PlanText {

  /** `df`'s `explain("formatted")` text with [[renumberIds]] applied. */
  def formatted(df: DataFrame): String = renumberIds(
    df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  private val IdPrefixes = Seq("#", "plan_id=", "RDD[")

  /** Run-dependent text that is not an ID, with its replacement: the line
    * of a `Scan ExistingRDD` call site (`at EngineQueries.scala:314`),
    * which moves with every edit above the call, lambda class numbers,
    * identity hash codes (`[[D@3d4ea4cf`) and a file scan's location,
    * which names a temp dir or the checkout (`InMemoryFileIndex
    * [file:/tmp/graft_xml_roundtrip_812]`). */
  private val Noise = Seq(
    """(\.scala):\d+""" -> "$1",
    """\$\$Lambda[^@\s,]*""" -> """\$\$Lambda""",
    """(?<=[\w$\[])@\p{XDigit}+\b""" -> "",
    """((?:InMemory|Catalog)FileIndex[^\[\n]*)\[[^\]\n]*\]""" -> "$1[<path>]")

  /** Renumbers expression IDs (`#1234`; the type suffix of `#1234L` is
    * kept), `plan_id=` values and RDD IDs (`RDD[36]`) densely from 1, each
    * kind on its own, in order of first appearance in `plan`. Equal IDs get
    * equal numbers, so every reference still points at its attribute.
    * [[Noise]] is dropped first. */
  def renumberIds(plan: String): String = {
    val quiet = Noise.foldLeft(plan) { case (text, (noise, by)) =>
      text.replaceAll(noise, by)
    }
    IdPrefixes.foldLeft(quiet) { (text, prefix) =>
      val seen = mutable.HashMap.empty[String, Int]
      s"${Regex.quote(prefix)}(\\d+)".r.replaceAllIn(text, m =>
        Regex.quoteReplacement(
          prefix + seen.getOrElseUpdate(m.group(1), seen.size + 1)))
    }
  }
}
