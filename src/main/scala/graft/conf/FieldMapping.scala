package graft.conf

import graft.GraftError

/** One entry of the column-mapping DSL (reference: dump.map, README.md:37-42,
  * initMap HiveToMysql.java:141-169).
  *
  * Three forms, keyed by the first character of the right-hand side:
  *   - `target=src`    rename/project a source column
  *   - `target=$var`   constant, value resolved from the config
  *   - `target=#lit`   constant, immediate literal
  */
sealed trait MappingEntry { def target: String }
final case class SourceField(target: String, src: String) extends MappingEntry
final case class ConfConstant(target: String, confKey: String) extends MappingEntry
final case class LiteralConstant(target: String, value: String) extends MappingEntry

/** What to do when a mapped source field is absent from the source schema
  * (reference flag `error_if_src_field_not_exsits`, HiveToMysql.java:132,
  * 309-332). */
sealed trait MissingFieldPolicy
object MissingFieldPolicy {
  /** Drop the target column with a warning (reference default-false path). */
  case object DropWarn extends MissingFieldPolicy
  /** Abort the run with code 9997. */
  case object Fail extends MissingFieldPolicy
}

/** What to do when the pipeline yields zero rows (reference flag
  * `error_if_none_data`, HiveToMysql.java:131, 200-207). */
sealed trait EmptyDataPolicy
object EmptyDataPolicy {
  case object Ok extends EmptyDataPolicy
  /** Abort with code 9998. */
  case object Fail extends EmptyDataPolicy
}

/** Ordered column mapping. Unlike the reference — which loads dump.map into a
  * java.util.Properties hashtable and therefore emits columns in hashtable
  * order (HiveToMysql.java:147-155; see SURVEY.md §1.3) — entries keep FILE
  * ORDER, which is deterministic. Name/value pairing is identical.
  */
final case class FieldMapping(entries: Seq[MappingEntry]) {
  def targets: Seq[String] = entries.map(_.target)
  def constants(conf: Map[String, String]): Seq[(String, String)] =
    entries.collect {
      case LiteralConstant(t, v) => t -> v
      case ConfConstant(t, k) =>
        t -> conf.getOrElse(k,
          throw GraftError.Other(s"mapping references unknown conf var $$$k"))
    }

  /** Split into (kept entries, dropped targets) given the actual source
    * columns; under Fail policy a missing source field aborts (9997). */
  def validate(sourceColumns: Seq[String], policy: MissingFieldPolicy)
      : (FieldMapping, Seq[String]) = {
    val cols = sourceColumns.toSet
    val (ok, missing) = entries.partition {
      case SourceField(_, src) => cols.contains(src)
      case _                   => true
    }
    if (missing.nonEmpty && policy == MissingFieldPolicy.Fail)
      throw GraftError.MissingSourceField(
        missing.collect { case SourceField(_, s) => s })
    (FieldMapping(ok), missing.map(_.target))
  }
}

object FieldMapping {
  /** Parse dump.map-style lines. Blank lines and `#`-comment-only lines are
    * skipped, but note `target=#lit` is a literal (the `#` is on the RHS). */
  def parse(lines: Seq[String]): FieldMapping = FieldMapping(
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val i = l.indexOf('=')
      if (i <= 0)
        throw GraftError.Other(s"bad mapping line (want target=src): '$l'")
      val (target, rhs) = (l.substring(0, i).trim, l.substring(i + 1).trim)
      if (rhs.startsWith("$")) ConfConstant(target, rhs.tail)
      else if (rhs.startsWith("#")) LiteralConstant(target, rhs.tail)
      else SourceField(target, rhs)
    })

  def parseString(text: String): FieldMapping =
    parse(text.linesIterator.toSeq)
}
