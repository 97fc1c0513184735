package graft.conf

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Typed view of the reference's flat key=value config (reference:
  * dump.conf; init() HiveToMysql.java:97-133). Only keys that drive engine
  * behavior are typed; the raw map is kept for `$var` constant resolution.
  */
final case class DumpConf(raw: Map[String, String]) {
  private def flag(k: String, dflt: Boolean): Boolean =
    raw.get(k).map(_.trim.equalsIgnoreCase("true")).getOrElse(dflt)

  def hiveDb: Option[String] = raw.get("hive_db")
  def hiveTable: Option[String] = raw.get("hive_table")
  def mysqlDb: Option[String] = raw.get("mysql_db")
  def mysqlTable: Option[String] = raw.get("mysql_table")

  /** Sink table, db-qualified when `mysql_db` is set — the reference
    * INSERTs into `mysql_db.mysql_table` (HiveToMysql.java:358). */
  def mysqlTarget: Option[String] =
    mysqlTable.map(t => mysqlDb.map(db => s"$db.$t").getOrElse(t))

  /** Partition value: explicit, or defaulted to yesterday when absent/"?"
    * (reference HiveToMysql.java:110-115; README.md:20). */
  def ds(today: LocalDate = LocalDate.now()): String =
    raw.get("ds").filter(v => v.nonEmpty && v != "?")
      .getOrElse(DumpConf.defaultDs(dsFormat, today))

  /** SimpleDateFormat-style pattern; default yyyyMMdd (dump.conf:4). */
  def dsFormat: String = raw.getOrElse("ds_formater", "yyyyMMdd")

  def missingFieldPolicy: MissingFieldPolicy =
    if (flag("error_if_src_field_not_exsits", dflt = true))
      MissingFieldPolicy.Fail
    else MissingFieldPolicy.DropWarn

  def emptyDataPolicy: EmptyDataPolicy =
    if (flag("error_if_none_data", dflt = true)) EmptyDataPolicy.Fail
    else EmptyDataPolicy.Ok

  /** Default false, matching the reference
    * (getProperty("delete_before_dump","false"); README.md:22) — a conf
    * that omits the key must never issue destructive keyed DELETEs the
    * reference would not issue. */
  def deleteBeforeDump: Boolean = flag("delete_before_dump", dflt = false)

  /** mode=test → dry-run: plan/describe instead of executing
    * (HiveToMysql.java:127, 560-564). */
  def dryRun: Boolean = raw.get("mode").exists(_.trim == "test")

  def skipTransform: Boolean = flag("skip_local_file_to_sql", dflt = false)
  def skipSink: Boolean = flag("skip_sql_to_target", dflt = false)

  /** JDBC batch size; the reference hardcodes 100 rows per INSERT
    * (HiveToMysql.java:352). Anything but an integer ≥ 1 is a conf error
    * (9999) naming the key. */
  def batchSize: Int = raw.get("batchsize") match {
    case None => 100
    case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
      throw graft.GraftError.Other(s"batchsize must be an integer >= 1, got '$v'"))
  }
}

object DumpConf {
  /** "Yesterday" formatted with the configured pattern (reference
    * HiveToMysql.java:110-115, 174-187). */
  def defaultDs(pattern: String, today: LocalDate = LocalDate.now()): String =
    today.minusDays(1).format(DateTimeFormatter.ofPattern(pattern))

  /** Parse key=value lines; `#` comments and blanks skipped. Later keys win,
    * like java.util.Properties.load. */
  def parse(lines: Seq[String]): DumpConf = DumpConf(
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i <= 0) None
        else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
      }.toMap)

  def parseString(text: String): DumpConf = parse(text.linesIterator.toSeq)
}
