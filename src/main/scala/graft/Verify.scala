package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one query's result; on failure leave a LOUD `<name>.FAILED`
    * marker (first line of the exception) next to where the parquet would
    * be, so the driver's compare reports `err` for the query instead of
    * silently omitting it (round-11 post-mortem: ev05/ev07 vanished from
    * CORRECTNESS_r11.json because failures only went to stderr).
    * Returns true on success. */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
              name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // a reused outDir may carry a stale marker from a PRIOR run: the
      // error parquet above is overwritten, so the marker must go too or
      // a fixed query still reads as failed. Best-effort like the writes.
      try Files.deleteIfExists(Paths.get(s"$outDir/$name.FAILED"))
      catch { case _: Throwable => () }
      true
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.mkString(" | ")
      System.err.println(s"[verify] $name failed: $msg")
      // both loud artifacts are best-effort: an IOException here (disk
      // full, perms) must not abort the remaining queries or the
      // oracle_sql.json dump — that would recreate the whole-round
      // silent-failure mode this path exists to prevent
      try Files.writeString(Paths.get(s"$outDir/$name.FAILED"),
        s"$name: ${e.getClass.getName}: $msg\n")
      catch { case _: Throwable => () }
      // Also leave a one-row error parquet under the query's own name: the
      // driver iterates over existing result dirs, so an absent dir is a
      // silent omission while this guarantees a loud schema/hash mismatch.
      try {
        import spark.implicits._
        Seq(s"${e.getClass.getName}: $msg").toDF("__graft_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
      false
    }

  /** `Verify <sfDir> <outDir> [<name>[,<name>…]]`. The optional third
    * argument slices the surface to the named queries (unknown names are
    * rejected) and restricts oracle_sql.json to them, so
    * `tools/local_verify.py` compares just that slice; a sliced run exits
    * 1 if any of its queries failed. The full dump always completes and
    * leaves failures to the markers. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val slice = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reg = SparkEntry.queries
    slice.foreach { names =>
      val unknown = names.diff(reg.keySet)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = (name: String) => slice.forall(_.contains(name))
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    val failed = reg.toSeq.filter { case (name, _) => selected(name) }
      .filterNot { case (name, fn) => dumpOne(spark, sfDir, outDir, name, fn) }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.map(_._1).sorted.mkString(", ")}")
    dumpOracles(sfDir, outDir, selected)
    spark.stop()
    if (slice.nonEmpty && failed.nonEmpty) sys.exit(1)
  }

  /** Writes `oracle_sql.json`: the oracle of every `selected` query, with
    * trained constants read for `sfDir`. A query whose oracle cannot be
    * built gets its failure sentinel ([[graft.queries.Registry.oracleSqlFor]]),
    * so the file always carries every selected key. */
  def dumpOracles(sfDir: String, outDir: String,
                  selected: String => Boolean): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.queries.Trained.dumpingFor(sfDir)(
      graft.queries.Registry.oracleSqlFor(selected))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
