package graft

/** Typed error contract mirroring the reference's scheduler-facing exit
  * codes (reference: HiveToMysql.java:71-88, README.md:30-35).
  *
  * The reference communicates failure classes to an external scheduler via
  * process exit codes 9995-9999; here each class is a typed exception that a
  * driver `main` maps to `sys.exit(code)`. The OS keeps only the low 8 bits
  * of an exit status, so a caller reading it sees 11-15 (9998 → 14), as
  * with the reference; `graft.Main`'s JSON run report carries the full code.
  */
sealed abstract class GraftError(val code: Int, msg: String)
    extends RuntimeException(msg)

object GraftError {
  /** 9995 — data file has no header line (HiveToMysql.java:302). */
  final case class MissingHeader(detail: String)
      extends GraftError(9995, s"missing header: $detail")

  /** 9996 — a row is narrower than the mapped source schema
    * (HiveToMysql.java:437-441). */
  final case class RowWidthMismatch(detail: String)
      extends GraftError(9996, s"row/header width mismatch: $detail")

  /** 9997 — a mapped source field is absent from the source schema and the
    * config demands failure (HiveToMysql.java:309-332). */
  final case class MissingSourceField(fields: Seq[String])
      extends GraftError(9997, s"missing source fields: ${fields.mkString(",")}")

  /** 9998 — the pipeline produced zero rows and the config demands failure
    * (HiveToMysql.java:200-207). */
  final case class NoData(detail: String)
      extends GraftError(9998, s"no data to dump: $detail")

  /** 9999 — any other failure (HiveToMysql.java:86). */
  final case class Other(detail: String, cause: Throwable = null)
      extends GraftError(9999, detail) { if (cause != null) initCause(cause) }

  /** Map any throwable to the reference exit code. */
  def exitCode(t: Throwable): Int = t match {
    case g: GraftError => g.code
    case _             => 9999
  }
}
