package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic 1-in-N sample of the DOCUMENTS and EMBEDDINGS tables of
  * a scaled world — the tool behind the measured ×100 oracle cells in
  * BASELINE.md.
  *
  * Why it exists: the s03/s04/t09 oracles embed per-doc VALUES literals,
  * so `oracle_sql.json` grows O(docs) (~63 MB at the ×10 axes) and the
  * DuckDB verify work grows with distinctTexts × duplication² — a full
  * ×100 oracle run is out of budget by arithmetic (BASELINE.md "Dump-time
  * oracle budget"). Sampling the dump corpus 1-in-100 puts BOTH terms
  * back at the measured ×10 budget while every other table stays at full
  * ×100 volume, converting the "×100 values would also match" argument
  * into a measured cell: `graft.Verify` and the DuckDB oracle read the
  * SAME sampled table, so the comparison is exact, not approximate.
  *
  * The sample key is the PRE-SHIFT original id (`doc_id % ScaleUp.Stride`,
  * hashed with Spark's xxhash64, seed 42): on a `hot` world every replica
  * of a text shares its original id, so a kept text keeps ALL F replicas —
  * the sample preserves the ×F duplication density (group size 100 at
  * ×100), which is precisely what the hot cell exists to stress; sampling
  * by raw doc_id would thin each duplicate group to ~F/N members and
  * silently turn the hot cell into a distinct-ish corpus. On a `grow`
  * world original ids are unique per replica-0 doc, so the same rule is a
  * plain 1-in-N doc sample.
  *
  * Every other `<table>.parquet` is symlinked from the source world (zero
  * copy — the lineitem/events queries must still see full ×F volume).
  *
  * Usage: `runMain graft.tools.SampleDocs <srcDir> <dstDir> [denominator]
  * [residue]` (default 100, residue 0; keeps docs with
  * pmod(xxhash64(doc_id % Stride), N) == residue). A nonzero residue
  * draws an INDEPENDENT disjoint sample — the round-13 second-seed cells
  * re-verify each ×100 axis on a different 1-in-N slice, cutting the odds
  * that one particular sample masks a scale-only divergence.
  */
object SampleDocs {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SampleDocs <srcDir> <dstDir> [denominator] [residue]")
    val src = new java.io.File(args(0))
    val dst = new java.io.File(args(1))
    val denom = if (args.length > 2) args(2).toInt else 100
    val residue = if (args.length > 3) args(3).toLong else 0L
    require(denom >= 1, s"denominator must be >= 1, got $denom")
    require(residue >= 0 && residue < denom,
      s"residue must be in [0, $denom), got $residue")
    require(src.isDirectory, s"$src is not a directory")
    require(src.getCanonicalPath != dst.getCanonicalPath,
      "dst must differ from src")
    dst.mkdirs()
    val spark = graft.GraftSession.getOrCreate()
    // embeddings get the same duplication-preserving sample as documents:
    // a scaled world replicates every VECTOR verbatim too, so the
    // full-corpus pair queries (s15's near-dup output is quadratic in
    // duplication per distinct vector) outgrow the DuckDB oracle budget
    // the same way the text side did — the first unsampled ×100 cell
    // measured the s15 oracle ENOSPC-ing DuckDB's temp spill while the
    // engine side (exact-collapsed) completed fine. Sampling by the
    // pre-shift original id keeps all F replicas of a kept vector, so
    // the cell still stresses full ×F duplication density.
    val sampledTables = Map(
      "documents.parquet" -> "doc_id", "embeddings.parquet" -> "vec_id")
    src.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { t =>
        val out = new java.io.File(dst, t.getName)
        sampledTables.get(t.getName) match {
          case Some(idCol) =>
            val df = spark.read.parquet(t.getAbsolutePath)
            val kept = df.where(
              pmod(xxhash64(pmod(col(idCol), lit(ScaleUp.Stride))),
                lit(denom.toLong)) === residue)
            kept.repartition(8).write.mode("overwrite")
              .parquet(out.getAbsolutePath)
            println(s"${t.getName}: 1-in-$denom (residue $residue) by " +
              s"original-id hash -> " +
              s"${spark.read.parquet(out.getAbsolutePath).count()} rows")
          case None =>
            // always re-link (matches SampleStreamWorld): a leftover link
            // from a prior run against a different or rebuilt srcDir
            // would silently mix worlds; deleteIfExists removes a
            // dangling link where exists() would read false and the
            // create would throw FileAlreadyExistsException
            java.nio.file.Files.deleteIfExists(out.toPath)
            java.nio.file.Files.createSymbolicLink(out.toPath,
              t.getAbsoluteFile.toPath)
            println(s"${t.getName}: symlinked")
        }
      }
    spark.stop()
  }
}
