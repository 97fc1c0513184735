package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic 1-in-N SAMPLED FEED for the streaming ×100 cell — the
  * tool behind the "streaming tier at ×100 rates" row in BASELINE.md.
  *
  * Why it exists: the five streaming rows (ev10-ev13, t41) replay REAL
  * micro-batches, so their ×100 wall is dominated by the replay HARNESS
  * (offset/commit/state-delta writes per batch × 100× feed volume) — the
  * earlier matrix runs excluded them by documented arithmetic (~2 h of
  * harness wall for zero engine signal). This tool converts that
  * exclusion into a measured cell: sample the ×100 world's feed 1-in-N
  * by the SESSION KEY, so the feed volume is bounded (×100/N) while the
  * per-key rate structure of the ×100 world is preserved exactly.
  *
  * Sample keys (both pre-shift, the [[SampleDocs]] precedent):
  *
  *   - `events` by original user (`user_id % ScaleUp.Stride`): a kept
  *     user keeps ALL its events. On a `hot` world user ids are
  *     unshifted, so every kept user still sees its full ×F event rate —
  *     the state-pressure signal (sessionize state size, window fan-in,
  *     stream-stream join buffers per key) is the ×F world's, at 1/N the
  *     harness wall. On a `grow` world each original user is kept in all
  *     F replicas or none, so key cardinality scales F/N at unchanged
  *     per-key rate — the "more keys in flight" signal. Sampling by
  *     event_id instead would thin every session and decorrelate ev13's
  *     view→click pairs — rate structure destroyed, exactly what this
  *     cell must not do.
  *   - `documents` by original doc (`doc_id % Stride`, the SampleDocs
  *     rule): t41's ingest gate replays the document corpus; on a hot
  *     world a kept text keeps all F duplicates, so the gate still sees
  *     ×F duplicate-group density.
  *
  * Every other table is symlinked unchanged. The cell's claim is
  * harness-bounded THROUGHPUT + zero failures at ×100 rate structure —
  * correctness at scale is owned by the stream==batch equivalence specs
  * and the sf0.01 driver gate, which run the same operators.
  *
  * Usage: `runMain graft.tools.SampleStreamWorld <srcDir> <dstDir>
  * [denominator]` (default 10; keeps keys with
  * pmod(xxhash64(key % Stride), N) == 0).
  */
object SampleStreamWorld {

  /** The sampling core: keep every row whose PRE-SHIFT key hashes into
    * residue 0 mod `denom`. All-or-nothing per original key — the
    * property SampleStreamWorldSpec pins, because a per-row sample would
    * thin sessions and destroy the per-key rate structure the streaming
    * cell exists to preserve. */
  def sampleByKey(df: org.apache.spark.sql.DataFrame, keyCol: String,
                  denom: Int): org.apache.spark.sql.DataFrame =
    df.where(pmod(xxhash64(pmod(col(keyCol), lit(ScaleUp.Stride))),
      lit(denom.toLong)) === 0L)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SampleStreamWorld <srcDir> <dstDir> [denominator]")
    val src = new java.io.File(args(0))
    val dst = new java.io.File(args(1))
    val denom = if (args.length > 2) args(2).toInt else 10
    require(denom >= 1, s"denominator must be >= 1, got $denom")
    require(src.isDirectory, s"$src is not a directory")
    require(src.getCanonicalPath != dst.getCanonicalPath,
      "dst must differ from src")
    dst.mkdirs()
    val spark = graft.GraftSession.getOrCreate()
    val sampledTables = Map(
      "events.parquet" -> "user_id", "documents.parquet" -> "doc_id")
    src.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { t =>
        val out = new java.io.File(dst, t.getName)
        sampledTables.get(t.getName) match {
          case Some(keyCol) =>
            val df = spark.read.parquet(t.getAbsolutePath)
            val kept = sampleByKey(df, keyCol, denom)
            kept.repartition(8).write.mode("overwrite")
              .parquet(out.getAbsolutePath)
            println(s"${t.getName}: 1-in-$denom by original-$keyCol hash " +
              s"-> ${spark.read.parquet(out.getAbsolutePath).count()} rows")
          case None =>
            // always re-link: a leftover link from a prior run against a
            // different (or since-rebuilt) srcDir would silently mix
            // worlds; deleteIfExists operates on the LINK, so a dangling
            // one is removed rather than tripping exists()=false +
            // FileAlreadyExistsException on create
            java.nio.file.Files.deleteIfExists(out.toPath)
            java.nio.file.Files.createSymbolicLink(out.toPath,
              t.getAbsoluteFile.toPath)
            println(s"${t.getName}: symlinked")
        }
      }
    spark.stop()
  }
}
