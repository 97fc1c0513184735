package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.queries.EventQueries
import graft.streaming.StreamOps

/** Proves the streaming path at data scale: drain the events table
  * through the REAL file-stream source — `readStream.parquet` with
  * `maxFilesPerTrigger`, so the query executes as a sequence of
  * incremental micro-batches with checkpointed state between them — into
  * `StreamOps.windowedCounts`, and require the final result to equal the
  * one-shot batch plan EXACTLY (exceptAll both ways). The streaming specs
  * cover watermark/state semantics on tiny MemoryStreams; this tool is
  * the volume complement: same operator, millions of rows, real source.
  *
  * Lateness is set beyond the data's time range: the scaled tables are
  * round-robin split, so files are NOT time-ordered, and any real
  * watermark would (correctly) drop cross-file stragglers — that behavior
  * is spec-tested; HERE the claim under test is incremental == batch on
  * the identical input set. State stays bounded by windows-in-range
  * either way.
  *
  * Usage: `runMain graft.tools.StreamDrain <dir> [filesPerTrigger]`
  * Prints one JSON line {rows, batches, sec, match}; exits 1 on mismatch.
  * `batches` is the TOTAL number of micro-batches executed
  * (`lastProgress.batchId + 1`), INCLUDING empty/no-data batches — not
  * the count of batches that processed rows. The old non-empty-batch
  * count read `recentProgress`, which caps at
  * `spark.sql.streaming.numRecentProgressUpdates` (100) and silently
  * undercounts long drains; the total is exact at any drain length.
  * (BASELINE.md's recorded "8 batches" figures carry the same meaning:
  * AvailableNow drains of a fixed file set execute no empty batches.)
  */
object StreamDrain {

  final case class Result(rows: Long, batches: Int, sec: Double,
                          matches: Boolean)

  def drain(spark: SparkSession, dir: String,
            filesPerTrigger: Int = 8): Result = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val stream = EventQueries.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(path))
    val name = s"drain_${System.nanoTime()}"
    val t0 = System.nanoTime()
    val q = StreamOps.windowedCounts(stream, lateness = "3650 days")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    // lastProgress survives any drain length; recentProgress is capped at
    // spark.sql.streaming.numRecentProgressUpdates (100) and would
    // undercount long drains. batchId is 0-based → +1 = batches executed.
    val batches = Option(q.lastProgress).map(_.batchId.toInt + 1).getOrElse(0)
    val got = spark.table(name)
    val want = StreamOps.windowedCounts(
      EventQueries.readEvents(spark, dir), lateness = "3650 days")
    val matches = got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    Result(got.count(), batches, sec, matches)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamDrain <dir> [filesPerTrigger]")
    val fpt = if (args.length > 1) args(1).toInt else 8
    val spark = graft.GraftSession.getOrCreate()
    val r = drain(spark, args(0), fpt)
    println(s"""{"rows":${r.rows},"batches":${r.batches},""" +
      s""""sec":${r.sec},"match":${r.matches}}""")
    spark.stop()
    if (!r.matches) sys.exit(1)
  }
}
