package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamOps

/** Streaming tier of the traced `etl_daily` run: the `events` table
  * replayed in fixed-size `MemoryStream` micro-batches through
  * `StreamOps.dedupedWindowedCounts`, one long-lived query. Each batch is
  * timed from `addData` until `processAllAvailable` returns. The seed
  * shuffles events inside blocks of `Disorder` (bounded out-of-order
  * arrival, well inside the two-hour lateness horizon) and redelivers a
  * share of them up to `Disorder` positions later. After the last batch a
  * far-future event moves the watermark past every window, and the
  * emitted windows must equal a batch aggregation over the distinct
  * replayed events. */
final class StreamTier(spark: SparkSession, data: String, seed: Long, checkpoint: String) {
  type Ev = (Long, Timestamp, String, Double)
  val BatchEvents = 1000
  val WarmupBatches = 3
  val TimedBatches = 8
  val Redelivery = 0.05
  val Disorder = 64

  /** The per-layer numbers and any output-check failures. */
  def run(): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.EventQueries.readEvents(spark, data)
      .select(col("event_id"), col("ts"), col("event_type"), col("value").cast("double"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    val rng = new scala.util.Random(seed)
    val disordered = base.grouped(Disorder).flatMap(b => rng.shuffle(b.toSeq)).toArray
    val replay = ArrayBuffer.empty[(Ev, Boolean)]
    val due = mutable.PriorityQueue.empty[(Int, Int)](Ordering.by[(Int, Int), Int](-_._1))
    disordered.indices.foreach { i =>
      replay += disordered(i) -> false
      while (due.nonEmpty && due.head._1 <= i) replay += disordered(due.dequeue()._2) -> true
      if (rng.nextDouble() < Redelivery) due.enqueue((i + 1 + rng.nextInt(Disorder), i))
    }
    val batches = replay.grouped(BatchEvents).take(WarmupBatches + TimedBatches).map(_.toSeq).toSeq
    val mem = MemoryStream[Ev]
    val query = StreamOps.dedupedWindowedCounts(
        mem.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("perfbench_windows")
      .outputMode("append").option("checkpointLocation", checkpoint).start()
    def feed(b: Seq[(Ev, Boolean)]): Double = {
      val t0 = System.nanoTime()
      mem.addData(b.map(_._1))
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    try {
      batches.take(WarmupBatches).foreach(feed)
      val firstTimed = query.lastProgress.batchId + 1
      val timed = batches.drop(WarmupBatches)
      val latencies = timed.map(feed)
      val progress = query.recentProgress.toSeq.filter(_.batchId >= firstTimed)
      val metrics = layers(progress, timed.map(_.count(_._2)).sum) +
        ("streaming.batch_s" -> Layers.median(latencies))
      (metrics, check(mem, query, batches.flatMap(_.map(_._1))))
    } finally query.stop()
  }

  private def toMicros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  private def check(mem: MemoryStream[Ev], query: StreamingQuery, added: Seq[Ev]): Seq[String] = {
    val last = added.map(e => toMicros(e._2)).max
    val sentinel = new Timestamp(Math.floorDiv(last, 1000L) + 86400000L)
    mem.addData(Seq((Long.MaxValue, sentinel, "sentinel", 0.0)))
    query.processAllAvailable()
    val hour = 3600000000L
    val expected = added.groupBy(_._1).values.map(_.head).toSeq
      .groupBy(e => (Math.floorDiv(toMicros(e._2), hour) * hour, e._3))
      .map { case (k, es) =>
        k -> (es.size.toLong,
          es.map(e => BigDecimal(e._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }
    val got = spark.table("perfbench_windows").collect().map { r =>
      (toMicros(r.getTimestamp(0)), r.getString(1)) -> (r.getLong(2), r.getDouble(3))
    }
    val gotMap = got.toMap
    val problems = ArrayBuffer.empty[String]
    if (got.length != gotMap.size) problems += "a window was emitted twice"
    if (gotMap != expected) {
      val diff = (expected.keySet ++ gotMap.keySet).toSeq
        .filter(k => expected.get(k) != gotMap.get(k)).take(3)
      problems += s"stream windows differ from the batch aggregation, e.g. " +
        diff.map(k => s"$k: stream ${gotMap.get(k)} batch ${expected.get(k)}").mkString("; ")
    }
    problems.toSeq
  }

  private def layers(progress: Seq[StreamingQueryProgress], injected: Int): Map[String, Double] = {
    val withData = progress.filter(_.numInputRows > 0)
    def dur(key: String): Double =
      Layers.median(withData.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      Layers.median(withData.map(_.stateOperators.map(f).sum))
    val dupDropped = progress.flatMap(_.stateOperators).map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.toLong).getOrElse(0L)).sum
    Map(
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.state_commit_ms" -> state(_.commitTimeMs.toDouble),
      "streaming.state_rows" -> state(_.numRowsTotal.toDouble),
      "streaming.state_memory_bytes" -> state(_.memoryUsedBytes.toDouble),
      "streaming.late_rows_dropped" ->
        progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.dup_drop_ratio" -> (if (injected > 0) dupDropped.toDouble / injected else 0.0))
  }
}
