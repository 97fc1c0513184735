package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.CoreOps
import graft.streaming.StreamOps

/** Event-time analytics over the `events` table (timestamped stream shape).
  *
  * The events parquet has shipped in two layouts over time: int64
  * nanosecond timestamps (read as long nanos via
  * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(µs,
  * isAdjustedToUTC=false) which Spark reads as TIMESTAMP_NTZ. `readEvents`
  * normalizes either to a µs TimestampType under the pinned-UTC session —
  * the DuckDB oracle side uses epoch_us / date_trunc on the native values,
  * which agree exactly at the granularities queried (µs and coarser). */
object EventQueries {

  /** Child session for a replay harness: shares the SparkContext but
    * isolates conf. The dominant replay cost is the per-micro-batch fixed
    * overhead — state-store commits (one delta write per state partition
    * per stateful operator per batch) plus incremental planning — so the
    * state partition count is the lever: 4 instead of 32 cut it ~8× with
    * zero semantic change (r16), and 1 cuts the residual again (r21
    * probe, per-query mins: ev13 12.7→7.6 s, t41 6.2→4.1 s, sum of mins
    * over the five streaming rows 44.7→34.8 s) — the replay state is a
    * few thousand keys, so a single partition is un-skewed by
    * construction and every stateful stage schedules one task per batch
    * instead of four. This tunes the REPLAY HARNESS only — a production
    * run of the same operators sizes state partitions to the real key
    * cardinality. */
  private def replaySession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "1")
    ss
  }

  private val replayRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One replay's resources, handed to the body of [[replay]]: the child
    * session its streams must be built on, a memory-sink name unique in
    * the JVM, and single-use scratch dirs. */
  private[queries] final class Replay private[EventQueries] (
      val session: SparkSession, tag: String) {
    val sinkName = s"${tag}_sink_${replayRuns.incrementAndGet()}"
    private[queries] val scratchDirs =
      scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    private[EventQueries] val cleanups =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    /** A fresh dir, scrubbed when the replay ends. tmpfs when available:
      * the replay's fixed cost is the per-micro-batch offset/commit/
      * state-delta writes (fsync'd small files), which a disk /tmp turns
      * into ~1 s per batch. Replay checkpoints are single-use. */
    def scratchDir(): String = {
      val base = java.nio.file.Paths.get("/dev/shm")
      val dir =
        if (java.nio.file.Files.isWritable(base))
          java.nio.file.Files.createTempDirectory(base, s"graft_${tag}_")
        else java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
      scratchDirs += dir
      dir.toString
    }

    /** Run `f` at teardown, after the queries stop and the sink view is
      * dropped, before the scratch dirs are scrubbed. */
    def onCleanup(f: => Unit): Unit = cleanups += (() => f)

    /** Start `df` into the memory sink [[sinkName]], checkpointed in a
      * fresh scratch dir. */
    def startMemorySink(df: org.apache.spark.sql.Dataset[_],
                        outputMode: String)
        : org.apache.spark.sql.streaming.StreamingQuery =
      df.writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", scratchDir())
        .outputMode(outputMode).start()
  }

  /** The harness every streaming replay (ev10-ev13, t41) runs in. `body`
    * builds its streams on `r.session` (a fresh [[replaySession]]),
    * starts its query, feeds it and returns the sink read. The harness
    * collects that read, then tears down in order: stop every query on
    * the child session, drop the memory-sink view, run the `onCleanup`
    * actions, scrub the scratch dirs. The rows come back on the CALLER's
    * session with the read's field names and types, every field
    * nullable — the schema the parquet dump has always had.
    *
    * No-data micro-batches stay ENABLED (the default) deliberately:
    * they are what applies each batch's watermark advance mid-stream,
    * so append-mode emission and the late-drop path run live between
    * feed steps. An r17 draft disabled them for speed and the
    * lateness-zeroing mutant SURVIVED — the watermark never advanced
    * until the flush, every window finalized at the end, and the row
    * was a stream-shaped replay with inert watermark semantics. With
    * them on, lateness->0 drops the ~28 boundary-crossing sf0.01 rows
    * and the oracle gate catches it (kill recorded in BASELINE r17). */
  private[queries] def replay(spark: SparkSession, tag: String)(
      body: Replay => DataFrame): DataFrame = {
    val r = new Replay(replaySession(spark), tag)
    val (rows, fields) =
      try {
        val read = body(r)
        (read.collect(), read.schema.fields)
      } finally {
        r.session.streams.active.foreach(_.stop())
        r.session.catalog.dropTempView(r.sinkName)
        r.cleanups.foreach(_())
        r.scratchDirs.foreach(scrubCheckpoint)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType))))
  }

  /** Best-effort recursive delete of a replay's single-use checkpoint.
    * NEVER throws: the state-store maintenance thread can write into the
    * tree between the walk snapshot and the directory unlink (observed as
    * DirectoryNotEmptyException on ev13's join state during a full-suite
    * run — and the same race was the one transient ev13 bench failure),
    * and a finally-block throw would discard an already-computed result.
    * A few retries catch the common case; a leaked tmpfs dir is the
    * accepted worst case. */
  private[queries] def scrubCheckpoint(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    var attempt = 0
    while (attempt < 3 && java.nio.file.Files.exists(root)) {
      attempt += 1
      try {
        val walk = java.nio.file.Files.walk(root)
        // Files.walk holds directory handles until closed — a leak per
        // scrub otherwise (one per replay/staging call)
        val snapshot =
          try walk.iterator().asScala.toSeq finally walk.close()
        snapshot
          .sortBy(-_.getNameCount)
          .foreach { f =>
            try java.nio.file.Files.deleteIfExists(f)
            catch { case _: java.io.IOException => () }
          }
      }
      catch {
        // IO only (r17 advice): a Throwable catch here would swallow VM
        // errors (OOM) and the interrupt flag inside the NEVER-throws
        // contract callers rely on
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
      if (java.nio.file.Files.exists(root)) {
        try Thread.sleep(50L * attempt)
        catch {
          case _: InterruptedException =>
            // restore the flag and stop retrying — propagating out of the
            // callers' finally blocks would discard the computed result
            Thread.currentThread().interrupt()
            attempt = 3
        }
      }
    }
  }

  /** Normalize the `ts` column to a TimestampType — shared by the batch
    * reader and the streaming file source (graft.tools.StreamDrain), which
    * must agree on the instant. Three input shapes are accepted:
    *  - int64 nanos (old parquet layout read with nanosAsLong)
    *  - TIMESTAMP_NTZ (parquet TIMESTAMP(µs, isAdjustedToUTC=false) — the
    *    current testdata layout); the session timezone is pinned to UTC in
    *    Bench/Verify/tests, so the NTZ→TIMESTAMP cast is instant-preserving
    *  - TIMESTAMP, passed through unchanged */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: a float division promotes the ~1.7e18 ns
        // value to double (2^53 mantissa) and corrupts ~12% of µs values.
        // (`div` truncates toward zero while DuckDB's `//` floors — the
        // two diverge by 1 µs on PRE-1970 non-multiple-of-1000 ns values
        // only; the harness's event times are all post-2020, and the
        // shipped data no longer uses this layout at all.)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // unix_micros / withWatermark reject NTZ; cast to the instant type
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Normalize the ns-or-timestamp `ts` column to a TimestampType. */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(CoreOps.scan(spark, sfDir, "events"))

  /** Tumbling 1-hour event-time windows (batch view of the streaming op;
    * identical code path as StreamOps.windowedCounts). */
  def hourly(spark: SparkSession, sfDir: String): DataFrame =
    StreamOps.windowedCounts(readEvents(spark, sfDir))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  private val hourlyOracle =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |       event_type, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization (30 min), batch form: lag + running sum —
    * the oracle twin of the stateful streaming sessionizer. */
  def sessions(spark: SparkSession, sfDir: String): DataFrame =
    StreamOps.sessionizeBatch(readEvents(spark, sfDir))

  private val sessionsOracle =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev_ts IS NULL THEN 1
      |              WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |                   - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1
      |              ELSE 0 END AS new_session
      |  FROM x),
      |z AS (
      |  SELECT user_id,
      |         SUM(new_session) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM y)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |       count(*) AS n_events
      |FROM z GROUP BY 1, 2""".stripMargin

  /** JSON property extraction + aggregation: props is a JSON string;
    * extract $.k, aggregate per event_type. */
  def jsonAgg(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("user_id")).as("n_users"))

  private val jsonAggOracle =
    """SELECT event_type,
      |       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** Top event minute per user segment — event-time + ranking combined
    * (user_id % 10 as a segment proxy). */
  def topMinutes(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byMinute = readEvents(spark, sfDir)
      .groupBy((col("user_id") % 10).cast("int").as("segment"),
        date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm")
          .as("minute"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("n").desc, col("minute"))
    byMinute.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("segment"), col("rk"), col("minute"), col("n"))
  }

  private val topMinutesOracle =
    """WITH m AS (
      |  SELECT CAST(user_id % 10 AS INTEGER) AS segment,
      |         strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT segment, rk, minute, n FROM (
      |  SELECT segment, minute, n,
      |         row_number() OVER (PARTITION BY segment
      |                            ORDER BY n DESC, minute) AS rk
      |  FROM m) WHERE rk <= 3""".stripMargin

  /** As-of join: every 'view' event picks up the most recent 'click' of
    * the same user at-or-before its time (graft.ops.AsOf — union + one
    * keyed window, a single shuffle on user_id; never a per-key cross
    * product). Times compared as integer microseconds on both engines so
    * the ns→µs truncation is identical; clicks are deduped to one per
    * (user, µs) by max event_id for a deterministic result. The oracle is
    * DuckDB's native ASOF JOIN — a different algorithm entirely, which
    * makes the hash match a strong semantic check. */
  def asofViewClick(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("us"), col("event_id").as("view_id"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("event_id")).as("click_id"))
    graft.ops.AsOf.asOfJoin(views, clicks, "user_id", "us",
        leftCols = Seq("view_id"), payload = Seq("click_id"))
      .select(col("user_id"), col("view_id"), col("us").as("view_us"),
        col("click_id"))
  }

  private val asofViewClickOracle =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  epoch_ns(ts) // 1000 AS us
      |           FROM events),
      |v AS (SELECT user_id, us, event_id AS view_id
      |      FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, us, max(event_id) AS click_id
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT v.user_id, v.view_id, v.us AS view_us, c.click_id
      |FROM v ASOF LEFT JOIN c
      |  ON v.user_id = c.user_id AND v.us >= c.us""".stripMargin

  /** Spark's builtin session_window (30-min gap) — the declarative twin
    * of both StreamOps.sessionize (stateful) and sessionizeBatch
    * (lag+cumsum): same gap semantics, one aggregation, streaming-ready.
    * The oracle rebuilds sessions with the lag/cumsum formulation and
    * keys them by their start time, proving builtin == hand-rolled. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))

  private val sessionWindowsOracle =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |y AS (
      |  -- µs-precision gap: session_window compares full event times,
      |  -- unlike the floor-seconds unix_timestamp twin in ev02
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev_ts IS NULL THEN 1
      |              WHEN (epoch_ns(ts) // 1000) - (epoch_ns(prev_ts) // 1000)
      |                   >= 1800000000 THEN 1
      |              ELSE 0 END AS new_session
      |  FROM x),
      |z AS (
      |  SELECT user_id, ts,
      |         SUM(new_session) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM y)
      |SELECT user_id,
      |       strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S')
      |         AS session_start,
      |       count(*) AS n_events
      |FROM z GROUP BY user_id, session_seq""".stripMargin

  /** Funnel attribution: each 'purchase' picks up its latest prior
    * 'click' AND latest prior 'view' (same user, at-or-before the
    * purchase) — two composed as-of joins, i.e. sequential-pattern
    * matching without a single cross product or per-user collect.
    * Partial funnels surface as nulls. The oracle chains DuckDB's
    * native ASOF twice. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    def stage(t: String, idAs: String) = ev.where(col("event_type") === t)
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("event_id")).as(idAs)) // dedupe: one per (user, µs)
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("event_id").as("buy_id"))
    val withClick = graft.ops.AsOf.asOfJoin(
      buys, stage("click", "click_id"), "user_id", "us",
      leftCols = Seq("buy_id"), payload = Seq("click_id"))
    val withView = graft.ops.AsOf.asOfJoin(
      withClick, stage("view", "view_id"), "user_id", "us",
      leftCols = Seq("buy_id", "click_id"), payload = Seq("view_id"))
    withView.select(col("user_id"), col("us").as("buy_us"),
      col("buy_id"), col("click_id"), col("view_id"))
  }

  private val funnelOracle =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  epoch_ns(ts) // 1000 AS us
      |           FROM events),
      |b AS (SELECT user_id, us, event_id AS buy_id
      |      FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, us, max(event_id) AS click_id
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
      |v AS (SELECT user_id, us, max(event_id) AS view_id
      |      FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |bc AS (
      |  SELECT b.user_id, b.us, b.buy_id, c.click_id
      |  FROM b ASOF LEFT JOIN c
      |    ON b.user_id = c.user_id AND b.us >= c.us)
      |SELECT bc.user_id, bc.us AS buy_us, bc.buy_id, bc.click_id, v.view_id
      |FROM bc ASOF LEFT JOIN v
      |  ON bc.user_id = v.user_id AND bc.us >= v.us""".stripMargin

  /** Cohort retention: users grouped by their first-seen date, counted
    * by how many distinct users of each cohort are active N weeks later
    * — the DAU/retention matrix every event warehouse builds. Two
    * map-side-combined aggregations + one keyed join; day-granularity
    * integer arithmetic end-to-end, so the oracle is exact. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_day"))
    ev.join(firstSeen, "user_id")
      .groupBy(col("cohort_day"),
        floor(datediff(col("d"), col("cohort_day")) / 7).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("week_offset"), col("n_active"))
  }

  private val cohortRetentionOracle =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1)
      |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
      |       CAST(floor(datediff('day', f.cohort_day, ev.d) / 7) AS INTEGER)
      |         AS week_offset,
      |       count(DISTINCT ev.user_id) AS n_active
      |FROM ev JOIN f USING (user_id)
      |GROUP BY f.cohort_day, 2""".stripMargin

  /** Per-window distinct users — the DAU/HAU shape. Exact distinct per
    * hour: a two-phase (Expand) aggregation whose shuffle carries one row
    * per (hour, user), not per event. At unbounded-cardinality scale the
    * sketch twin is `approx_count_distinct` (mergeable HLL state,
    * SketchSpec error bounds); this exact form is the oracle-checkable
    * reference. */
  def windowedDistinct(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH").as("hour"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  private val windowedDistinctOracle =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  /** ev10 — the streaming tier made driver-visible (r16 verdict item 4):
    * replay the WHOLE events corpus through the genuinely incremental
    * path — MemoryStream micro-batches, append output mode, a real
    * watermark, state-store-backed streaming aggregation — and return
    * the emitted windows as a DataFrame the driver can hash against the
    * SAME DuckDB oracle as the batch twin ev01. The stream==batch
    * equivalence spec proved this identity in-suite since r13; this
    * query surfaces it in CORRECTNESS_r{N}.json.
    *
    * Feed discipline (the StreamBatchEquivalenceSpec parameters,
    * mutation-killed there): bounded-disorder batching buckets rows by
    * `ts + (event_id % 4) * 30 min`, so ~3/4 of events arrive up to
    * 90 min later than their cohort — the jitter EXCEEDS the 1-hour
    * window length (append mode only drops once window.end < watermark)
    * while staying under the 2-hour lateness, so watermark semantics are
    * exercised with zero late drops: the precondition for identity with
    * batch. A final flush sentinel 4 h past max(ts) closes every real
    * window (append mode emits nothing until the watermark passes
    * window.end); the sentinel's own window is excluded from the result.
    *
    * Scale shape: the driver-side collect here is the deterministic
    * REPLAY HARNESS, not the operator — it exists so the incremental
    * path's output can be fed to the parquet dump + DuckDB compare. The
    * operator under test (StreamOps.windowedCounts) keeps O(windows in
    * flight) state and reads from a real source (file/Kafka) in
    * production; nothing in it collects. */
  def streamHourlyReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = eventValueRows(spark, sfDir)
    val batches = boundedDisorderBatches(rows)
    replay(spark, "ev10") { r =>
      import r.session.implicits._
      val mem = MemoryStream[(Long, Timestamp, String, Double)](r.session)
      val q = r.startMemorySink(StreamOps.windowedCounts(
          mem.toDF().toDF("event_id", "ts", "event_type", "value"),
          "1 hour", "2 hours"), "append")
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // TWO flush sentinels: the watermark a batch computes only takes
      // effect in a LATER batch. With no-data micro-batches enabled the
      // engine runs that later batch itself, so sentinel 1 alone
      // suffices; sentinel 2 stays as a belt-and-braces emission batch
      // so the tail windows flush even if the no-data conf changes
      // (an r17 draft with them off lost 15 tail windows at sf0.01
      // until the second sentinel — the oracle gate caught it).
      val maxTs = rows.iterator.map(_._2.getTime).max
      Seq(4, 8).foreach { h =>
        mem.addData((-1L, new Timestamp(maxTs + h * 3600 * 1000L),
          "__flush", 0.0))
        q.processAllAvailable()
      }
      replayedHours(r.session.table(r.sinkName))
    }
  }

  /** ev10/ev12's feed rows: every event as (event_id, ts, event_type,
    * value). */
  private def eventValueRows(spark: SparkSession, sfDir: String)
      : Array[(Long, Timestamp, String, Double)] =
    readEvents(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, Timestamp, String, Double)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.TIMESTAMP,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaDouble)).collect()

  /** ev10/ev12's sink read: the emitted windows without the flush
    * sentinels', in ev01's result shape (all three share its oracle). */
  private def replayedHours(sink: DataFrame): DataFrame =
    sink.where(col("event_type") =!= "__flush")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** ev11 — the STATEFUL streaming path made driver-visible (the ev10
    * pattern applied to the custom state machine): replay the whole
    * events corpus through [[StreamOps.sessionize]] —
    * flatMapGroupsWithState, per-key session state, update output mode,
    * real micro-batches and state stores — reduce the update stream to
    * final sessions, and hash against the SAME DuckDB oracle as the
    * batch twin ev02. The stream==batch equivalence spec proved this
    * identity in-suite since r13; this query surfaces it in
    * CORRECTNESS_r{N}.json.
    *
    * Feed discipline: TIME-SORTED batches — mapGroupsWithState carries
    * no watermark, so its contract is in-order-per-key arrival (the
    * production shape: fed by a watermark-sorted/deduped upstream).
    * NoTimeout per the [[StreamOps.sessionize]] scaladoc: a
    * processing-time-timeout query never goes idle under
    * processAllAvailable; gap splits still happen batch-to-batch.
    * Update-mode rows grow n_events monotonically at a fixed
    * session_start, so max(n) per (user, start) is the converged count
    * and session_seq is the per-user rank of the start — ev02's shape.
    *
    * Batch granularity: 4-day TIME-SORTED cohorts (ev10/ev12's r18
    * replay-cost cut applied here, r18 verdict item 1) — the replay's
    * fixed cost is per-micro-batch state-store commits, so halving the
    * batch count over the 30-day corpus (~15 → ~8) halves harness cost
    * with zero semantic loss: the feed stays globally time-sorted
    * (the mapGroupsWithState in-order contract), sessions still split
    * and resume across every cohort seam, and the gap 30→29 mutant
    * still flags exactly this row at the new size (BASELINE.md r19). */
  def streamSessionsReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = readEvents(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .as[(Long, Timestamp)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP)).collect()
      .sortBy(r => (r._2.getTime, r._1))
    val batches = sortedCohortBatches(rows)
    replay(spark, "ev11") { r =>
      import r.session.implicits._
      val mem = MemoryStream[(Long, Timestamp)](r.session)
      val q = r.startMemorySink(StreamOps.sessionize(mem.toDS(),
          gapMs = 30 * 60 * 1000L,
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout),
        "update")
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      r.session.table(r.sinkName)
        .groupBy(col("user_id"), col("session_start"))
        .agg(max(col("n_events")).as("n_events"))
        .withColumn("session_seq", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("session_start")))
          .cast("long"))
        .select(col("user_id"), col("session_seq"), col("n_events"))
    }
  }

  /** ev12 — exactly-once ingestion over an at-least-once feed, made
    * driver-visible (the fourth streaming row; ev10 covers watermarked
    * aggregation, ev11 custom state, t41 the foreachBatch sink): the
    * events corpus replayed through
    * [[StreamOps.dedupedWindowedCounts]] — dropDuplicatesWithinWatermark
    * chained INTO the windowed aggregation, two stateful operators in
    * append mode — with every `event_id % 7 == 0` row REDELIVERED in
    * the following micro-batch (the at-least-once source contract:
    * id-identical retries inside the redelivery horizon). The dedup
    * state absorbs all ~14% planted redeliveries, so the emitted
    * windows hash against the SAME DuckDB oracle as the batch twin
    * ev01 — each event counted exactly once (the t31-reuses-t30
    * pattern: same values by construction; the streaming dedup state
    * is the point). Ev12ReplaySpec additionally runs the SAME
    * duplicated feed through the dedup-less [[StreamOps.windowedCounts]]
    * and pins that the counts DIVERGE — the in-suite twin of the
    * dedup-removal mutant.
    *
    * Feed discipline: ev10's bounded-disorder cohorts (4-day buckets,
    * 90-min jitter), lateness 96 h — the horizon must cover the
    * REDELIVERY gap (one full cohort), not just event-time disorder, so
    * a next-batch duplicate still finds its dedup state alive (state
    * lives until watermark > event time + lateness). Flush sentinels
    * (unique ids, excluded from the result) at +120 h/+240 h close the
    * tail windows through the longer horizon.
    *
    * Scale shape: the driver-side collect is the deterministic REPLAY
    * HARNESS (ev10's contract), not the operator — in production
    * [[StreamOps.dedupedWindowedCounts]] reads a real source and keeps
    * O(events within lateness) dedup state + O(windows in flight)
    * aggregation state; nothing in it collects. */
  def streamDedupReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = eventValueRows(spark, sfDir)
    val batches = duplicatedBatches(boundedDisorderBatches(rows))
    replay(spark, "ev12") { r =>
      import r.session.implicits._
      val mem = MemoryStream[(Long, Timestamp, String, Double)](r.session)
      val q = r.startMemorySink(StreamOps.dedupedWindowedCounts(
          mem.toDF().toDF("event_id", "ts", "event_type", "value"),
          "1 hour", "96 hours"), "append")
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val maxTs = rows.iterator.map(_._2.getTime).max
      Seq(120, 240).zipWithIndex.foreach { case (h, i) =>
        mem.addData((-1L - i, new Timestamp(maxTs + h * 3600 * 1000L),
          "__flush", 0.0))
        q.processAllAvailable()
      }
      replayedHours(r.session.table(r.sinkName))
    }
  }

  /** ev12's at-least-once feed: every `event_id % 7 == 0` row of batch
    * i is REDELIVERED (id-identical) at the head of batch i+1. Public
    * to the spec, which pins the redelivery count and that the
    * dedup-less twin diverges on exactly this feed. */
  private[queries] def duplicatedBatches(
      batches: Seq[Seq[(Long, java.sql.Timestamp, String, Double)]])
      : Seq[Seq[(Long, java.sql.Timestamp, String, Double)]] =
    batches.zipWithIndex.map { case (b, i) =>
      if (i == 0) b
      else batches(i - 1).filter(_._1 % 7 == 0) ++ b
    }

  /** ev13 — the stream-stream JOIN made driver-visible (the fifth
    * streaming row; state shape: both sides' rows retained only for the
    * join window + lateness — the requirement for an unbounded
    * stream × stream join to run forever): views and clicks replayed as
    * TWO MemoryStreams in interleaved bounded-disorder cohorts through
    * [[StreamOps.clickThroughJoin]] — each view pairs with the clicks of
    * the same user landing within 4 h AFTER it (click-through
    * attribution; ev05 is the at-or-BEFORE as-of sibling; 4 h gives the
    * sf0.01 gate a ~160-pair hash surface where 10 min yields 6) — and the
    * emitted pairs hashed against a DuckDB oracle that re-derives the
    * interval join on integer microseconds. The stream==batch identity
    * was spec-proven in StreamBatchEquivalenceSpec since r13; this row
    * surfaces it in CORRECTNESS_r{N}.json. Feed discipline per that
    * spec: 15-min max jitter < 30-min lateness, so nothing is late and
    * a view's join state (view_ts + window + lateness) always outlives
    * the latest arrival of its candidate clicks (a boundary-epoch view's
    * next-cohort clicks arrive while the watermark still trails the
    * prior cohort's end by the lateness).
    *
    * Scale shape: the driver-side collect is the replay harness (ev10's
    * contract); the operator keeps O(rows within window + lateness)
    * state per side and never collects. */
  def streamClickJoinReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    def side(t: String) = ev.where(col("event_type") === t)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[(Long, Timestamp, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaLong)).collect()
    val (viewRows, clickRows) = (side("view"), side("click"))

    // 8-day epochs (r18: the second halving of this replay's batch
    // count — ~4 epochs per side over the 30-day corpus). Correctness is
    // epoch-length-INDEPENDENT here: a view's join state lives until the
    // watermark passes view_ts + within + lateness, and the watermark
    // trails each epoch's max by the lateness, so boundary-epoch views
    // always outlive their candidate clicks — fewer boundaries is
    // strictly safer. The 15-min jitter < 30-min lateness discipline
    // (StreamBatchEquivalenceSpec) is untouched. Width capped at span/3
    // (the ev11 rule, coarser here because the two sides interleave to
    // ~2× the batch count): a short-span corpus must still replay
    // multi-epoch or the cross-epoch join-state path goes unexercised.
    val allTimes = (viewRows.iterator ++ clickRows.iterator).map(_._2.getTime)
    val (tLo, tHi) = allTimes.foldLeft((Long.MaxValue, Long.MinValue)) {
      case ((a, b), t) => (a.min(t), b.max(t))
    }
    // Explicit empty guard (the boundedDisorderBatches/sortedCohortBatches
    // rule): on two empty feeds tHi - tLo is MinValue - MaxValue, which
    // lands on bucketMs = 1 only by two's-complement wrap — make the
    // no-rows case a stated value, not an overflow coincidence. (The
    // replay below is already a no-op then: no keys, empty sink.)
    val bucketMs =
      if (viewRows.isEmpty && clickRows.isEmpty) 1L
      else math.max(1L,
        math.min(8L * 24 * 3600 * 1000, (tHi - tLo) / 3 + 1))
    def jitterMs(id: Long): Long = (id % 4) * 5 * 60 * 1000L
    def buckets(rows: Array[(Long, Timestamp, Long)]) =
      rows.groupBy(r => (r._2.getTime + jitterMs(r._1)) / bucketMs)
    val vB = buckets(viewRows); val cB = buckets(clickRows)
    val keys = (vB.keySet ++ cB.keySet).toSeq.sorted

    replay(spark, "ev13") { r =>
      import r.session.implicits._
      val vMem = MemoryStream[(Long, Timestamp, Long)](r.session)
      val cMem = MemoryStream[(Long, Timestamp, Long)](r.session)
      def sideDf(m: MemoryStream[(Long, Timestamp, Long)]) =
        m.toDF().toDF("event_id", "ts", "user_id")
      val q = r.startMemorySink(StreamOps.clickThroughJoin(sideDf(vMem),
          sideDf(cMem), within = "4 hours", lateness = "30 minutes"),
        "append")
      keys.foreach { k =>
        vB.get(k).foreach(b => vMem.addData(b.toSeq))
        cB.get(k).foreach(b => cMem.addData(b.toSeq))
        q.processAllAvailable()
      }
      r.session.table(r.sinkName)
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("click_ts")).as("click_us"))
    }
  }

  private val streamClickJoinOracle =
    """WITH v AS (SELECT user_id, event_id AS view_id,
      |                  epoch_ns(ts) // 1000 AS view_us
      |           FROM events WHERE event_type = 'view'),
      |     c AS (SELECT user_id, event_id AS click_id,
      |                  epoch_ns(ts) // 1000 AS click_us
      |           FROM events WHERE event_type = 'click')
      |SELECT v.user_id, view_id, click_id, view_us, click_us
      |FROM v JOIN c USING (user_id)
      |WHERE click_us >= view_us
      |  AND click_us <= view_us + 14400000000""".stripMargin

  /** ev10's feed partition: bucket by `ts + (event_id % 4) * 30 min` in
    * 2-day cohorts — a multi-batch, bounded-disorder replay (jitter >
    * window length, < watermark lateness). Factored out so the spec can
    * pin the multi-batch and partition properties the watermark claim
    * rests on. */
  private[queries] def boundedDisorderBatches(
      rows: Array[(Long, java.sql.Timestamp, String, Double)])
      : Seq[Seq[(Long, java.sql.Timestamp, String, Double)]] = {
    // 4-day cohorts (r17 advice item 3 — ev13's trick applied to
    // ev10/ev12): the replay's fixed cost is per-micro-batch state-store
    // commits, so halving the batch count over the 30-day corpus
    // (~15 → ~8) halves harness cost with zero semantic loss — the
    // 90-min jitter still exceeds ev10's 1-h window and still plants
    // boundary-crossing arrivals at every cohort seam (half as many
    // seams; the lateness-zeroing mutant still drops them and the
    // driver gate still catches — re-killed at this size, BASELINE r18).
    // width capped at span/6 (the ev11 rule): a fixed 4-day width on a
    // short-span corpus would collapse the replay to ONE batch — the
    // watermark would never advance mid-stream and the row would pass
    // its oracle with the late-drop path unexercised
    if (rows.isEmpty) return Seq.empty
    val times = rows.iterator.map(_._2.getTime)
    val (lo, hi) = times.foldLeft((Long.MaxValue, Long.MinValue)) {
      case ((a, b), t) => (a.min(t), b.max(t))
    }
    val bucketMs = math.max(1L,
      math.min(4L * 24 * 3600 * 1000, (hi - lo) / 6 + 1))
    def jitterMs(id: Long): Long = (id % 4) * 30 * 60 * 1000L
    rows.groupBy(r => (r._2.getTime + jitterMs(r._1)) / bucketMs)
      .toSeq.sortBy(_._1).map(_._2.toSeq)
  }

  /** ev11's feed partition: the time-sorted rows sliced at cohort
    * boundaries (no jitter — mapGroupsWithState has no watermark, so the
    * contract is in-order-per-key arrival; contiguous slices of a
    * globally sorted array trivially satisfy it). Cohort width is 4 days
    * CAPPED at span/6, so a short-span corpus still replays in ≥ ~6
    * micro-batches — a fixed width would silently collapse such a feed
    * to ONE batch, and the row would pass its oracle without ever
    * exercising the cross-batch session-resume path it exists to gate.
    * Factored out so the spec can pin multi-batch-ness and feed
    * losslessness, mirroring [[boundedDisorderBatches]]. Array.groupBy
    * preserves encounter order within each group, so each cohort stays
    * time-sorted. */
  private[queries] def sortedCohortBatches(
      rows: Array[(Long, java.sql.Timestamp)])
      : Seq[Seq[(Long, java.sql.Timestamp)]] = {
    if (rows.isEmpty) return Seq.empty
    val span = rows.last._2.getTime - rows.head._2.getTime
    val bucketMs = math.max(1L,
      math.min(4L * 24 * 3600 * 1000, span / 6 + 1))
    rows.groupBy(_._2.getTime / bucketMs).toSeq.sortBy(_._1).map(_._2.toSeq)
  }

  def all: Seq[NamedQuery] = Seq(
    NamedQuery("ev10_stream_hourly_replay", streamHourlyReplay,
      Some(hourlyOracle)),
    NamedQuery("ev11_stream_sessions_replay", streamSessionsReplay,
      Some(sessionsOracle)),
    // ev12 shares ev01/ev10's oracle BY CONSTRUCTION: the planted
    // redeliveries are absorbed by the dedup state, so the correct
    // output is each event counted once — the streaming dedup is the
    // point (the t31-reuses-t30 pattern); Ev12ReplaySpec pins that the
    // dedup-less twin diverges on the same feed.
    NamedQuery("ev12_stream_dedup_replay", streamDedupReplay,
      Some(hourlyOracle)),
    NamedQuery("ev13_stream_click_join_replay", streamClickJoinReplay,
      Some(streamClickJoinOracle)),
    NamedQuery("ev09_windowed_distinct", windowedDistinct,
      Some(windowedDistinctOracle)),
    NamedQuery("ev01_hourly_windows", hourly, Some(hourlyOracle)),
    NamedQuery("ev08_cohort_retention", cohortRetention,
      Some(cohortRetentionOracle)),
    NamedQuery("ev07_funnel", funnel, Some(funnelOracle)),
    NamedQuery("ev06_session_windows", sessionWindows,
      Some(sessionWindowsOracle)),
    NamedQuery("ev05_asof_view_click", asofViewClick, Some(asofViewClickOracle)),
    NamedQuery("ev02_sessions", sessions, Some(sessionsOracle)),
    NamedQuery("ev03_json_agg", jsonAgg, Some(jsonAggOracle)),
    NamedQuery("ev04_top_minutes", topMinutes, Some(topMinutesOracle)),
  )
}
