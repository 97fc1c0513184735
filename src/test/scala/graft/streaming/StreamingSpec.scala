package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts with watermark aggregate by event-time hour (incremental)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.windowedCounts(df, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(30), "click", 2.0),
        (3L, ts(45), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("event_type", "n", "sum_value").as[(String, Long, Double)]
        .collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("stateful sessionize emits growing session then a new one after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("update").start()
    try {
      mem.addData((7L, ts(0)), (7L, ts(5)))
      q.processAllAvailable()
      mem.addData((7L, ts(45))) // 40 min gap > 10 min -> new session
      q.processAllAvailable()
      val updates = spark.table("sessions_out")
        .select("user_id", "n_events").as[(Long, Long)].collect()
      assert(updates.contains((7L, 2L))) // first session had 2 events
      assert(updates.contains((7L, 1L))) // post-gap session restarted at 1
    } finally q.stop()
  }

  test("sessionize splits a gap WITHIN one micro-batch (replay/backfill shape)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions_inbatch")
      .outputMode("update").start()
    try {
      // one batch spanning a 45-minute gap: two sessions, first closed
      mem.addData((9L, ts(0)), (9L, ts(5)), (9L, ts(50)))
      q.processAllAvailable()
      val ups = spark.table("sessions_inbatch")
        .select("user_id", "n_events", "closed").as[(Long, Long, Boolean)]
        .collect().toSet
      assert(ups.contains((9L, 2L, true)), s"closed first session: $ups")
      assert(ups.contains((9L, 1L, false)), s"live second session: $ups")
    } finally q.stop()
  }

  test("sessionize: a LATE cross-batch event merges without moving the " +
    "session clock backwards (no spurious split on the next arrival)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("update").start()
    try {
      mem.addData((5L, ts(8)))
      q.processAllAvailable()
      // batch 2 delivers a LATE event (ts 0 < state.last = 8) — no
      // watermark bounds arrival here. A last-regressing fold would set
      // last = 0 and then falsely split on the 12-minute-later event
      // (12 - 0 > gap) even though 12 - 8 = 4 min is inside the gap.
      mem.addData((5L, ts(0)))
      q.processAllAvailable()
      mem.addData((5L, ts(12)))
      q.processAllAvailable()
      val ups = spark.table("sessions_late")
        .select("user_id", "n_events", "closed").as[(Long, Long, Boolean)]
        .collect().toSet
      assert(ups.contains((5L, 3L, false)),
        s"one live 3-event session expected, got $ups")
      assert(!ups.exists(_._3), s"no session may close inside the gap: $ups")
    } finally q.stop()
  }

  test("end-to-end: parquet file stream -> watermarked windows -> exactly-once parquet sink") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def writeBatch(rows: Seq[(Long, Timestamp, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)

    writeBatch(Seq((1L, ts(0), "click", 1.0), (2L, ts(20), "click", 2.0)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = StreamOps.windowedCounts(stream, "1 hour", "10 minutes")
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", chk)
      .format("parquet")
      .option("path", out)
      .start()
    try {
      q.processAllAvailable()
      // a much later event advances the watermark past hour-10's close
      writeBatch(Seq((3L, Timestamp.valueOf("2024-01-01 14:00:00"), "view", 5.0)))
      q.processAllAvailable()
      writeBatch(Seq((4L, Timestamp.valueOf("2024-01-01 15:00:00"), "view", 6.0)))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("event_type", "n", "sum_value").as[(String, Long, Double)]
        .collect().toSet
      assert(got.contains(("click", 2L, 3.0)),
        s"hour-10 click window must be finalized and sunk, got $got")
    } finally q.stop()
  }

  test("streaming upsert sink: late updates overwrite, not duplicate (Derby)") {
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE win_t (window_start TIMESTAMP, event_type VARCHAR(20), " +
        "n BIGINT, sum_value DOUBLE)")
    conn.close()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val chk = java.nio.file.Files.createTempDirectory("graft_chk").toString
    val q = StreamOps.startJdbcUpsertSink(
      StreamOps.windowedCounts(df, "1 hour", "10 minutes"),
      url, "win_t", Seq("window_start", "event_type"), chk).start()
    try {
      mem.addData((1L, ts(0), "click", 1.0))
      q.processAllAvailable()
      // same window again: update-mode re-emits the row; the keyed delete
      // must overwrite, leaving exactly one row for the window
      mem.addData((2L, ts(30), "click", 2.0))
      q.processAllAvailable()
      val rows = spark.read.jdbc(url, "win_t", new java.util.Properties())
        .collect()
      assert(rows.length == 1, s"expected one upserted row, got ${rows.toSeq}")
      assert(rows.head.getAs[Long]("N") == 2L) // Derby upper-cases identifiers
      assert(rows.head.getAs[Double]("SUM_VALUE") == 3.0)
    } finally q.stop()
  }

  test("upsert sink opens ONE connection per micro-batch, not one per key") {
    val url = "jdbc:derby:memory:graftstream2;create=true"
    val conn0 = java.sql.DriverManager.getConnection(url)
    conn0.createStatement().execute(
      "CREATE TABLE win_t2 (window_start TIMESTAMP, event_type VARCHAR(20), " +
        "n BIGINT, sum_value DOUBLE)")
    conn0.close()
    val handshakes = new java.util.concurrent.atomic.AtomicInteger(0)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val chk = java.nio.file.Files.createTempDirectory("graft_chk2").toString
    val q = StreamOps.startJdbcUpsertSink(
      StreamOps.windowedCounts(df, "1 hour", "10 minutes"),
      url, "win_t2", Seq("window_start", "event_type"), chk,
      connect = { u =>
        handshakes.incrementAndGet()
        java.sql.DriverManager.getConnection(u)
      }).start()
    try {
      // four distinct keys in one micro-batch -> exactly one delete connection
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(5), "view", 2.0),
        (3L, ts(10), "buy", 3.0), (4L, ts(15), "scroll", 4.0))
      q.processAllAvailable()
      assert(handshakes.get() == 1,
        s"expected 1 delete connection for 4 keys, got ${handshakes.get()}")
      val rows = spark.read.jdbc(url, "win_t2", new java.util.Properties())
      assert(rows.count() == 4)
    } finally q.stop()
  }

  test("epoch guard: crashed batch replays to convergence, applied epoch skips") {
    val url = "jdbc:derby:memory:graftepoch;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE up_t (k VARCHAR(10), v BIGINT NOT NULL)")
    conn.createStatement().execute("INSERT INTO up_t VALUES ('a', 1)")
    conn.close()
    def rows(): Set[(String, Long)] =
      spark.read.jdbc(url, "up_t", new java.util.Properties())
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val handler = StreamOps.upsertBatch(url, "up_t", Seq("k"),
      java.sql.DriverManager.getConnection(_)) _

    // crash BETWEEN delete and append: the poison row violates NOT NULL,
    // so the keyed DELETE lands but the append dies mid-batch
    val poison = Seq(("a", None: Option[Long])).toDF("k", "v")
    intercept[Exception] { handler(poison, 7L) }
    assert(rows().isEmpty, "delete applied, append crashed, epoch unset")

    // replay of epoch 7 with the recovered data applies fully (the guard
    // was never set, so the batch is NOT skipped)
    handler(Seq(("a", Some(2L))).toDF("k", "v"), 7L)
    assert(rows() == Set(("a", 2L)))

    // a second delivery of the SAME epoch — even with different content —
    // is skipped outright by the guard: no delete, no append
    handler(Seq(("a", Some(99L))).toDF("k", "v"), 7L)
    assert(rows() == Set(("a", 2L)), "applied epoch must not re-apply")

    // a NEW epoch for the same key upserts normally
    handler(Seq(("a", Some(3L))).toDF("k", "v"), 8L)
    assert(rows() == Set(("a", 3L)))
  }

  test("upsert cardinality guard: a row-keyed batch fails loudly BEFORE " +
    "any effect; the same epoch replays clean with a partition key") {
    val url = "jdbc:derby:memory:graftcard;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE card_t (k VARCHAR(20), v BIGINT)")
    conn.createStatement().execute("INSERT INTO card_t VALUES ('keep', 0)")
    conn.close()
    val handler = StreamOps.upsertBatch(url, "card_t", Seq("k"),
      java.sql.DriverManager.getConnection(_)) _
    // MaxDeleteKeys + 1 distinct keys: the contract violation (row keys,
    // not logical-partition keys) must throw the documented error
    val big = spark.range(StreamOps.MaxDeleteKeys + 1)
      .selectExpr("cast(id as string) as k", "id as v")
    val e = intercept[IllegalArgumentException] { handler(big, 11L) }
    assert(e.getMessage.contains("logical-partition keys"))
    val after = spark.read.jdbc(url, "card_t", new java.util.Properties())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == Set(("keep", 0L)), "guard must fire before any effect")
    // the epoch guard was never set, so a corrected (partition-keyed)
    // replay of the SAME epoch applies normally
    handler(Seq(("keep", 1L)).toDF("k", "v"), 11L)
    val fixed = spark.read.jdbc(url, "card_t", new java.util.Properties())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fixed == Set(("keep", 1L)))
  }

  test("streaming dedup drops re-delivered events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    val q = StreamOps.dedupStream(df, Seq("event_id"), lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(0), "a"))
      q.processAllAvailable()
      // a replayed delivery of event 1 in a LATER micro-batch must also drop
      mem.addData((1L, ts(0), "a-replay"), (3L, ts(2), "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"each key exactly once, got $ids")
    } finally q.stop()
  }

  test("stream-stream join pairs views with clicks inside the time window only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("event_id", "ts", "user_id")
    val q = StreamOps.clickThroughJoin(df(views), df(clicks), "10 minutes")
      .writeStream.format("memory").queryName("ct_join")
      .outputMode("append").start()
    try {
      views.addData((100L, ts(0), 7L))
      clicks.addData(
        (200L, ts(5), 7L),   // same user, inside 10 min -> joins
        (201L, ts(45), 7L),  // outside the window -> no
        (202L, ts(5), 8L))   // other user -> no
      q.processAllAvailable()
      val rows = spark.table("ct_join")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 200L)), s"got $rows")
    } finally q.stop()
  }

  test("stateful sessionize state survives a query RESTART via checkpoint") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    def writeBatch(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(in)
    // foreachBatch sink: checkpoint-recoverable (the memory sink is not)
    def startQuery() = {
      val stream = spark.readStream.schema(schema).parquet(in)
        .as[(Long, Timestamp)]
      StreamOps.sessionize(stream, gapMs = 10 * 60 * 1000L,
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamOps.SessionUpdate],
           _: Long) =>
            batch.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .outputMode("update").start()
    }
    // run 1: two events of one session, then STOP the query
    writeBatch(Seq((5L, ts(0)), (5L, ts(5))))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // run 2: a third event inside the same session arrives after restart;
    // recovered state must CONTINUE the session (n=3), not start fresh
    writeBatch(Seq((5L, ts(9))))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val ups = spark.read.parquet(out)
        .select("user_id", "n_events", "closed").as[(Long, Long, Boolean)]
        .collect().toSet
      assert(ups.contains((5L, 3L, false)),
        s"restarted query must resume session state at n=3, got $ups")
    } finally q2.stop()
  }

  test("Trigger.AvailableNow drains the backlog, stops itself, resumes incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("payload", StringType)))
    def writeBatch(rows: Seq[(Long, Timestamp, String)]): Unit =
      rows.toDF("event_id", "ts", "payload")
        .coalesce(1).write.mode("append").parquet(in)
    // the production catch-up shape: a scheduled batch job that drains
    // whatever accumulated since the last run through the SAME streaming
    // checkpoint (dedup state included), then exits on its own
    def drain(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(in)
      val q = StreamOps.dedupStream(stream, Seq("event_id"),
          lateness = "10 minutes")
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow must stop by itself")
      assert(!q.isActive)
    }
    writeBatch(Seq((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(0), "a-dup")))
    drain()
    // second run: only the new file is processed; the replayed event 2 is
    // dropped by dedup state RECOVERED from the checkpoint
    writeBatch(Seq((2L, ts(1), "b-replay"), (3L, ts(2), "c")))
    drain()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"each key exactly once across runs: $ids")
  }

  test("near-dup gate core: novel docs pass, corpus matches are flagged with their parent") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the corpus today"),
      (11L, "completely different corpus content about spark engines and parquet"),
      (12L, "the quick brown fox jumps over the lazy dog in the corpus today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of 10/12 (one word edited) → flagged, min-id parent 10
      (1000000L, "the quick brown fox jumps over the lazy cat in the corpus today"),
      // exact copy of 11 → flagged at jaccard 1.0
      (1000001L, "completely different corpus content about spark engines and parquet"),
      // genuinely novel → passes
      (1000002L, "a totally novel nightly document sharing no shingle material at all"))
      .toDF("doc_id", "text")
    val out = StreamOps.nearDupGateBatch(batch, corpus, "text", "doc_id", 0.5)
      .select("id", "match_id", "passed")
      .as[(Long, Option[Long], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1000002L) == ((None, 1)))
    assert(out(1000000L)._2 == 0 && out(1000000L)._1.contains(10L),
      s"edited doc must flag min-id parent 10: ${out(1000000L)}")
    assert(out(1000001L) == ((Some(11L), 0)))
    // verdicts are a pure function of (batch, corpus): re-running the
    // gate (the foreachBatch replay shape) reproduces them exactly
    val again = StreamOps.nearDupGateBatch(batch, corpus, "text", "doc_id", 0.5)
      .select("id", "match_id", "passed")
      .as[(Long, Option[Long], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == out)
  }

  test("streaming near-dup gate: two micro-batches land annotated in the parquet sink") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the corpus today"),
      (11L, "completely different corpus content about spark engines and parquet"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.startNearDupGate(
      mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id", 0.5,
      s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((1000000L,
        "the quick brown fox jumps over the lazy cat in the corpus today"))
      q.processAllAvailable()
      mem.addData((1000001L,
        "a totally novel nightly document sharing no shingle material at all"))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/out")
        .select("id", "passed").as[(Long, Int)].collect().toSet
      assert(rows == Set((1000000L, 0), (1000001L, 1)),
        s"both micro-batches must land with verdicts: $rows")
      // exactly-once layout: each epoch owns an epoch=<id> partition dir
      // written with OVERWRITE — replaying an epoch (crash before the
      // checkpoint recorded it) rewrites its own dir instead of
      // appending a duplicate copy of every row. Simulate the replay by
      // re-running epoch 0's write; the row set must be unchanged.
      val epochDirs = new java.io.File(s"$dir/out").listFiles()
        .filter(_.getName.startsWith("epoch=")).map(_.getName).sorted
      assert(epochDirs.length == 2, s"one dir per epoch: ${epochDirs.toSeq}")
      val replayBatch = Seq((1000000L,
        "the quick brown fox jumps over the lazy cat in the corpus today"))
        .toDF("doc_id", "text")
      StreamOps.nearDupGateBatch(replayBatch, corpus, "text", "doc_id", 0.5)
        .write.mode("overwrite").parquet(s"$dir/out/${epochDirs.head}")
      val replayed = spark.read.parquet(s"$dir/out")
        .select("id", "passed").as[(Long, Int)].collect()
      assert(replayed.toSet == rows && replayed.length == 2,
        s"an epoch replay must not duplicate rows: ${replayed.toSeq}")
    } finally q.stop()
    // the convenience overload OWNS the index it built: stop() must have
    // released the persisted corpus blocks (and with them the
    // CacheManager sameResult-substitution registration) — r19 advice:
    // the old overload discarded the handle and leaked them to session end
    assert(q.index.persisted.nonEmpty,
      "convenience overload persists the corpus index")
    assert(q.index.persisted.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "GateQuery.stop() must unpersist the index it built")
  }

  test("near-dup gate refuses a pre-epoch flat-layout sink dir") {
    // the epoch=<id> overwrite layout can't coexist with the old flat
    // append layout: partition discovery breaks on the mix and old
    // duplicated rows are never healed — the gate must fail at start,
    // not produce an unreadable dataset
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the corpus today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gate_flat").toString
    val out = java.nio.file.Paths.get(s"$dir/out")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(
      out.resolve("part-00000-deadbeef.snappy.parquet"), Array[Byte](0))
    val mem = MemoryStream[(Long, String)]
    val ex = intercept[IllegalArgumentException] {
      StreamOps.startNearDupGate(
        mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id", 0.5,
        s"$dir/out", s"$dir/ckpt")
    }
    assert(ex.getMessage.contains("non-epoch"), ex.getMessage)
    // ...and the refused start must not leak the index it pre-built
    // (persist happens before the guard; the overload unwinds it).
    // ASSERTED, not narrated (r20 advice): a regression in the
    // catch-and-unpersist would otherwise pass silently — after the
    // refused start no cached RDD blocks may remain registered.
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "refused gate start leaked persisted corpus-index blocks: " +
        spark.sparkContext.getPersistentRDDs.values
          .map(_.name).mkString(", "))
    // an existing EPOCH-layout dir (data + _SUCCESS markers) is accepted
    java.nio.file.Files.delete(out.resolve("part-00000-deadbeef.snappy.parquet"))
    java.nio.file.Files.createDirectories(out.resolve("epoch=0"))
    java.nio.file.Files.write(out.resolve("_marker"), Array[Byte](0))
    val q2 = StreamOps.startNearDupGate(
      mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id", 0.5,
      s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((1000000L,
        "the quick brown fox jumps over the lazy dog in the corpus today"))
      q2.processAllAvailable()
    } finally q2.stop()
  }

  test("near-dup gate resolves its native functions on a FRESH session (foreachBatch clone)") {
    // r13 regression, caught by StreamBench's fresh JVM: gram_hashes /
    // intersect_size_sorted were registered on the CORPUS session only,
    // but a foreachBatch micro-batch analyzes under the stream's CLONED
    // session — a clone taken before any registration fails with
    // UNRESOLVED_ROUTINE. The suite's shared session masked this (earlier
    // tests register the functions before any stream starts), so this
    // test runs the gate on a newSession() whose registry never saw them.
    val fresh = spark.newSession()
    import fresh.implicits.{localSeqToDatasetHolder, newProductEncoder}
    implicit val sqlCtx = fresh.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the corpus today"))
      .toDF("doc_id", "text")
    val dir = trackedTempDir("graft-gate-fresh")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.startNearDupGate(
      mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id", 0.5,
      s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((1000000L,
        "the quick brown fox jumps over the lazy dog in the corpus today"))
      q.processAllAvailable()
      val rows = fresh.read.parquet(s"$dir/out")
        .select("id", "passed").as[(Long, Int)].collect().toSet
      assert(rows == Set((1000000L, 0)),
        s"the exact-duplicate replay must be flagged: $rows")
    } finally q.stop()
  }

  test("batch sessionization splits on the 30-minute gap") {
    val events = Seq(
      (1L, ts(0), 100L), (2L, ts(10), 100L), (3L, ts(55), 100L),
      (4L, ts(0), 200L))
      .toDF("event_id", "ts", "user_id")
    val out = StreamOps.sessionizeBatch(events)
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((100L, 1L, 2L), (100L, 2L, 1L), (200L, 1L, 1L)))
  }
}
