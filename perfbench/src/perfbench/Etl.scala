package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.conf.{DumpConf, FieldMapping}
import graft.pipeline.Pipeline
import graft.sink.JdbcIdempotentSink

/** `etl_daily`: the reference job's own traffic. Each op is one
  * `graft.Main.run(conf)` that moves one `ds` day of `lineitem` into an
  * in-memory Derby table through `JdbcIdempotentSink` with
  * `delete_before_dump=true`. A pass imports each of five days no earlier
  * pass imported twice, in a seeded interleaving, so the keyed DELETE of
  * the second import really deletes; two ops in twelve ask for a day
  * outside the data (`error_if_none_data=false`), the empty-data path.
  * Days are new in every pass, as in the daily job: the first import of a
  * day costs more than a re-import (a timed pass that repeated the days of
  * the one before ran ~20% faster). The warm-up is one import, then
  * untimed passes of the same shape: op latency still falls slowly after
  * 37 warm-up ops, and runs that stopped warming there read 10-25% slower
  * than runs warmed for 97. Its traced run also runs the streaming tier
  * ([[StreamTier]]) on the same tables. */
final class Etl(s: Settings) extends Workload {
  val passSeconds = 5.0
  val DaysPerPass = 5
  val OutOfDataPerPass = 2
  val WarmupPasses = 6
  private val Url = "jdbc:derby:memory:perfbench"
  private val Table = "target_db.lineitem_dump"
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val rng = new scala.util.Random(s.seed)
  private val dayPool = rng.shuffle((0 until Data.ShipDays).toVector)
  private val firstDay = shipDay(dayPool.head)
  /** Days imported so far, in order. */
  private val imported = scala.collection.mutable.LinkedHashSet.empty[String]
  // far outside l_shipdate's span, so the source partition is empty
  private val outDays = rng.shuffle((0 until 3650).toVector).take(OutOfDataPerPass)
    .map(d => LocalDate.of(2030, 1, 1).plusDays(d).format(fmt))
  private lazy val conn: Connection = DriverManager.getConnection(Url)
  private val confDir = Paths.get(s.work, "etl")
  private val cachedBytes = ArrayBuffer.empty[Double]

  private def shipDay(i: Int): String =
    LocalDate.parse(Data.FirstShipDate).plusDays(i).format(fmt)

  def prepare(): Unit = {
    val c = DriverManager.getConnection(Url + ";create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE SCHEMA target_db")
      st.execute(s"CREATE TABLE $Table (id BIGINT, line_no INT, " +
        "flag VARCHAR(4), ds VARCHAR(8), version VARCHAR(8))")
    } finally c.close()
    Files.createDirectories(confDir)
    Files.writeString(confDir.resolve("dump.map"),
      "id=l_orderkey\nline_no=l_linenumber\nflag=l_returnflag\nds=$ds\nversion=#2.0\n")
  }

  private def confPath(day: String) = confDir.resolve(s"dump-$day.conf")

  private def writeConf(day: String): Unit =
    if (!Files.exists(confPath(day))) Files.writeString(confPath(day), Seq(
      s"source_dir=${s.data}", "hive_table=lineitem", "date_column=l_shipdate",
      s"ds=$day", "ds_formater=yyyyMMdd", s"dump_map_file=${confDir.resolve("dump.map")}",
      s"mysql_url=$Url", "mysql_db=target_db", "mysql_table=lineitem_dump",
      "error_if_none_data=false", "delete_before_dump=true").mkString("\n"))

  private def countDs(day: String): Long = {
    val ps = conn.prepareStatement(s"SELECT COUNT(*) FROM $Table WHERE ds = ?")
    try {
      ps.setString(1, day)
      val rs = ps.executeQuery(); rs.next(); rs.getLong(1)
    } finally ps.close()
  }

  private def total(): Long = {
    val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table")
    rs.next(); rs.getLong(1)
  }

  /** `Main.run` with the sink split into its delete and append halves:
    * the same calls `JdbcIdempotentSink.write` makes, each in a span. */
  private def tracedRun(day: String): Long = {
    val (conf, mapping) = Trace.span("main.conf") {
      val conf = DumpConf.parseString(Files.readString(confPath(day)))
      val mapping = FieldMapping.parseString(
        Files.readString(Paths.get(conf.raw("dump_map_file"))))
      (conf, mapping)
    }
    val spark = SparkSession.active
    graft.plans.DsRangeRewrite.install(spark)
    graft.plans.LevenshteinPrefilter.install(spark)
    var sinkAt = -1L
    val runIdx = Trace.spans.size
    val runStart = System.nanoTime()
    Trace.span("pipeline.run") {
      val n = Pipeline.run(spark, s.data, "lineitem", "l_shipdate", conf, mapping) { df =>
        sinkAt = System.nanoTime()
        cachedBytes += Cached.bytes(spark).toDouble
        val keys = mapping.constants(conf.raw)
        val target = conf.mysqlTarget.get
        Trace.span("sink.delete")(JdbcIdempotentSink.preDelete(Url, target, keys))
        Trace.span("sink.append")(JdbcIdempotentSink.write(df, Url, target, keys,
          batchSize = conf.batchSize, deleteBeforeDump = false))
      }
      pending = Some((Trace.currentOp, runIdx, runStart,
        if (sinkAt > 0) sinkAt else System.nanoTime()))
      n
    }
  }

  /** (op, pipeline.run span, run start, count end) of the last traced op,
    * split into plan and count once the listener reports the count. */
  private var pending: Option[(Int, Int, Long, Long)] = None

  private def splitPipeline(): Unit = pending.foreach { case (op, parent, start, countEnd) =>
    val countNs = Listeners.current.map(_.awaitCount()).getOrElse(0L)
    Trace.add("pipeline.plan", op, parent, start, countEnd - countNs)
    Trace.add("pipeline.count", op, parent, countEnd - countNs, countEnd)
    pending = None
  }

  private final class Import(day: String, outOfData: Boolean) extends Op(day) {
    private var sinkBefore = 0L
    override def before(): Unit = {
      writeConf(day)
      if (outOfData) sinkBefore = total()
    }
    def run(): Any =
      if (Trace.on) tracedRun(day) else graft.Main.run(confPath(day).toString)
    override def rows(r: Any): Long = r.asInstanceOf[Long]
    override def check(r: Any): Option[String] = {
      splitPipeline()
      val n = r.asInstanceOf[Long]
      if (outOfData) {
        val after = total()
        if (n != 0 || after != sinkBefore)
          Some(s"$day is outside the data but returned $n and moved the sink $sinkBefore -> $after")
        else None
      } else {
        val inSink = countDs(day)
        if (n <= 0 || inSink != n) Some(s"$day returned $n but the sink holds $inSink")
        else None
      }
    }
  }

  /** Pass `slot` (the warm-up passes first, then the timed ones): the slot's
    * own days, each twice, and the out-of-data days, in a seeded order. */
  private def mix(slot: Int): Seq[Op] = {
    val set = dayPool.slice(1 + slot * DaysPerPass, 1 + (slot + 1) * DaysPerPass).map(shipDay)
    imported ++= set
    new scala.util.Random(s.seed * 31 + slot).shuffle(set ++ set ++ outDays)
      .map(d => new Import(d, outDays.contains(d)))
  }

  def warmup(): Seq[Op] = {
    imported += firstDay
    new Import(firstDay, outOfData = false) +: (0 until WarmupPasses).flatMap(mix)
  }

  def pass(p: Int): Seq[Op] = mix(WarmupPasses + p - 1)

  def finalCheck(): Seq[String] = {
    val spark = SparkSession.active
    val source = spark.read.parquet(s"${s.data}/lineitem.parquet")
      .groupBy(date_format(col("l_shipdate"), "yyyyMMdd").as("ds")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    imported.toSeq.flatMap { d =>
      val inSink = countDs(d)
      val expect = source.getOrElse(d, 0L)
      if (inSink != expect) Some(s"$d: sink holds $inSink rows, source has $expect") else None
    } ++ outDays.flatMap { d =>
      val inSink = countDs(d)
      if (inSink != 0) Some(s"$d is outside the data but the sink holds $inSink") else None
    } ++ streamProblems
  }

  /** Output-check failures of the streaming tier, reported at the end. */
  private var streamProblems = Seq.empty[String]

  override def layers(traced: Seq[OpRecord], l: Listeners): Map[String, Double] = {
    val (streaming, problems) = new StreamTier(SparkSession.active, s.data, s.seed,
      s"${s.work}/stream_checkpoint").run()
    streamProblems = problems
    streaming ++ Map(
      "pipeline.cached_bytes" -> Layers.median(cachedBytes.toSeq),
      "sink.rows_written" -> traced.map(_.rows).sum.toDouble /
        math.max(1, traced.map(_.pass).distinct.size))
  }

  override def close(): Unit = conn.close()
}
