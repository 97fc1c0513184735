package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark process, from the command line. */
final case class Settings(workload: String, seed: Long, seconds: Int,
                          trace: Boolean, cores: Int, work: String,
                          data: String, out: String, kernelData: String = "") {
  def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One op of a workload. `run` is the timed call into the product;
  * `check` inspects its result afterwards, outside the timed interval,
  * and returns an error message when the output is wrong. */
abstract class Op(val label: String) {
  /** Untimed preparation just before `run`. */
  def before(): Unit = ()
  def run(): Any
  def check(result: Any): Option[String] = None
  /** Rows the op moved, for rows_per_s and scan selectivity. */
  def rows(result: Any): Long = 0L
}

trait Workload {
  /** Nominal length of one pass; a run times ceil(seconds / passSeconds)
    * passes, so the op set is fixed for a given --seconds. */
  def passSeconds: Double
  /** Untimed input preparation (sinks, conf files, stream inputs). */
  def prepare(): Unit
  /** Untimed warm-up ops; the first one is the process's first op. */
  def warmup(): Seq[Op]
  /** The fixed op set of timed pass `pass` (1-based). */
  def pass(pass: Int): Seq[Op]
  /** End-of-run output checks; one message per mismatch. */
  def finalCheck(): Seq[String]
  /** Runs, untimed, the queries pinned to an oracle result the product is
    * known not to give yet; one message per query, reported with the
    * settings rather than as a failed op. */
  def knownMismatches(): Seq[String] = Nil
  /** Per-layer numbers only this workload knows, from its traced ops. */
  def layers(traced: Seq[OpRecord], listeners: Listeners): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

final case class OpRecord(id: Int, pass: Int, label: String, startNs: Long,
                          endNs: Long, ok: Boolean, rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class PassRecord(pass: Int, wallS: Double)

/** Runs one workload in this JVM and writes its raw measurements as JSON.
  *
  *   perfbench.Main gen <dir> <sf>
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <cores>
  *                      <work dir> <data dir> <kernel tier data dir> <out.json>
  *   perfbench.Main pin <cores> <work dir> <data dir> <out dir>
  *   perfbench.Main oracle-fingerprints <cores> <work dir> <out dir> <name>...
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: sf :: Nil =>
      val spark = SparkSession.builder().master("local[2]").appName("perfbench-gen")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      Data.generate(spark, dir, sf.toDouble)
      spark.stop()
    case "run" :: w :: seed :: secs :: trace :: cores :: work :: data :: kdata :: out :: Nil =>
      val s = Settings(w, seed.toLong, secs.toInt, trace == "1", cores.toInt,
        work, data, out, kdata)
      val code = new Runner(s).run()
      sys.exit(code)
    case "pin" :: cores :: work :: data :: out :: Nil =>
      Pin.run(Settings("pin", 0L, 0, trace = false, cores.toInt, work, data, ""), out)
    case "oracle-fingerprints" :: cores :: work :: out :: names =>
      Pin.oracles(Settings("pin", 0L, 0, trace = false, cores.toInt, work, "", ""), out, names)
    case _ =>
      System.err.println("usage: perfbench.Main gen|run|pin|oracle-fingerprints ...")
      sys.exit(2)
  }
}

final class Runner(s: Settings) {
  private val ops = ArrayBuffer.empty[OpRecord]
  private val passes = ArrayBuffer.empty[PassRecord]
  private val failures = ArrayBuffer.empty[String]
  private var nextId = 0
  private var listeners: Option[Listeners] = None
  private var checkNs = 0L

  private def exec(op: Op, pass: Int): OpRecord = {
    nextId += 1
    val id = nextId
    Trace.beginOp(id)
    op.before()
    listeners.foreach(_.opStart(id))
    val t0 = System.nanoTime()
    val result = try Right(Trace.span("op")(op.run()))
                 catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    listeners.foreach(_.opEnd())
    val problem = result match {
      case Left(e) => Some(s"${op.label} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(r) =>
        try op.check(r)
        catch { case e: Throwable => Some(s"${op.label} check threw $e") }
    }
    problem.foreach { p => failures += s"pass $pass: $p"; System.err.println(s"[perfbench] FAIL $p") }
    Heap.sample()
    checkNs += System.nanoTime() - t1
    val rec = OpRecord(id, pass, op.label, t0, t1, problem.isEmpty,
      result.map(op.rows).getOrElse(0L))
    ops += rec
    rec
  }

  def run(): Int = {
    val workload: Workload = s.workload match {
      case "etl_daily"     => new Etl(s)
      case "llm_kernels"   => new Queries(s, Queries.of(s.workload), Queries.of("warmup"),
        Queries.of("known_mismatch"))
      case other =>
        System.err.println(s"unknown workload $other"); return 2
    }
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - startMs) / 1000.0}%.1f s")
    workload.prepare()
    log("inputs prepared")
    val warmRecs = workload.warmup().map(op => exec(op, 0))
    log("warm-up done")
    val spark = SparkSession.active
    val compiles = Codegen.compiles
    val compileS = Codegen.compileSeconds
    val l = new Listeners(spark)

    val setupS = (System.currentTimeMillis() - startMs) / 1000.0
    // Untraced: the timed passes. Traced: pass 1 traced (the per-layer
    // numbers), then untraced, traced, untraced: pass 3 minus the mean of
    // passes 2 and 4 is the tracing overhead, net of any warming trend.
    val traceOn =
      if (s.trace) Seq(true, false, true, false)
      else Seq.fill(math.max(1, math.ceil(s.seconds / workload.passSeconds).toInt))(false)
    for ((traced, i) <- traceOn.zipWithIndex) {
      val pass = i + 1
      if (traced) { l.attach(); listeners = Some(l); Trace.on = true }
      checkNs = 0L
      val p0 = System.nanoTime()
      workload.pass(pass).foreach(op => exec(op, pass))
      val wall = (System.nanoTime() - p0 - checkNs) / 1e9
      if (traced) { Trace.on = false; listeners = None; l.detach() }
      passes += PassRecord(pass, wall)
      log(s"pass $pass done")
    }
    val timed = ops.filter(_.pass > 0).toSeq
    val layer = if (!s.trace) Map.empty[String, Double]
      else {
        val tracedOps = timed.filter(_.pass == 1)
        val tracedPasses = passes.filter(_.pass == 1).toSeq
        Layers.spark(l, tracedOps, tracedPasses, s.cores) ++
          Map("codegen.compiles" -> compiles.toDouble,
            "codegen.compile_s" -> compileS) ++
          workload.layers(tracedOps, l)
      }
    failures ++= workload.finalCheck()
    val known = workload.knownMismatches()
    workload.close()
    val warmFailed = warmRecs.count(!_.ok)

    val json = Json.obj(
      "workload" -> s.workload, "seed" -> s.seed, "trace" -> s.trace,
      "cores" -> s.cores, "seconds" -> s.seconds,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_s" -> setupS, "first_op_s" -> warmRecs.head.seconds,
      "warmup_ops" -> warmRecs.size, "warmup_failed" -> warmFailed,
      "heap_live_peak_mb" -> Heap.peakMb,
      "ops" -> timed.map(o => Json.obj("id" -> o.id, "pass" -> o.pass,
        "label" -> o.label, "lat_s" -> o.seconds, "ok" -> o.ok,
        "rows" -> o.rows)),
      "passes" -> passes.toSeq.map(p => Json.obj("pass" -> p.pass,
        "wall_s" -> p.wallS)),
      "failures" -> failures.toSeq,
      "known_mismatches" -> known,
      "layers" -> layer,
      "spans" -> Trace.spans.toSeq.map(sp => Json.obj("name" -> sp.name,
        "op" -> sp.op, "parent" -> sp.parent, "start_ns" -> sp.startNs,
        "end_ns" -> sp.endNs)))
    Files.writeString(Paths.get(s.out), json.text)
    spark.stop()
    0
  }
}

/** Listener-derived per-layer numbers over the traced ops and passes. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val v = xs.sorted; v(v.size / 2) }

  def spark(l: Listeners, ops: Seq[OpRecord], passes: Seq[PassRecord],
            cores: Int): Map[String, Double] = {
    val stats = ops.map(o => l.stats.get(o.id)).filter(_ != null)
    val n = math.max(1, ops.size).toDouble
    val np = math.max(1, passes.size).toDouble
    val wall = passes.map(_.wallS).sum
    def total(f: l.OpStats => Long): Double = stats.map(f).sum.toDouble
    val rowsOut = ops.map(_.rows).sum.toDouble
    Map(
      "spark.plan_s" -> total(_.planMs) / 1000.0 / n,
      "spark.jobs_per_op" -> total(_.jobs) / n,
      "spark.tasks_per_op" -> total(_.tasks) / n,
      "spark.exchanges" -> total(_.exchanges) / n,
      "spark.shuffle_write_bytes" -> total(_.shuffleWrite) / np,
      "spark.spill_bytes" -> total(_.spill) / np,
      "spark.gc_s" -> total(_.gcMs) / 1000.0 / np,
      "spark.task_cpu_s" -> total(_.cpuNs) / 1e9 / np,
      "spark.cpu_util" -> (if (wall > 0) total(_.cpuNs) / 1e9 / (wall * cores) else 0.0),
      "spark.stage_skew" -> median(ops.map(o => l.skew(o.id))),
      "ops.scan_rows" -> total(_.inputRows) / n,
      "ops.scan_bytes" -> total(_.inputBytes) / n,
      "ops.scan_selectivity" ->
        (if (total(_.inputRows) > 0) rowsOut / total(_.inputRows) else 0.0))
  }
}

/** Minimal JSON writer for the raw measurement file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(text) => text
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
