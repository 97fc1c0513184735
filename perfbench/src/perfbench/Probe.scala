package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's client thread. `parent` is the
  * index of the enclosing span (-1 for an op's root span). */
final case class Span(name: String, op: Int, parent: Int, startNs: Long,
                      endNs: Long)

/** In-memory span recorder. Spans are only kept while `on`; with tracing
  * off `span` is a plain call. The client is one thread, so the open-span
  * stack needs no locking. */
object Trace {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack = Nil }
  def currentOp: Int = op

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), -1L)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** A span whose bounds were measured elsewhere. */
  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Unit =
    if (on) spans += Span(name, op, parent, startNs, endNs)
}

/** Live heap, sampled after every op (outside its timed interval): one
  * forced full collection, then the heap pools' collection usage, which
  * a full collection updates for every pool. Without the forced
  * collection, G1 updates the old generation's collection usage only on
  * old collections, which these runs never reach, so the pools would
  * report the survivor space alone; and the occupancy after a young
  * collection counts the old generation's garbage, which depends on when
  * the collections happened to run. */
object Heap {
  var peakMb = 0.0

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def sample(): Unit = {
    System.gc()
    val used = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakMb = math.max(peakMb, used / 1048576.0)
  }
}

/** Whole-stage codegen compilations so far (process-wide). */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileSeconds: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount / 1000.0
  }
}

/** Per-op counters from Spark's public listener APIs. Jobs are attributed
  * to the op whose wall-clock window contains the job's submission time;
  * stages and tasks follow their job. */
final class Listeners(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final class OpStats {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var spill = 0L; var shuffleWrite = 0L; var inputBytes = 0L; var inputRows = 0L
    var planMs = 0L; var exchanges = 0L
    val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  }

  private case class Window(op: Int, startMs: Long, var endMs: Long)
  private val windows = ArrayBuffer.empty[Window]
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  val stats = new ConcurrentHashMap[Int, OpStats]()
  /** (funcName, durationNs) of each finished SQL action, in order. */
  val actions = new java.util.concurrent.LinkedBlockingQueue[(String, Long)]()
  @volatile private var events = 0L

  def opStart(op: Int): Unit = windows.synchronized {
    windows += Window(op, System.currentTimeMillis(), Long.MaxValue)
  }
  def opEnd(): Unit = windows.synchronized {
    windows.last.endMs = System.currentTimeMillis()
  }
  private def opAt(ms: Long): Option[Int] = windows.synchronized {
    windows.reverseIterator.find(w => w.startMs <= ms && ms <= w.endMs).map(_.op)
  }
  private def of(op: Int) = stats.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    opAt(e.time).foreach { op =>
      of(op).synchronized { of(op).jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    Option(stageOp.get(e.stageId)).foreach { op =>
      val s = of(op)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
      s.stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
        .synchronized { s.stageTaskMs.get(e.stageId) += e.taskInfo.duration }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    events += 1
    actions.put(funcName -> durationNs)
    opAt(System.currentTimeMillis() - durationNs / 1000000L).foreach { op =>
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val ex = exchanges(qe.executedPlan)
      val s = of(op)
      s.synchronized { s.planMs += planMs; s.exchanges += ex }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = events += 1

  /** Shuffle exchanges in the final (post-AQE) plan, cached plans and
    * subqueries included. */
  private def exchanges(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: ShuffleExchangeLike => 1L
      case m: InMemoryTableScanExec => exchanges(m.relation.cachedPlan)
    }.sum

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    Listeners.current = Some(this)
  }

  /** Detach once the listener bus has delivered everything queued. */
  def detach(): Unit = {
    drain()
    Listeners.current = None
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Duration of the next `count` action reported after this call's
    * predecessors; 0 when none arrives within five seconds. */
  def awaitCount(): Long = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline) {
      val next = actions.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (next != null && next._1 == "count") return next._2
    }
    0L
  }

  def drain(): Unit = {
    var last = -1L
    val deadline = System.currentTimeMillis() + 3000
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(100)
    }
  }

  /** Worst stage's slowest-over-median task time in `op`, stages with at
    * least two tasks; 1.0 when no stage has two. */
  def skew(op: Int): Double = {
    val s = of(op)
    val ratios = s.stageTaskMs.values.asScala.toSeq.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object Listeners {
  @volatile var current: Option[Listeners] = None
}

/** Bytes held by persisted RDDs right now (memory plus disk). */
object Cached {
  def bytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
