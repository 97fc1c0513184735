package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs.
  *
  * Suites that MUTATE session confs (parity suites toggling codegen/
  * AQE/spill knobs, plan suites toggling join thresholds) must mix in
  * [[IsolatedSession]]: sbt runs suites in parallel, and a conf toggle
  * on the shared session would race every concurrently-running suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Root of the driver-generated parquet worlds — the one place the
    * testdata location is spelled; suites derive every sf dir from it. */
  def testdataRoot: String = "/root/testdata"
  def sf: String = s"$testdataRoot/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A temp dir that is deleted (recursively) in afterAll — suites that
    * plant drifted/legacy table layouts must not leak them across runs. */
  def trackedTempDir(prefix: String): String = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += p
    p.toString
  }

  /** `body`'s result and the names of the first stage of each Spark job it
    * starts in this thread, in job order. */
  def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val (out, work) = sparkWorkOf(body)
    (out, work.jobs)
  }

  /** `body`'s result and the Spark work it runs in this thread: the name of
    * the first stage of each job it starts, in job order, and the end event
    * of each task of those jobs. A listener keeps the events of the job
    * group `body` runs in. Events reach it asynchronously, so a sentinel
    * job runs afterwards in its own group and is awaited: events are
    * delivered in order, so once the sentinel's end is seen, every job and
    * task of `body` is too. */
  def sparkWorkOf[T](body: => T): (T, SparkSpec.Work) = {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
      CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobs-${getClass.getSimpleName}-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new ConcurrentHashMap[Int, String]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val sentinelEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.put(e.jobId, e.stageInfos.minBy(_.stageId).name)
            e.stageIds.foreach(stages.add)
          case Some(`sentinel`) => sentinelJob.set(e.jobId)
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) sentinelEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelEnded.await(30, TimeUnit.SECONDS),
        "sentinel job never reached the listener")
      (out, SparkSpec.Work(jobs.asScala.toSeq.sortBy(_._1).map(_._2),
        tasks.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Registers graft's SQL surface ([[graft.functions.GraftExtensions]])
    * on `s`, so a spec's SQL strings (`expr("float_cosine(a, b)")`)
    * resolve there. The library itself never needs the names. */
  def registerSqlFunctions(s: SparkSession = spark): Unit =
    graft.functions.GraftExtensions.functions.foreach {
      case (name, clazz, builder) =>
        s.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(clazz.getName, name), builder)
    }

  override def afterAll(): Unit = {
    synchronized {
      tempDirs.foreach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }
      }
      tempDirs.clear()
    }
    super.afterAll()
  }
}

/** A private SQLConf over the shared SparkContext: `newSession()` shares
  * the context, catalog, and cached data but isolates runtime conf and
  * temp views — conf churn here cannot leak into parallel suites. */
trait IsolatedSession extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.session.newSession()
}

object SparkSpec {
  /** What [[SparkSpec.sparkWorkOf]] saw: the first stage name of each job,
    * in job order, and the end event of each of their tasks. */
  final case class Work(jobs: Seq[String],
                        tasks: Seq[org.apache.spark.scheduler.SparkListenerTaskEnd])

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
