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
    * starts in this thread, in job order. Job-start events reach the status
    * tracker asynchronously, so a sentinel job runs afterwards in its own
    * group and is awaited: events are delivered in order, so once the
    * sentinel is visible every job `body` started is too. */
  def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${getClass.getSimpleName}-${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-sentinel", "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (tracker.getJobIdsForGroup(s"$group-sentinel").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(tracker.getJobIdsForGroup(s"$group-sentinel").nonEmpty,
      "sentinel job never reached the status tracker")
    val stages = tracker.getJobIdsForGroup(group).sorted.toSeq.map { id =>
      tracker.getJobInfo(id).flatMap(_.stageIds.minOption)
        .flatMap(tracker.getStageInfo).fold("?")(_.name)
    }
    (out, stages)
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
