package graft.tools

/** Conf-registered listener (see [[ReplayProbe]]): the replay harnesses
  * run their streams on CHILD sessions (spark.newSession()), each with
  * its own StreamingQueryManager, so a listener added to the parent via
  * spark.streams never fires — the
  * spark.sql.streaming.streamingQueryListeners conf registers on every
  * session instead, collecting into a JVM-static buffer. */
final class ReplayProbeRecorder
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    ReplayProbe.record(e.progress)
}

/** Micro-batch cost breakdown for the streaming replay rows (r21
  * optimization instrumentation): run one replay query end-to-end under
  * the bench session conf while a conf-registered listener records every
  * micro-batch's engine-reported durations (triggerExecution and its
  * components: queryPlanning, getBatch, addBatch, walCommit,
  * commitOffsets), then print totals per component. Distinguishes "the
  * state store is slow" from "we re-plan too much" from "the harness
  * collect dominates" — the split the wall-clock medians cannot show.
  *
  *   sbt "runMain graft.tools.ReplayProbe ev12_stream_dedup_replay"
  */
object ReplayProbe {
  private val batches =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private[tools] def record(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    batches.add(p): Unit

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ev10_stream_hourly_replay")
    val sf = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.GraftSession.getOrCreate(extra = Map(
      "spark.sql.streaming.streamingQueryListeners" ->
        classOf[ReplayProbeRecorder].getName))

    val t0 = System.nanoTime()
    graft.queries.Registry.queries(name)(spark, sf)
      .write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    val ps = batches.asScala.toSeq
    val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
      "latestOffset", "addBatch", "walCommit", "commitOffsets")
    println(f"[replay-probe] $name wall ${wall}%.2f s, " +
      s"micro-batches ${ps.size} " +
      s"(data batches ${ps.count(_.numInputRows > 0)})")
    keys.foreach { k =>
      val v = ps.map(p =>
        Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum
      println(f"[replay-probe]   $k%-18s ${v / 1000.0}%8.2f s")
    }
    spark.stop()
  }
}
