package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** [[EventQueries.replay]], the one harness ev10–ev13 and t41 run their
  * streams in: teardown when the body fails, and the result schema. */
class ReplayHarnessSpec extends SparkSpec {

  test("a body that throws after starting its stream: the exception " +
    "propagates; the query is stopped, the sink view dropped and every " +
    "scratch dir deleted, with extra cleanup run in between") {
    var run: EventQueries.Replay = null
    var atCleanup: Option[(Boolean, Boolean, Boolean)] = None
    val e = intercept[IllegalStateException] {
      EventQueries.replay(spark, "harness_spec") { r =>
        run = r
        import r.session.implicits._
        val mem = MemoryStream[Long](r.session)
        val q = r.startMemorySink(mem.toDF(), "append")
        r.scratchDir()
        r.onCleanup {
          atCleanup = Some((r.session.streams.active.isEmpty,
            r.session.catalog.tableExists(r.sinkName),
            r.scratchDirs.forall(Files.exists(_))))
        }
        mem.addData(1L, 2L)
        q.processAllAvailable()
        assert(r.session.streams.active.nonEmpty)
        assert(r.session.table(r.sinkName).count() == 2)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(run.session.streams.active.isEmpty, "query left running")
    assert(!run.session.catalog.tableExists(run.sinkName), "sink view left")
    assert(run.scratchDirs.size == 2)
    assert(run.scratchDirs.forall(Files.notExists(_)),
      s"scratch dirs left: ${run.scratchDirs.filter(Files.exists(_))}")
    // extra cleanup ran after the stop and the drop, before the scrub
    assert(atCleanup == Some((true, false, true)))
  }

  test("the result keeps the sink read's field names and types, every " +
    "field nullable, on the caller's session") {
    var readSchema: StructType = null
    val out = EventQueries.replay(spark, "harness_spec") { r =>
      import r.session.implicits._
      val mem = MemoryStream[(Long, String)](r.session)
      val q = r.startMemorySink(
        mem.toDF().toDF("k", "v").groupBy(col("v")).count(), "complete")
      mem.addData((1L, "a"), (2L, "a"), (3L, "b"))
      q.processAllAvailable()
      val read = r.session.table(r.sinkName)
        .select(col("v"), col("count"), lit(1).as("one"))
      readSchema = read.schema
      read
    }
    assert(readSchema.exists(!_.nullable),
      s"the read has no non-nullable field to relax: $readSchema")
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      readSchema.map(f => (f.name, f.dataType)))
    assert(out.schema.forall(_.nullable), out.schema)
    assert(out.sparkSession eq spark)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 1L)))
  }
}
