package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.SparkSpec

/** [[CoreOps.scan]] memoizes a table's inferred schema while its listed
  * files and the schema-relevant confs are unchanged. These pin both
  * halves of that contract: an unchanged table is re-read without the
  * footer-reading Spark job, and every change that could alter inference
  * (new file, rewritten file, conf, deleted or emptied path) returns
  * exactly what a plain `spark.read.parquet` returns. A path whose files
  * changed is read plainly from then on, so a growing table lists twice
  * at most once. Each case writes its own table directory: the memo is
  * JVM-wide and suites run in parallel. */
class ScanSchemaMemoSpec extends SparkSpec with graft.IsolatedSession {
  import spark.implicits._

  private def table(dir: String) = s"$dir/t.parquet"

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** One parquet file written by Spark from `df`, copied to `dest`. */
  private def writeFile(df: DataFrame, dest: Path): Unit = {
    val stage = trackedTempDir("graft_memo_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.createDirectories(dest.getParent)
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("an unchanged table is re-scanned with no Spark job and reads as a plain read") {
    val dir = trackedTempDir("graft_memo_a")
    Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("id", "name", "score")
      .repartition(2).write.parquet(table(dir))
    val (_, first) = jobsStartedBy(CoreOps.scan(spark, dir, "t"))
    assert(first.size == 1, s"a first scan infers the schema with one job: $first")
    val (again, jobs) = jobsStartedBy(CoreOps.scan(spark, dir, "t"))
    assert(jobs.isEmpty, s"an unchanged table started jobs: $jobs")
    val plain = spark.read.parquet(table(dir))
    assert(again.schema == plain.schema)
    assert(sorted(again) == sorted(plain))
    assert(sorted(again).size == 3)
  }

  test("a replaced file with an extra column returns the new schema") {
    val dir = trackedTempDir("graft_memo_b")
    Seq((1L, "a")).toDF("id", "name").write.parquet(table(dir))
    assert(CoreOps.scan(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, "b", 7)).toDF("id", "name", "extra")
      .write.mode("overwrite").parquet(table(dir))
    val df = CoreOps.scan(spark, dir, "t")
    assert(df.schema == spark.read.parquet(table(dir)).schema)
    assert(df.columns.toSeq == Seq("id", "name", "extra"))
    assert(sorted(df) == Seq("[2,b,7]"))
  }

  test("a file overwritten in place with a different length re-infers") {
    val dir = trackedTempDir("graft_memo_c")
    val file = Paths.get(table(dir))
    writeFile(Seq((1L, "a")).toDF("id", "name"), file)
    val mtime = Files.getLastModifiedTime(file)
    assert(CoreOps.scan(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    writeFile(Seq((1L, "a", "wider")).toDF("id", "name", "note"), file)
    // same name, same mtime: only the length tells the two files apart
    Files.setLastModifiedTime(file, mtime)
    val (df, jobs) = jobsStartedBy(CoreOps.scan(spark, dir, "t"))
    assert(jobs.size == 1, s"a rewritten file must be re-inferred: $jobs")
    assert(df.columns.toSeq == Seq("id", "name", "note"))
    assert(sorted(df) == Seq("[1,a,wider]"))
  }

  test("a different binaryAsString conf re-infers a binary column's type") {
    // Spark stores its own schema in the footer and prefers it over the
    // parquet types, so the file is written with parquet's example writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val dir = trackedTempDir("graft_memo_d")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary payload; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(table(dir)))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", Binary.fromString("hi")))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    assert(CoreOps.scan(spark, dir, "t").schema("payload").dataType == BinaryType)
    spark.conf.set(key, "true")
    try {
      val asString = CoreOps.scan(spark, dir, "t")
      assert(asString.schema("payload").dataType == StringType)
      assert(asString.select("payload").as[String].collect().toSeq == Seq("hi"))
    } finally spark.conf.unset(key)
    assert(CoreOps.scan(spark, dir, "t").schema("payload").dataType == BinaryType)
  }

  test("a table whose files keep changing pays one extra listing, once") {
    val dir = trackedTempDir("graft_memo_f")
    def addFile(id: Long): Unit =
      Seq(id).toDF("id").write.mode("append").parquet(table(dir))
    def jobs(body: => DataFrame): Int = jobsStartedBy(body)._2.size
    // every listing becomes a Spark job, so job counts count listings
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "0")
    try {
      addFile(0)
      val plain = jobs(spark.read.parquet(table(dir)))
      assert(plain == 2, "a plain read is one listing job and one footer job")
      assert(jobs(CoreOps.scan(spark, dir, "t")) == plain)
      assert(jobs(CoreOps.scan(spark, dir, "t")) == 1, "a hit only lists")
      addFile(1)
      // the schema-given read's listing, then the plain read
      assert(jobs(CoreOps.scan(spark, dir, "t")) == plain + 1)
      for (id <- 2L to 3L) {
        addFile(id)
        assert(jobs(CoreOps.scan(spark, dir, "t")) == plain,
          "a path seen changing is read plainly, with no second listing")
      }
      assert(sorted(CoreOps.scan(spark, dir, "t")) == Seq("[0]", "[1]", "[2]", "[3]"))
    } finally spark.conf.unset(key)
  }

  test("a deleted path and an emptied directory fail like a plain read") {
    def sameFailure(dir: String): Unit = {
      val plain = intercept[Exception](spark.read.parquet(table(dir)))
      val viaScan = intercept[Exception](CoreOps.scan(spark, dir, "t"))
      assert(viaScan.getClass == plain.getClass)
      assert(viaScan.getMessage == plain.getMessage)
    }
    def listed(dir: String): Seq[Path] = {
      val s = Files.walk(Paths.get(table(dir)))
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      finally s.close()
    }

    val gone = trackedTempDir("graft_memo_e1")
    Seq(1L, 2L).toDF("id").write.parquet(table(gone))
    assert(CoreOps.scan(spark, gone, "t").count() == 2)
    listed(gone).foreach(Files.delete)
    sameFailure(gone)

    val emptied = trackedTempDir("graft_memo_e2")
    Seq(1L, 2L).toDF("id").write.parquet(table(emptied))
    assert(CoreOps.scan(spark, emptied, "t").count() == 2)
    listed(emptied).init.foreach(Files.delete) // keep the directory itself
    assert(Files.isDirectory(Paths.get(table(emptied))))
    sameFailure(emptied)
  }
}
