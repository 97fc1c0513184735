package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec

/** Stage-B output shape (FIXTURES A.3 / HiveToMysql.java:338-377) and the
  * escaping property the reference's safeWrap bug breaks. */
class SqlGenSinkSpec extends SparkSpec {
  import SqlGenSink._

  test("insert header matches the reference shape") {
    assert(insertHeader("db.tbl", Seq("a", "b")) ==
      "insert into db.tbl (a,b) values")
  }

  test("values quote strings, emit unquoted NULL for nulls") {
    assert(sqlLiteral("x") == "'x'")
    assert(sqlLiteral(null) == "NULL")
    assert(sqlLiteral("o'neil") == "'o\\'neil'")
    assert(sqlLiteral("a\\b") == "'a\\\\b'")
  }

  test("property: any string (incl BOTH quote kinds) round-trips via MySQL escape rules") {
    // the reference's safeWrap discards the replaceAll result when a value
    // contains both ' and " (HiveToMysql.java:487-488) → malformed SQL.
    // Our escape must keep every char recoverable by reversing the escape.
    val rnd = new scala.util.Random(42)
    val alphabet = "a'\"\\ \u4e2d"
    val tricky = Seq(
      "has 'single' and \"double\" quotes",
      "back\\slash and 'mix\"ed'",
      "", "plain") ++
      (1 to 500).map(_ => (0 to rnd.nextInt(20))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    def unescape(body: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < body.length) {
        if (body(i) == '\\' && i + 1 < body.length) { sb += body(i + 1); i += 2 }
        else { sb += body(i); i += 1 }
      }
      sb.toString
    }
    tricky.foreach { s =>
      val lit = sqlLiteral(s)
      assert(lit.head == '\'' && lit.last == '\'')
      assert(unescape(lit.substring(1, lit.length - 1)) == s, s"for input $s")
    }
  }

  test("batched statements: 100 rows per INSERT, remainder in last") {
    import spark.implicits._
    val df = (1 to 250).map(i => (i, s"v$i")).toDF("id", "v")
    val stmts = insertStatements(df.coalesce(1), "db.t", 100).collect()
    assert(stmts.length == 3)
    assert(stmts.forall(_.startsWith("insert into db.t (id,v) values ")))
    assert(stmts.forall(_.endsWith(";")))
    val counts = stmts.map(_.count(_ == '(') - 1) // minus the column list
    assert(counts.toSeq == Seq(100, 100, 50))
  }

  test("script carries the #data timestamp banner") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, null)).toDF("id", "v")
    val path = Paths.get(trackedTempDir("sqlgen_banner_"), "dump.sql")
    writeScript(df, "db.t", 100, path)
    val s = Files.readString(path)
    assert(s.matches("(?s)#data timestamp: \\d+\n\ninsert into db\\.t .*"), s)
    assert(s.contains("(1,'a')") || s.contains("('1','a')"))
    assert(s.contains("NULL"))
  }

  test("a job that fails mid-write leaves the previous dump byte-identical " +
    "and no .tmp file") {
    val dir = Paths.get(trackedTempDir("sqlgen_atomic_"))
    val path = dir.resolve("dump.sql")
    val previous = "#data timestamp: 1\n\ninsert into db.t (id) values ('7');"
      .getBytes("UTF-8")
    Files.write(path, previous)
    // the throwing row sits in the last of 4 partitions, so earlier
    // partitions' statements are already written when the job fails
    val boom = udf { (id: Long) =>
      if (id == 900) throw new IllegalStateException("boom") else id
    }
    val df = spark.range(0, 1000, 1, 4).select(boom(col("id")).as("id"))
    val e = intercept[Exception](writeScript(df, "db.t", 100, path))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    assert(java.util.Arrays.equals(Files.readAllBytes(path), previous))
    val left = Files.list(dir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("dump.sql"))
    finally left.close()
  }
}
