package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf._
import graft.ops.{CoreOps, TsvSource}

/** Reference-parity queries: one per SURVEY.md §2 operator (or operator
  * cluster). Every query has a DuckDB oracle; the non-SQL-expressible
  * behaviors (exit codes, dry-run, JDBC sink) are covered by ScalaTest
  * specs instead (see src/test/scala/graft/).
  *
  * A fixed partition value `19960102` is used where a ds filter is needed —
  * it exists at every harness scale factor (1 row at sf0.001, 31 at sf0.01,
  * 256 at sf0.1).
  */
object ParityQueries {
  private val DS = "19960102"

  /** §2 rows 1-3, 6-7, 9 + row 11's projection half — the reference's whole
    * happy path as ONE lazy plan: scan → derive ds → partition filter →
    * mapping (rename + $conf + #literal constants) → varchar degrade →
    * NULL normalize. The ds equality filter compiles to a pushed date-range
    * on l_shipdate; only mapped columns are read (ColumnPruning). */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = DumpConf(Map("ds" -> DS, "ds_formater" -> "yyyyMMdd"))
    val mapping = FieldMapping.parseString(
      """id=l_orderkey
        |line_no=l_linenumber
        |flag=l_returnflag
        |ds=$ds
        |version=#2.0""".stripMargin)
    val li = CoreOps.scan(spark, sfDir, "lineitem")
    // range form of the ds= filter: pushes to the scan as raw date
    // comparisons -> parquet row-group / partition pruning at scale
    val filtered = CoreOps.pushablePartitionFilter(
      li, col("l_shipdate"), conf.ds(), conf.dsFormat)
    val projected = CoreOps.project(filtered, mapping, conf.raw)
    CoreOps.normalizeNulls(CoreOps.allVarchar(projected))
  }

  private val flagshipOracle =
    s"""SELECT CAST(l_orderkey AS VARCHAR) AS id,
       |       CAST(l_linenumber AS VARCHAR) AS line_no,
       |       l_returnflag AS flag,
       |       '$DS' AS ds, '2.0' AS version
       |FROM lineitem WHERE strftime(l_shipdate, '%Y%m%d') = '$DS'""".stripMargin

  /** §2 row 3 standalone — ds_formater semantics: the same date column
    * rendered under two patterns (the reference's configurable
    * SimpleDateFormat, HiveToMysql.java:110-115). */
  def defaultDs(spark: SparkSession, sfDir: String): DataFrame =
    CoreOps.scan(spark, sfDir, "orders")
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("ds_compact"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds_dashed"))

  private val defaultDsOracle =
    """SELECT o_orderkey,
      |       strftime(o_orderdate, '%Y%m%d') AS ds_compact,
      |       strftime(o_orderdate, '%Y-%m-%d') AS ds_dashed
      |FROM orders""".stripMargin

  /** §2 rows 4, 5, 9, 10 — the TSV transport round-trip: write a
    * reference-style TSV (header `lineitem.field` prefixes, literal NULL
    * text) with an injected mid-stream header echo, read it back with
    * TsvSource (prefix strip + echo filter + width validation), then
    * NULL-normalize. The oracle is the pre-TSV relation — proving the
    * transport is lossless. */
  def tsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CoreOps.scan(spark, sfDir, "lineitem")
      .where(date_format(col("l_shipdate"), "yyyyMMdd") === DS)
      .select(
        col("l_orderkey").cast("string").as("id"),
        col("l_quantity").cast("decimal(12,2)").cast("string").as("qty"),
        when(col("l_returnflag") === "N", lit("NULL"))
          .otherwise(col("l_returnflag")).as("flag"))
    // a row whose every cell equals the (prefixed) header name = the echo
    // the hive CLI can re-emit mid-stream (HiveToMysql.java:397-405)
    val echo = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row("lineitem.id", "lineitem.qty", "lineitem.flag")),
      base.schema)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tsv_" +
      Integer.toHexString(sfDir.hashCode)
    TsvSource.write(base.unionAll(echo), dir, "lineitem")
    val back = TsvSource.read(spark, dir)
    TsvSource.requireFullWidth(back, Seq("id", "qty", "flag"))
    CoreOps.normalizeNulls(back)
  }

  private val tsvRoundtripOracle =
    s"""SELECT CAST(l_orderkey AS VARCHAR) AS id,
       |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS qty,
       |       CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS flag
       |FROM lineitem WHERE strftime(l_shipdate, '%Y%m%d') = '$DS'""".stripMargin

  /** §2 row 8 — missing-source-column policy, DropWarn flavor: the mapped
    * source field `ghost_col` doesn't exist, so its target is dropped and
    * the rest of the mapping proceeds (HiveToMysql.java:309-332 warn path;
    * the Fail/9997 path is spec-tested). */
  def missingColumnDrop(spark: SparkSession, sfDir: String): DataFrame = {
    val mapping = FieldMapping.parseString(
      """id=c_custkey
        |ghost=ghost_col
        |seg=c_mktsegment""".stripMargin)
    CoreOps.project(CoreOps.scan(spark, sfDir, "customer"), mapping,
      Map.empty, MissingFieldPolicy.DropWarn)
  }

  private val missingColumnDropOracle =
    "SELECT c_custkey AS id, c_mktsegment AS seg FROM customer"

  /** §2 row 7 — both constant flavors: `$var` resolved from conf, `#lit`
    * immediate (initMap, HiveToMysql.java:157-165). */
  def constants(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = DumpConf(Map("ds" -> "20240101", "env" -> "prod"))
    val mapping = FieldMapping.parseString(
      """name=r_name
        |ds=$ds
        |env=$env
        |version=#9.9""".stripMargin)
    CoreOps.project(CoreOps.scan(spark, sfDir, "region"), mapping, conf.raw)
  }

  private val constantsOracle =
    """SELECT r_name AS name, '20240101' AS ds, 'prod' AS env, '9.9' AS version
      |FROM region""".stripMargin

  /** §2 row 9 standalone — the NULL sentinel on a column that actually
    * contains it (synthesized from o_orderstatus: 'P' → literal text
    * "NULL" → real null after normalization). */
  def nullNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val df = CoreOps.scan(spark, sfDir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "P", lit("NULL"))
          .otherwise(col("o_orderstatus")).as("status"))
    CoreOps.normalizeNulls(df)
  }

  private val nullNormalizeOracle =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status
      |FROM orders""".stripMargin

  /** §2 row 15 — empty-result with EmptyDataPolicy.Ok: a ds that matches
    * nothing yields an empty (not failed) result. The Fail/9998 path is
    * spec-tested. */
  def emptyOk(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = DumpConf(Map("ds" -> "19000101", "error_if_none_data" -> "false"))
    val li = CoreOps.scan(spark, sfDir, "lineitem")
      .withColumn("ds", CoreOps.withDs(col("l_shipdate"), conf.dsFormat))
    CoreOps.partitionFilter(li, col("ds"), conf.ds())
      .select(col("l_orderkey").as("id"))
  }

  private val emptyOkOracle =
    "SELECT l_orderkey AS id FROM lineitem WHERE 1 = 0"

  /** §2 row 11 — the 100-rows-per-INSERT batch math, verified relationally:
    * rows in deterministic order get statement ids `floor(rn/100)`; the
    * result is each statement's row count (100s + one remainder). The
    * actual SQL text shape is asserted by SqlGenSinkSpec.
    *
    * Scale note: the global row_number (single-partition window) is
    * DELIBERATE here — it reproduces the reference's sequential statement
    * numbering over one partition's rows for oracle comparison. The
    * production sink (SqlGenSink.insertStatements) numbers batches
    * per-partition via mapPartitions and never globally orders. */
  def sqlgenBatches(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = CoreOps.scan(spark, sfDir, "lineitem")
      .where(date_format(col("l_shipdate"), "yyyyMM") === "199601")
      .select(col("l_orderkey"), col("l_linenumber"))
    val w = Window.orderBy(col("l_orderkey"), col("l_linenumber"))
    rows.withColumn("stmt_id",
        floor((row_number().over(w) - 1) / 100))
      .groupBy(col("stmt_id"))
      .agg(count(lit(1)).as("n_rows"))
  }

  private val sqlgenBatchesOracle =
    """SELECT CAST(FLOOR((rn - 1) / 100) AS BIGINT) AS stmt_id,
      |       count(*) AS n_rows
      |FROM (
      |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
      |  FROM lineitem WHERE strftime(l_shipdate, '%Y%m') = '199601'
      |)
      |GROUP BY 1""".stripMargin

  /** ORC transport round-trip: the nation table written as ORC (Spark's
    * second first-class columnar format — the natural interchange when the
    * upstream warehouse is Hive/ORC, as the reference's would be), read
    * back, joined and aggregated. Values must be identical to reading the
    * parquet original, which is exactly what the oracle checks. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // fixed, overwritten path: a fresh createTempDirectory per invocation
    // would leak one orphaned dir per bench/verify/plan-dump run
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip"
    CoreOps.scan(spark, sfDir, "nation").write.mode("overwrite").orc(dir)
    val nation = spark.read.orc(dir)
    CoreOps.scan(spark, sfDir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_bal"))
  }

  private val orcRoundtripOracle =
    """SELECT n_name, count(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  /** JSON transport: events' props column is JSON text already; this query
    * round-trips whole ROWS through JSON (to_json → spark.read.json
    * schema-inferred) and re-aggregates — the "logs arrive as JSON lines"
    * ingest path. */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_json_roundtrip"
    CoreOps.scan(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
      .toJSON.write.mode("overwrite").text(dir)
    spark.read.json(dir)
      .select(col("r_regionkey").cast("int").as("r_regionkey"),
        col("r_name"))
  }

  private val jsonRoundtripOracle =
    """SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name
      |FROM region""".stripMargin

  /** CSV transport: header + quoted fields. The synthesized note column
    * embeds a comma, so the writer must quote and the reader must unquote
    * — the note_chars sum catches any quoting loss. Read back schema-less
    * (all strings, the reference's TSV worldview) and cast at the edge.
    * TPC-H acctbal carries exactly 2 decimals, so the
    * double→text→decimal path is exact on both engines (the note builds
    * from INT columns only — double→string formatting is not
    * engine-portable). */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip"
    CoreOps.scan(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"),
        concat(col("s_name"), lit(", nation "),
          col("s_nationkey").cast("string")).as("s_note"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.read.option("header", "true").csv(dir)
      .groupBy(col("s_nationkey").cast("int").as("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_bal"),
        sum(length(col("s_note"))).as("note_chars"))
  }

  private val csvRoundtripOracle =
    """SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
      |       count(*) AS n_supp,
      |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
      |       CAST(SUM(length(s_name || ', nation ' ||
      |                       CAST(s_nationkey AS VARCHAR))) AS BIGINT)
      |         AS note_chars
      |FROM supplier GROUP BY 1""".stripMargin

  /** Compressed TSV transport: the reference's stage-A dump, gzipped —
    * how a 100 TB export actually lands. The gzip codec resolves from the
    * file extension on read (same TsvSource path as p03: header strip,
    * echo filter, width check all still apply); gzip is NOT splittable,
    * so parallelism comes from many files, which is what the partitioned
    * write produces. */
  def gzipRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_gzip_roundtrip"
    CoreOps.scan(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .withColumnRenamed("n_nationkey", "hdr.n_nationkey")
      .withColumnRenamed("n_name", "hdr.n_name")
      .withColumnRenamed("n_regionkey", "hdr.n_regionkey")
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .option("compression", "gzip").csv(dir)
    TsvSource.read(spark, dir)
      .groupBy(col("n_regionkey").cast("int").as("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        sum(length(col("n_name"))).as("name_chars"))
  }

  private val gzipRoundtripOracle =
    """SELECT CAST(n_regionkey AS INTEGER) AS n_regionkey,
      |       count(*) AS n_nations,
      |       CAST(SUM(length(n_name)) AS BIGINT) AS name_chars
      |FROM nation GROUP BY 1""".stripMargin

  /** XML transport (Spark 4's built-in xml source): the one loss mode no
    * other roundtrip exercises is ENTITY ESCAPING — a value containing
    * `< & " '` must be escaped by the writer and unescaped by the reader,
    * or the payload silently corrupts. The note column plants exactly
    * those bytes; its round-tripped length is content-dependent, so any
    * escaping loss (or surrounding-whitespace trim) hash-mismatches
    * against the oracle computing the same length from the raw table. */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // pid suffix: deterministic within a run, but two JVMs running the
    // suite concurrently (bench + verify) no longer overwrite each
    // other's staging dir between the write and the read-back. The read
    // is LAZY (bench/verify act on the returned frame much later), so
    // the dir can't be deleted here — a shutdown hook reclaims it when
    // this JVM exits, otherwise repeated runs accumulate supplier copies
    // on the scratch-limited disk.
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_xml_roundtrip_" +
      ProcessHandle.current().pid()
    registerStagingCleanup(dir)
    CoreOps.scan(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"),
        concat(col("s_name"), lit(""" <&"'> """), col("s_suppkey")).as("note"))
      .write.mode("overwrite").option("rowTag", "row").xml(dir)
    spark.read.option("rowTag", "row").xml(dir)
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        length(col("note")).cast("int").as("note_chars"))
  }

  /** One shutdown hook per JVM deleting this JVM's own pid-keyed staging
    * dir (children first). Hook registration, not eager delete: the xml
    * read-back is lazy, so the files must outlive every action on the
    * returned frame — JVM exit is the first point that's guaranteed. */
  private val xmlCleanupRegistered =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def registerStagingCleanup(dir: String): Unit =
    if (xmlCleanupRegistered.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(dir))
      }))
    }

  private val xmlRoundtripOracle =
    """SELECT s_suppkey, s_name,
      |       CAST(length(s_name || ' <&"''> ' || s_suppkey) AS INTEGER)
      |         AS note_chars
      |FROM supplier""".stripMargin

  /** §2 rows 1-2 through the SESSION CATALOG — the reference's actual
    * table addressing (`select * from hive_db.hive_table where ds=...`,
    * HiveToMysql.java:227): a ds-PARTITIONED table registered in the
    * metastore via saveAsTable, read back with `spark.read.table`
    * (CoreOps.scanSource's hive_db path), and filtered on the partition
    * column. Because ds is a real partition column of a catalog table,
    * the `ds =` predicate is resolved against the partition METADATA at
    * planning time (PruneFileSourcePartitions → PrunedInMemoryFileIndex)
    * — at 100 TB the scan plans exactly one partition's files and never
    * lists the rest. CatalogScanSpec pins that plan shape; the path-based
    * twin is PartitionedWriteSpec.
    *
    * The staged table is one month of lineitem (31 ds partitions,
    * bounded at every SF) — staging the full 7-year corpus day-grained
    * would produce the ~2500-small-directory layout that is itself an
    * anti-pattern at this row count. */
  def catalogScan(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = stageCatalogTable(spark, sfDir)
    val scanned = CoreOps.scanSource(spark, sfDir, tbl, Some("graft_wh"))
    CoreOps.partitionFilter(scanned, col("ds"), DS)
      .select(col("l_orderkey").as("id"), col("l_linenumber").as("line_no"),
        col("l_returnflag").as("flag"), col("ds"))
  }

  /** Write the ds-partitioned catalog table p14 reads; returns its name.
    * sfDir-keyed name + overwrite mode → idempotent across passes and
    * scale factors within a JVM (the orc/csv staging-dir pattern). The
    * catalog stores the declared schema, so ds stays a STRING partition
    * column (no path-style partition-type inference). */
  private[queries] def stageCatalogTable(spark: SparkSession,
                                         sfDir: String): String = {
    val tbl = s"lineitem_ds_${Integer.toHexString(sfDir.hashCode)}"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_wh")
    // the default session catalog is in-memory: a PREVIOUS JVM's table
    // files survive under the warehouse dir while its metadata doesn't,
    // and CTAS refuses an existing unmanaged location — drop both
    spark.sql(s"DROP TABLE IF EXISTS graft_wh.$tbl")
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_wh.db", tbl)
    // best-effort scrub (closes its walk stream, tolerates per-file IO
    // races, retries): if the stale location still can't be cleared,
    // saveAsTable below fails with the real error rather than this walk
    EventQueries.scrubCheckpoint(loc)
    CoreOps.scan(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= to_date(lit("1996-01-01")) &&
        col("l_shipdate") < to_date(lit("1996-02-01")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        CoreOps.withDs(col("l_shipdate")).as("ds"))
      .write.mode("overwrite").format("parquet").partitionBy("ds")
      .saveAsTable(s"graft_wh.$tbl")
    tbl
  }

  private val catalogScanOracle =
    s"""SELECT l_orderkey AS id, l_linenumber AS line_no,
       |       l_returnflag AS flag,
       |       strftime(l_shipdate, '%Y%m%d') AS ds
       |FROM lineitem
       |WHERE strftime(l_shipdate, '%Y%m%d') = '$DS'""".stripMargin

  def all: Seq[NamedQuery] = Seq(
    NamedQuery("p01_flagship", flagship, Some(flagshipOracle)),
    NamedQuery("p09_orc_roundtrip", orcRoundtrip, Some(orcRoundtripOracle)),
    NamedQuery("p10_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripOracle)),
    NamedQuery("p11_csv_roundtrip", csvRoundtrip, Some(csvRoundtripOracle)),
    NamedQuery("p12_gzip_roundtrip", gzipRoundtrip, Some(gzipRoundtripOracle)),
    NamedQuery("p13_xml_roundtrip", xmlRoundtrip, Some(xmlRoundtripOracle)),
    NamedQuery("p02_default_ds", defaultDs, Some(defaultDsOracle)),
    NamedQuery("p03_tsv_roundtrip", tsvRoundtrip, Some(tsvRoundtripOracle)),
    NamedQuery("p04_missing_col_drop", missingColumnDrop,
      Some(missingColumnDropOracle)),
    NamedQuery("p05_constants", constants, Some(constantsOracle)),
    NamedQuery("p06_null_normalize", nullNormalize, Some(nullNormalizeOracle)),
    NamedQuery("p07_empty_ok", emptyOk, Some(emptyOkOracle)),
    NamedQuery("p08_sqlgen_batches", sqlgenBatches, Some(sqlgenBatchesOracle)),
    NamedQuery("p14_catalog_scan", catalogScan, Some(catalogScanOracle)),
  )
}
