package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.HexFormat

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.conf.{FieldMapping, MissingFieldPolicy, SourceField}
import graft.GraftError

/** Pure `DataFrame => DataFrame` stages for the reference's happy path
  * (SURVEY.md §2 rows 1-3, 6-9, 15). Each stage is declarative so Catalyst
  * pushes filters/pruning into the scan — unlike the reference, which
  * exports `select *` over a process boundary and prunes columns in the
  * driver afterwards (HiveToMysql.java:227, 382-395).
  */
object CoreOps {

  /** §2 row 1 — table scan. In this harness tables are parquet files under
    * a scale-factor dir; on a real cluster this is
    * `spark.read.table("db.tbl")` against the Hive catalog.
    *
    * A plain `spark.read.parquet` infers the schema with a footer-reading
    * Spark job on every call, even for a one-file table (Spark 4.1's
    * `SchemaMergeUtils` always `parallelize`s). The schema is memoized per
    * path, JVM-wide, so that job is skipped only on a REPEAT scan of an
    * unchanged path within one JVM: a query set run in one JVM (`Verify`,
    * `Bench`, where many queries read the same tables) or a long-lived
    * driver calling `Main.run` again on an unchanged table. A one-shot
    * `graft.Main` run scans its source once per JVM and always misses; a
    * `hive_db` source does not come here at all. A first miss costs the
    * plain read plus one hash over the listing. The memo is re-used only
    * when re-inferring would give the same answer:
    *  - the session's explicitly set confs that can change inference
    *    (`spark.sql.parquet.*`, `spark.sql.legacy.*`, `spark.sql.files.*`,
    *    `spark.sql.sources.*`, case sensitivity, time zone, timestamp
    *    type) equal the ones at inference;
    *  - the file index Spark lists for the schema-given read — the one
    *    listing the query plans with, not a second one — has the same
    *    (path, length, modificationTime) sequence, in listing order, as the
    *    index the schema was inferred from. So an added, removed, rewritten
    *    or emptied file re-infers, and a deleted path or an empty directory
    *    raises exactly what `spark.read.parquet` raises. As with Spark's
    *    own file-status cache, an in-place rewrite that keeps both the
    *    length and the modification time is not seen.
    *
    * A conf mismatch takes the plain read and replaces the entry. A
    * listing mismatch has already paid one listing for the schema-given
    * read, so the plain read lists again: on a 365-partition table that
    * doubled the scan (2.7 s against 1.3 s, local disk, 4 cores). A path
    * whose files changed once, such as a source that gains a `ds`
    * partition a day, keeps changing, so it is dropped from the memo and
    * every later scan of it in this JVM is the plain read: at most one
    * doubled scan per path. Memory: one SHA-256 listing digest, one conf
    * snapshot and one `StructType` per memoized path, and the path string
    * of each changed one; no file list, DataFrame or session is held. */
  def scan(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val confs = schemaConfs(spark)
    val memo = Option(schemaMemo.get(path)).filter(_.confs == confs)
    val hit = memo.flatMap { m =>
      Try(spark.read.schema(m.schema).parquet(path)).toOption
        .filter(listingDigest(_).contains(m.listing))
    }
    hit.getOrElse {
      if (memo.isDefined) {
        changedPaths.add(path)
        schemaMemo.remove(path)
      }
      val df = spark.read.parquet(path)
      if (!changedPaths.contains(path))
        listingDigest(df).foreach(d => schemaMemo.put(path, SchemaMemo(confs, d, df.schema)))
      df
    }
  }

  /** Session confs that can change what parquet schema inference returns. */
  private val SchemaConfPrefixes: Seq[String] = Seq(
    "spark.sql.parquet.", "spark.sql.legacy.", "spark.sql.files.",
    "spark.sql.sources.", "spark.sql.caseSensitive",
    "spark.sql.session.timeZone", "spark.sql.timestampType")

  private final case class SchemaMemo(confs: Map[String, String],
                                      listing: String, schema: StructType)

  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, SchemaMemo]()

  private val changedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def schemaConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => SchemaConfPrefixes.exists(k.startsWith) }

  /** SHA-256 of the relation's listed (path, length, mtime) sequence; None
    * when `df` is not a single file-index scan. */
  private def listingDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        val md = MessageDigest.getInstance("SHA-256")
        index.allFiles().foreach { f =>
          md.update(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
            .getBytes(StandardCharsets.UTF_8))
        }
        HexFormat.of().formatHex(md.digest())
      }

  /** Scan-tail parallelization for UNDER-SPLIT inputs (guide §2: make
    * partitioning scale-adaptive, never a constant tuned for one mode).
    *
    * The harness tables are single parquet files with ONE row group, so a
    * bare scan yields exactly one non-empty task regardless of
    * maxPartitionBytes. For most queries that is FINE — the single map
    * task gets perfect map-side combining and skips an exchange, and the
    * r21 A/B probe showed a blanket spread REGRESSES the tokenizer/LM
    * tier (t19 0.60→1.31 s, t21 0.72→1.35 s, t05 0.12→0.31 s: their
    * partial aggregation emits ~the distinct-key set once per task, so 32
    * tasks shuffle up to 32× the bytes). But where the scan-side
    * projection itself is the expensive stage — winnowing fingerprints,
    * per-block HTML classification, span-window hashing — one round-robin
    * exchange of the scanned rows buys 32-way parallelism for everything
    * between the scan and the first keyed exchange (t38 2.58→1.29 s, t49
    * 0.79→0.32 s, t30 1.71→1.24 s measured min-of-5; t25 was in this list
    * in r21 but REVERTED in r22 — the driver-condition A/B showed the
    * spread defeating its window-count map-side combine, see
    * OPTIMIZATION_r22.md §3 before re-adding it anywhere similar).
    * Hence OPT-IN per operator, never inside [[scan]] itself. Filters and
    * column pruning push THROUGH the repartition into the scan
    * (PushPredicateThroughNonJoin), so PushedFilters/ReadSchema are
    * unchanged.
    *
    * Scale story: at production split counts (a 100 TB table scans as
    * tens of thousands of splits) the condition is false and the plan is
    * identical to the historical one — the spread exchange exists ONLY in
    * the degenerate small-layout case, which is also the only case where
    * shuffling the text is free (the whole table is a few MB).
    * Deterministic: round-robin repartition sorts its input locally first
    * (spark.sql.execution.sortBeforeRepartition, default on), and every
    * registered query's output is row-order-independent (keyed
    * aggregates/joins; the oracle compare sorts). */
  def spreadSmallScan(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // a bare relation's partition count: physical planning only, no job
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= sc.defaultParallelism) df.repartition(sc.defaultParallelism)
    else df
  }

  /** Keyed twin of [[spreadSmallScan]] for CPU-heavy stages that REQUIRE
    * a clustering (WindowExec, co-grouped aggregation): a user
    * `repartition(n, keys)` with an explicit count both satisfies the
    * downstream required distribution and is exempt from AQE partition
    * coalescing — whereas the planner-inserted ENSURE_REQUIREMENTS
    * exchange gets coalesced by BYTES, and a few-MB token stream whose
    * per-row work is an md5/DP lands on one task (the Dedup.cpuSpread
    * finding, keyed form). ONLY place this where no upstream exchange
    * already provides a compatible partitioning — EnsureRequirements
    * elides a redundant user repartition, restoring the coalescible
    * exchange (the first r21 cpuSpread attempt, documented there). The
    * count scales with the session, never a local constant. */
  def spreadByKeys(df: DataFrame, keys: Column*): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val parts = math.max(sc.defaultParallelism,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    df.repartition(parts, keys: _*)
  }

  /** Catalog-aware scan: when `hive_db` is configured the source is read
    * through the session catalog as `hive_db.table` — the reference's
    * addressing (`select * from hive_db.hive_table`, HiveToMysql.java:227)
    * — falling back to the parquet-path harness layout otherwise. Catalog
    * reads get partition pruning on real Hive-partitioned tables for free. */
  def scanSource(spark: SparkSession, sfDir: String, table: String,
                 hiveDb: Option[String]): DataFrame =
    hiveDb match {
      case Some(db) => spark.read.table(s"$db.$table")
      case None     => scan(spark, sfDir, table)
    }

  /** §2 rows 2-3 — partition filter `ds = <value>` on a derived partition
    * column. On a partitioned table this predicate is pruned at planning
    * time (PruneFileSourcePartitions); here `ds` is derived from a date
    * column and the filter still pushes to the scan as a date-range. */
  def withDs(dateCol: Column, pattern: String = "yyyyMMdd"): Column =
    date_format(dateCol, pattern)

  def partitionFilter(df: DataFrame, dsCol: Column, ds: String): DataFrame =
    df.where(dsCol === lit(ds))

  /** ds-equality as a RANGE predicate on the raw date column. Semantically
    * identical to `date_format(dateCol, pattern) === ds` for day-grain
    * patterns, but pushes to the scan as plain comparisons
    * (`PushedFilters: [GreaterThanOrEqual(...), LessThan(...)]`) so
    * parquet row-group stats — and, on a date-partitioned table,
    * partition pruning — actually skip data. `date_format` equality only
    * pushes IsNotNull: the function call hides the column from the
    * pushdown translator. Falls back to the derived-column filter for
    * non-day patterns. */
  def pushablePartitionFilter(df: DataFrame, dateCol: Column, ds: String,
                              pattern: String = "yyyyMMdd"): DataFrame =
    if (pattern == "yyyyMMdd" || pattern == "yyyy-MM-dd") {
      val day = to_date(lit(ds), pattern)
      df.where(dateCol >= day && dateCol < date_add(day, 1))
    } else
      df.where(withDs(dateCol, pattern) === lit(ds))

  /** §2 rows 6-8 — projection + rename + constant injection, with the
    * missing-source-column policy applied against the actual schema
    * (replaces parseDataFile validation, HiveToMysql.java:309-332).
    * Output column order = mapping file order (deterministic; see
    * SURVEY.md §1.3 on the reference's hashtable-order quirk).
    */
  def project(df: DataFrame, mapping: FieldMapping,
              conf: Map[String, String],
              policy: MissingFieldPolicy = MissingFieldPolicy.Fail)
      : DataFrame = {
    val (kept, dropped) = mapping.validate(df.columns.toSeq, policy)
    if (dropped.nonEmpty)
      System.err.println(
        s"[graft] WARN dropping unmapped targets: ${dropped.mkString(",")}")
    val consts = kept.constants(conf).toMap
    val cols: Seq[Column] = kept.entries.map {
      case SourceField(t, s) => col(s).as(t)
      case e                 => lit(consts(e.target)).as(e.target)
    }
    if (cols.isEmpty) throw GraftError.Other("mapping selected zero columns")
    df.select(cols: _*)
  }

  /** §2 row 9 — NULL sentinel normalization: the literal cell text "NULL"
    * becomes a real null (HiveToMysql.java:443-446). Applied only to string
    * columns; codegen-friendly (pure `when` expression). */
  def normalizeNulls(df: DataFrame, sentinel: String = "NULL"): DataFrame = {
    val exprs = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        when(col(f.name) === lit(sentinel), lit(null)).otherwise(col(f.name))
          .as(f.name)
      else col(f.name)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** Degrade every column to string at the sink edge — the reference loads
    * everything as varchar (README.md:17). Kept OUT of the main pipeline so
    * plans stay typed; applied only where varchar-fidelity is wanted. */
  def allVarchar(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
}
