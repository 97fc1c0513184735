package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Registry

/** Order-independent fingerprint of a result: its row count and the exact
  * sum of a 64-bit hash of every row. Doubles and floats are hashed as
  * floats (24-bit mantissa), so summation-order noise in the last bits of
  * a double does not change the fingerprint; maps are hashed as their
  * sorted entries. Columns are taken in name order. */
object RowHash {
  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needs(e)
    case st: StructType => st.fields.exists(f => needs(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case MapType(k, v, _) => norm(sort_array(map_entries(c)),
      ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case ArrayType(e, _) if needs(e) => transform(c, x => norm(x, e))
    case st: StructType if needs(st) =>
      struct(st.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def columns(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.sortBy(_.name).map(f => norm(df.col(s"`${f.name}`"), f.dataType))

  /** Run `df` to a noop sink with the fingerprint observed in flight. */
  def execute(df: DataFrame, name: String): Observation = {
    val obs = new Observation(name)
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(columns(df): _*).cast(DecimalType(38, 0))).as("hash"))
      .write.mode("overwrite").format("noop").save()
    obs
  }

  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    val h = Option(m("hash")).map(_.toString).getOrElse("0")
    (m("rows").asInstanceOf[Long], h)
  }
}

/** A pinned fingerprint: which workload a query belongs to and the row
  * count and hash its result must have on the generated tables. */
final case class Pinned(name: String, workload: String, rows: Long, hash: String)

object Queries {
  def home: String = sys.props.getOrElse("perfbench.home", "perfbench")
  def pinnedFile: java.nio.file.Path = Paths.get(home, "expected", "queries.tsv")

  def of(workload: String): Seq[Pinned] =
    Files.readAllLines(pinnedFile).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, w, r, h) = l.split("\t")
        Pinned(n, w, r.toLong, h)
      }.filter(_.workload == workload)

  /** The `llm_kernels` op set: LLM-pipeline queries that call the
    * `graft.functions` kernels and the dedup, similarity and text
    * operators. */
  val LlmKernels = Seq("t09", "t25", "t30", "t38", "t48", "t49", "s03", "s04", "s05")
  /** Queries of the tier whose result on the generated tables differs from
    * their DuckDB oracle, so they are pinned to the oracle's result. They
    * are not timed ops (an op of a workload must not fail): each runs once
    * after the timed passes and its mismatch is reported with the settings.
    * t29's LSH candidate step misses 3 of the oracle's 608 pairs. */
  val KnownMismatch = Seq("t29")
  /** The untimed first op: a light text query outside the op set, so the
    * timed pass starts with Spark's own code paths loaded. */
  val Warmup = "t03"
}

/** `llm_kernels`: each op is one registered query, forced with a `noop`
  * write; a pass runs the set in name order. The only warm-up is one query
  * outside the set, so the timed pass includes each query's first planning
  * and code generation, as a scheduled batch run pays it. The order is
  * fixed, not seeded: in a first pass it decides which query pays for
  * compiling the code paths the queries share, and a seeded order made
  * op_p90_s depend on the seed. The result's fingerprint is observed in
  * flight and compared with the pinned one after the op. */
final class Queries(s: Settings, set: Seq[Pinned], warm: Seq[Pinned],
                    known: Seq[Pinned]) extends Workload {
  val passSeconds = 30.0
  private lazy val fns = Registry.queries

  private final class Query(q: Pinned) extends Op(q.name) {
    def run(): Any = {
      val df = Trace.span("queries.build")(fns(q.name)(SparkSession.active, s.data))
      Trace.span("spark.execute")(RowHash.execute(df, s"q${Trace.currentOp}"))
    }
    override def check(r: Any): Option[String] = {
      val got = RowHash.read(r.asInstanceOf[Observation])
      if (got == (q.rows, q.hash)) None
      else Some(s"${q.name} gave rows=${got._1} hash=${got._2}, pinned rows=${q.rows} hash=${q.hash}")
    }
    override def rows(r: Any): Long = RowHash.read(r.asInstanceOf[Observation])._1
  }

  def prepare(): Unit = {
    require(set.nonEmpty, s"no pinned queries for ${s.workload} in ${Queries.pinnedFile}")
    s.session()
    val missing = set.map(_.name).filterNot(fns.contains)
    require(missing.isEmpty, s"pinned queries not registered: ${missing.mkString(",")}")
  }

  def warmup(): Seq[Op] = warm.map(q => new Query(q))
  def pass(p: Int): Seq[Op] = set.map(q => new Query(q))
  def finalCheck(): Seq[String] = Nil

  override def knownMismatches(): Seq[String] = known.map { q =>
    val op = new Query(q)
    val problem = try op.check(op.run())
      catch { case e: Throwable => Some(s"${q.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    problem.getOrElse(s"${q.name} now matches its oracle; make it a timed op")
  }

  override def layers(traced: Seq[OpRecord], l: Listeners): Map[String, Double] =
    Kernels.run(SparkSession.active, s.kernelData)
}

/** Pins the fingerprints: runs each `llm_kernels` query and the warm-up
  * query once on the generated tables and writes its fingerprint, its
  * result (parquet, for the DuckDB cross-check) and its oracle SQL to
  * `out`. */
object Pin {
  def run(s: Settings, out: String): Unit = {
    val spark = s.session()
    Files.createDirectories(Paths.get(out))
    val lines = Registry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val prefix = name.takeWhile(_ != '_')
        val role = if (Queries.LlmKernels.contains(prefix)) Some("llm_kernels")
          else if (Queries.KnownMismatch.contains(prefix)) Some("known_mismatch")
          else if (prefix == Queries.Warmup) Some("warmup") else None
        role.map { r =>
          val (n, h) = RowHash.read(RowHash.execute(fn(spark, s.data), s"pin_$name"))
          fn(spark, s.data).write.mode("overwrite").parquet(s"$out/$name")
          s"$name\t$r\t$n\t$h"
        }
      }
    require(lines.size == Queries.LlmKernels.size + Queries.KnownMismatch.size + 1,
      s"pinned only ${lines.size} queries")
    Files.write(Paths.get(out, "fingerprints.tsv"), lines.asJava)
    val pinned = lines.map(_.takeWhile(_ != '\t')).toSet
    val oracles = Registry.all.filter(q => pinned(q.name)).flatMap(q =>
      q.oracleFn.map(f => q.name -> f()).orElse(q.oracle.map(q.name -> _))).toMap
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.value(oracles))
    spark.stop()
  }

  /** Fingerprints the oracle results written to `out/oracle/<name>`, each
    * cast column by column to the schema of the query's own result in
    * `out/<name>`, so both sides hash the same types. Writes
    * `oracle_fingerprints.tsv` (name, rows, hash). */
  def oracles(s: Settings, out: String, names: Seq[String]): Unit = {
    val spark = s.session()
    val lines = names.map { name =>
      val schema = spark.read.parquet(s"$out/$name").schema
      val oracle = spark.read.parquet(s"$out/oracle/$name")
      val df = oracle.select(schema.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
      val (n, h) = RowHash.read(RowHash.execute(df, s"oracle_$name"))
      s"$name\t$n\t$h"
    }
    Files.write(Paths.get(out, "oracle_fingerprints.tsv"), lines.asJava)
    spark.stop()
  }
}
