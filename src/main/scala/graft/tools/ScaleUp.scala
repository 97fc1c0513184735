package graft.tools

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Deterministic F× scale-up of a testdata directory — the tool behind the
  * measured "does runtime actually grow linearly with data volume?" answer
  * in BASELINE.md.
  *
  * Every fact table is replicated F times with all join keys shifted by
  * `replica * Stride` (1e9, far above any key at any shipped SF), so
  * foreign keys stay consistent WITHIN a replica and never collide ACROSS
  * replicas: a ×10 directory has 10× the orders per customer-key-space,
  * 10× the users, 10× the documents — the same shape, more of it. The
  * dimension tables (`region`, `nation`) are copied unchanged, exactly as
  * a real 10× corpus would behave.
  *
  * Document TEXT is de-correlated across replicas with a position-keyed
  * substitution cipher (`cipherText`, length-preserving, so `n_chars`
  * stays valid): plain duplication would make every doc an exact dup of
  * F-1 others, and near-dup candidate generation would grow QUADRATICALLY
  * in F — an artifact of copying, not of scale. Ciphered replicas share
  * no shingles at ANY factor, so dedup/similarity work grows linearly,
  * like a real corpus. (An earlier alphabet-rotation scheme repeated past
  * F=26 and silently turned a ×100 grow world duplicate-heavy — caught by
  * the ×100 probe itself.)
  *
  * Output layout is FIXED across factors — every scaled table is written
  * as 32 files (dims as 1) regardless of F — so benching a ×1 and a ×10
  * directory compares pure data volume at identical parallelism, not
  * volume confounded with file count. A ×1 run through this tool is
  * therefore the correct baseline for a ×F run, NOT the shipped
  * single-file directory.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor]`
  * (writes `<dstDir>/<table>.parquet/`; refuses to write into the source).
  */
object ScaleUp {

  /** Key shift between replicas — above any shipped key, below long
    * overflow for any plausible factor. */
  val Stride = 1000000000L

  /** Join-key columns shifted per replica; tables absent here (the
    * broadcast dims) are copied unchanged. */
  val shiftedKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Per-(replica, position) letter shift — a keyed substitution cipher.
    * A plain per-replica caesar rotation only has 25 distinct non-identity
    * classes, so past F=26 replicas would repeat texts VERBATIM and the
    * grow axis would silently become a duplicate-heavy (hot-axis) corpus:
    * the original ×100 probe run generated ~4 identical copies of every
    * text, octupling near-dup group sizes and exploding the verify join.
    * Hashing (replica, position) into the shift makes any two replicas
    * differ at essentially every letter, for arbitrary F. */
  def cipherShift(replica: Long, pos: Int): Int = {
    var h = replica * 0x9E3779B97F4A7C15L + pos * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    ((h % 26 + 26) % 26).toInt
  }

  /** Length-preserving, deterministic text de-correlation: letters shift
    * by `cipherShift(replica, position)`, everything else untouched;
    * replica 0 is the identity. */
  def cipherText(text: String, replica: Long): String = {
    if (replica == 0L || text == null) return text
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      val s = cipherShift(replica, i)
      sb.append(
        if (c >= 'a' && c <= 'z') (((c - 'a' + s) % 26) + 'a').toChar
        else if (c >= 'A' && c <= 'Z') (((c - 'A' + s) % 26) + 'A').toChar
        else c)
      i += 1
    }
    sb.toString
  }

  /** One scan → F replicas via a narrow explode; key columns shifted,
    * document text rotated, original column order preserved. Dims (no
    * shifted keys) are returned unchanged; ×1 through the replica path is
    * the identity (replica 0 = shift 0 = rotation 0).
    *
    * `mode` picks which axis grows:
    *   - `"grow"` (default): 10× the KEYS — every id space (users, docs,
    *     orders) replicates disjointly and text de-correlates; per-key
    *     density is unchanged. The "more of the same shape" world.
    *   - `"hot"`: 10× the DENSITY — row identities (event_id, doc_id, …)
    *     still shift, but `events.user_id` keeps its original values
    *     (every user 10× hotter) and document text is copied VERBATIM
    *     (every text 10× duplicated). The skew/boilerplate world that
    *     stresses sessionization state and dedup group sizes instead of
    *     key cardinality. */
  def scaleTable(df: DataFrame, table: String, factor: Int,
                 mode: String = "grow"): DataFrame = {
    require(mode == "grow" || mode == "hot", s"unknown mode $mode")
    val keys0 = shiftedKeys.getOrElse(table, Seq.empty)
    if (keys0.isEmpty) return df
    val keys =
      if (mode == "hot" && table == "events") keys0.filterNot(_ == "user_id")
      else keys0
    val wide = df.withColumn("__r",
      explode(lit((0L until factor.toLong).toArray)))
    val shifted = keys.foldLeft(wide) { (d, k) =>
      d.withColumn(k, col(k) + col("__r") * Stride)
    }
    val rotated =
      if (table == "documents" && mode == "grow") {
        // typed Dataset map, not a udf(): the cipher is position-keyed so
        // no builtin (translate has one fixed mapping per call) expresses
        // it, and a map over Row keeps the tool on the repo's no-UDF
        // discipline — same narrow, partition-local execution
        val schema = shifted.schema
        val ti = schema.fieldIndex("text")
        val ri = schema.fieldIndex("__r")
        shifted.map { row =>
          val vals = row.toSeq.toArray
          vals(ti) = cipherText(row.getString(ti), row.getLong(ri))
          Row.fromSeq(vals.toIndexedSeq)
        }(Encoders.row(schema))
      } else shifted
    rotated.select(df.columns.map(col).toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <dstDir> [factor] [grow|hot]")
    val src = new java.io.File(args(0))
    val dst = new java.io.File(args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "grow"
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(src.isDirectory, s"$src is not a directory")
    require(src.getCanonicalPath != dst.getCanonicalPath,
      "dst must differ from src")
    val spark = graft.GraftSession.getOrCreate()
    src.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { t =>
        val table = t.getName.stripSuffix(".parquet")
        val out = scaleTable(spark.read.parquet(t.getAbsolutePath),
          table, factor, mode)
        val nFiles = if (shiftedKeys.contains(table)) 32 else 1
        out.repartition(nFiles).write.mode("overwrite")
          .parquet(new java.io.File(dst, t.getName).getAbsolutePath)
        println(s"$table: ×$factor ($mode) -> $nFiles files")
      }
    spark.stop()
  }
}
