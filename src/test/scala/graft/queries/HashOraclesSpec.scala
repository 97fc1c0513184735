package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins HashOracles' plain-Scala reference implementations to the engine:
  * the dump-time oracle embeds driver-recomputed signatures/buckets, so
  * any drift between the reimplementation and the native expressions (a
  * byte-walk edge case, a codegen change on Spark upgrade, a seed change)
  * must fail HERE, not surface as an unexplained driver hash-mismatch.
  * The comparisons run over the real documents corpus, normalization
  * included (lower(trim(text)) on the engine side vs normBytes here),
  * plus edge strings (empty, whitespace-only, shorter than k). */
class HashOraclesSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text")).as[(Long, String)].collect()

  private val edges = Seq((9001L, ""), (9002L, "   "), (9003L, "abc"),
    (9004L, "  MiXeD Case\ttokens  here  "))

  test("minhashSig matches the native expression over the corpus + edges") {
    registerSqlFunctions()
    val rows = (corpus.toSeq ++ edges).toDF("doc_id", "text")
      .select(col("doc_id"),
        expr("minhash_sig(lower(trim(text)))").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    (corpus.toSeq ++ edges).foreach { case (id, t) =>
      assert(rows(id) == HashOracles.minhashSig(HashOracles.normBytes(t)).toSeq,
        s"sig drift for doc $id")
    }
  }

  test("bandBuckets matches the engine's xxhash64-slice banding") {
    registerSqlFunctions()
    val rows = corpus.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.dedup.Dedup.bandHashes(
          expr("minhash_sig(lower(trim(text)))"), bands = 8, rowsPerBand = 4)
          .as("bh"))
      .select(col("doc_id"), col("bh.bucket").as("buckets"))
      .as[(Long, Seq[Long])].collect().toMap
    corpus.foreach { case (id, t) =>
      val want = HashOracles.bandBuckets(
        HashOracles.minhashSig(HashOracles.normBytes(t))).toSeq
      assert(rows(id) == want, s"band-bucket drift for doc $id")
    }
  }

  test("simhash64 matches the native expression over the corpus + edges") {
    registerSqlFunctions()
    val rows = (corpus.toSeq ++ edges).toDF("doc_id", "text")
      .select(col("doc_id"), expr("simhash64(lower(trim(text)))").as("sh"))
      .as[(Long, Long)].collect().toMap
    (corpus.toSeq ++ edges).foreach { case (id, t) =>
      assert(rows(id) == HashOracles.simhash64(HashOracles.normBytes(t)),
        s"simhash drift for doc $id")
    }
  }

  test("oracle thunks degrade loudly when the query never ran") {
    // fresh-JVM state can't be simulated here (record() may have run), so
    // the contract is pinned on the sentinel SQL itself: ONE row whose
    // values no engine run can produce — a guaranteed rows/values
    // mismatch against any engine output, including the empty one (the
    // old empty-candidates degradation silently coincided with the
    // engine for t09 on corpora without near-dup pairs). The sentinels
    // are ANSI enough to execute under Spark, so schema and values are
    // asserted by running them.
    val wantCols = Map(
      "s03" -> Seq("id_a", "id_b", "jaccard"),
      "s04" -> Seq("id_a", "id_b", "hamming"),
      "t09" -> Seq("doc_id", "chunk_no", "chunk"),
      "t27" -> Seq("batch_id", "corpus_id", "jaccard"),
      "t29" -> Seq("id_a", "id_b", "dist", "jw"),
      "t41" -> Seq("id", "text", "match_id", "match_jaccard", "passed"),
      "t48" -> Seq("source", "n_docs", "n_exact_dup_docs",
        "n_neardup_docs", "n_cross_pairs"))
    HashOracles.neverRanSql.foreach { case (q, sql) =>
      val df = spark.sql(sql)
      assert(df.columns.toSeq == wantCols(q),
        s"$q sentinel columns must match the query output schema")
      val rows = df.collect()
      assert(rows.length == 1, s"$q sentinel must be exactly one row")
      // the sentinel's leading value is impossible for any engine run:
      // ids are non-negative in every corpus (raw doc_id ≥ 0, perturbed
      // += 1e6), and t48's doc counts are non-negative with a source
      // string no corpus contains
      if (q == "t48")
        assert(rows.head.getString(0) == "ORACLE NEVER RAN" &&
          rows.head.getLong(1) == -1L,
          s"$q sentinel values must be impossible")
      else
        assert(rows.head.getLong(0) == -1L,
          s"$q sentinel id must be impossible")
    }
    assert(HashOracles.minhashNearDupOracle.nonEmpty)
    assert(HashOracles.simhashNearDupOracle.nonEmpty)
    assert(HashOracles.trainingPipelineOracle.nonEmpty)
  }
}
