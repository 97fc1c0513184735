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
        graft.dedup.Dedup.bandHashes(expr("minhash_sig(lower(trim(text)))"))
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
}
