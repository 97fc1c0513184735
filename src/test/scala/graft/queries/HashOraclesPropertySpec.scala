package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized parity for the dump-time oracle's reference
  * implementations: HashOraclesSpec pins them on the real corpus plus
  * hand-picked edges; this drives 300 seeded-random ASCII strings —
  * skewed toward the nasty shapes (whitespace runs, repeated chars,
  * length straddling k, leading/trailing spaces that only Spark-style
  * trim may strip) — through the engine in one pass and requires
  * bit-exact agreement for the signature, the band buckets, AND the
  * fingerprint. Deterministic (seeded), no flakes. */
class HashOraclesPropertySpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "abcdefghijklmnopqrstuvwxyzABCDE01234 .,!?\t\n"
    def randStr(): String = {
      val n = rnd.nextInt(40)
      val sb = new StringBuilder
      // occasional leading/trailing spaces exercise the trim boundary
      if (rnd.nextBoolean()) sb.append(" " * rnd.nextInt(3))
      (0 until n).foreach { _ =>
        val c = alphabet(rnd.nextInt(alphabet.length))
        sb.append(c)
        // runs: sometimes repeat the char to make duplicate grams
        if (rnd.nextInt(4) == 0) sb.append(c)
      }
      if (rnd.nextBoolean()) sb.append(" " * rnd.nextInt(3))
      sb.toString
    }
    (0 until 300).map(i => (i.toLong, randStr()))
  }

  test("minhashSig + bandBuckets + simhash64 match the engine on 300 random strings") {
    registerSqlFunctions()
    val engine = cases.toDF("id", "t")
      .select(col("id"),
        expr("minhash_sig(lower(trim(t)))").as("sig"),
        graft.dedup.Dedup.bandHashes(expr("minhash_sig(lower(trim(t)))"))
          .getField("bucket").as("buckets"),
        expr("simhash64(lower(trim(t)))").as("sh"))
      .as[(Long, Seq[Long], Seq[Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    cases.foreach { case (id, t) =>
      val norm = HashOracles.normBytes(t)
      val sig = HashOracles.minhashSig(norm)
      val (eSig, eBuckets, eSh) = engine(id)
      assert(eSig == sig.toSeq, s"sig drift on case $id: ${t.take(60)}")
      assert(eBuckets == HashOracles.bandBuckets(sig).toSeq,
        s"bucket drift on case $id")
      assert(eSh == HashOracles.simhash64(norm), s"simhash drift on case $id")
    }
  }
}
