package graft.tools

import org.apache.spark.sql.functions.col

import graft.ops.CoreOps.scan
import graft.sim.Similarity

/** Measures the ANN scale property that matters: CANDIDATE COUNT growth
  * with corpus size. A bucketed ANN is only 100 TB-viable if a query
  * compares against O(corpus / buckets · probes) vectors — linear in the
  * corpus with a small constant — never against the corpus squared.
  * Running the REAL `lshTopK` / `ivfTopK` with k = MaxValue keeps every
  * candidate pair through the ranking stage, so the count is exactly the
  * verified-candidate set of the production operators, with zero logic
  * duplicated here.
  *
  * Usage: `runMain graft.tools.AnnScale <dir>` → one JSON line
  * {corpus, queries, lsh_candidates, ivf_candidates}. Run against the
  * shipped sf and ScaleUp worlds to chart growth (results in
  * BASELINE.md).
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnScale <dir>")
    val spark = graft.GraftSession.getOrCreate()
    val emb = scan(spark, args(0), "embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val corpus = emb.count()
    // counted, not assumed: an arbitrary directory may have <5 low ids,
    // and per-query candidate math divides by this
    val nQueries = queries.count()
    val lsh = Similarity.lshTopK(queries, emb, k = Int.MaxValue).count()
    val cents = Similarity.trainCentroids(emb, k = 8)
    val ivf = Similarity.ivfTopK(queries, emb, cents,
      k = Int.MaxValue, nprobe = 2).count()
    println(s"""{"corpus":$corpus,"queries":$nQueries,"lsh_candidates":$lsh,""" +
      s""""ivf_candidates":$ivf}""")
    spark.stop()
  }
}
