package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: `withExtensions(new GraftExtensions)`
  * on a session builder, or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Injects graft's SQL surface: every stateless native function/aggregate
  * under its SQL name, plus both optimizer rules (DsRangeRewrite and
  * LevenshteinPrefilter). The library's own queries need none of the
  * names: they call the expressions as Columns ([[Native]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.DsRangeRewrite)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
  }
}

object GraftExtensions {
  /** The SQL surface: (name, expression class, builder) of each stateless
    * native function. Functions whose expression takes runtime state
    * (LshBucketCodes / IvfCell seeds and centroids, BPE merges, unigram
    * vocabularies, NB tables, winnowing geometry) are deliberately absent:
    * they exist only as [[Native]] Column functions. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (FloatCosine.name, classOf[FloatCosine], FloatCosine.builder),
    (MinHashSig.name, classOf[MinHashSig], MinHashSig.builder),
    (GramHashes.name, classOf[GramHashes], GramHashes.builder),
    (SimHash64.name, classOf[SimHash64], SimHash64.builder),
    (SortedIntersectSize.name, classOf[SortedIntersectSize],
      SortedIntersectSize.builder),
    (RepetitionStats.name, classOf[RepetitionStats], RepetitionStats.builder),
    (SpaceSavingTopK.name, classOf[SpaceSavingTopK], SpaceSavingTopK.builder),
    (JaroWinkler.name, classOf[JaroWinkler], JaroWinkler.builder),
    (IntDot.name, classOf[IntDot], IntDot.builder),
    (TokensOf.name, classOf[TokensOf], TokensOf.builder),
    (TokenStats.name, classOf[TokenStats], TokenStats.builder),
    (StopwordCounts.name, classOf[StopwordCounts], StopwordCounts.builder),
  )
}
