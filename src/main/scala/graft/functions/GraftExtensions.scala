package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: `withExtensions(new GraftExtensions)`
  * on a session builder, or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Injects the full graft surface: every native function/aggregate this
  * library defines plus both optimizer rules (DsRangeRewrite and
  * LevenshteinPrefilter) — a user configuring the extension class gets the
  * same session the library's own entry points build. */
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
  /** The complete SQL-surface registry: each entry's builder is the SAME
    * value the companion's register() uses, so the extension session and
    * the library's own sessions cannot drift. (LshBucketCodes / IvfCell
    * are deliberately absent: they take runtime seed/centroid arrays and
    * exist only on the Scala API via the graftbridge shim.) */
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
  )
}
