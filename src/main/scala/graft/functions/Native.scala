package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression => e}

/** graft's native Catalyst expressions as Column functions, in the manner
  * of `org.apache.spark.sql.functions`: `floatCosine(col("a"), col("b"))`.
  *
  * Each function builds its expression directly, so a query needs no
  * per-session registration and resolves on any session, a foreachBatch
  * clone included. Trained state (BPE merges, unigram vocabularies, NB
  * tables) is an argument of the expression, not a name in a session's
  * function registry. The SQL names (`float_cosine(a, b)`) are a separate
  * surface: [[GraftExtensions.functions]]. */
object Native {

  def floatCosine(a: Column, b: Column): Column = column(FloatCosine(e(a), e(b)))

  def intDot(a: Column, b: Column): Column = column(IntDot(e(a), e(b)))

  /** [[MinHashSig]] at its default k = 5 and 32 hashes. */
  def minhashSig(text: Column): Column = column(MinHashSig(e(text)))

  def gramHashes(text: Column, k: Int = 5): Column = column(GramHashes(e(text), k))

  def simhash64(text: Column): Column = column(SimHash64(e(text)))

  def intersectSizeSorted(a: Column, b: Column): Column =
    column(SortedIntersectSize(e(a), e(b)))

  def repetitionStats(text: Column): Column = column(RepetitionStats(e(text)))

  def jaroWinkler(a: Column, b: Column): Column = column(JaroWinkler(e(a), e(b)))

  def tokensOf(text: Column): Column = column(TokensOf(e(text)))

  /** [[TokenStats]] against the English stopwords. */
  def tokenStats(text: Column): Column =
    column(TokenStats(e(text), TokenStats.enStopwords))

  /** [[StopwordCounts]]: one count per language of
    * [[graft.text.TextOps.langStopwords]], in table order. */
  def stopwordCounts(text: Column): Column =
    column(StopwordCounts(e(text), StopwordCounts.langSets))

  def bpeCount(word: Column, merges: Seq[(String, String)]): Column =
    column(BpeCount(e(word), merges))

  def bpeDocCount(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeDocCount(e(text), merges))

  def bpeTokens(word: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokens(e(word), merges))

  def winnowPrints(text: Column, gramLen: Int, window: Int): Column =
    column(WinnowPrints(e(text), gramLen, window))

  def nbQualityScore(text: Column, table: NbTable): Column =
    column(NbQualityScore(e(text), table))

  def unigramStats(word: Column, vocab: Seq[(String, Long)]): Column =
    column(UnigramStats(e(word), vocab))

  def unigramDocStats(text: Column, vocab: Seq[(String, Long)]): Column =
    column(UnigramDocStats(e(text), vocab))

  /** [[IvfCell]]: the nearest of `centroids` to `v` (array<double>). */
  def ivfCell(v: Column, centroids: Array[Array[Double]]): Column =
    column(IvfCell(e(v), centroids))

  /** [[IvfCells]]: the `n` nearest cells in (squared distance asc, cell
    * asc) order; element 0 is [[ivfCell]]'s argmin. */
  def ivfCells(v: Column, centroids: Array[Array[Double]], n: Int): Column =
    column(IvfCells(e(v), centroids, n))

  def lshBucketCodes(v: Column, planesPerTable: Int, tables: Int, dim: Int,
                     seed: Long): Column =
    column(LshBucketCodes(e(v), planesPerTable, tables, dim, seed))
}
