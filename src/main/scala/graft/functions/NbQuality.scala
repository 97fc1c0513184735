package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Trained discriminative quality classifier — the fastText-shape
  * hashed-ngram Naive Bayes the GPT-3/LLaMA-style curation pipelines run
  * as their classifier-filter stage (Joulin et al. 2016, "Bag of Tricks
  * for Efficient Text Classification"; Brown et al. 2020 §A: a
  * reference-vs-crawl quality classifier scored every document). The
  * repo's generative scores (t23/t34 LM logprob, t36 DSIR ratios) rank
  * by corpus-fit; this is the missing TRAINED-ON-LABELS gate (VERDICT
  * r16, missing-capability #1).
  *
  * Model: multinomial NB log-odds over HASHED unigram + word-bigram
  * features. The hashing trick is what makes the shape scale-free — the
  * weight table is a fixed [[NbQuality.Buckets]]-slot array regardless
  * of vocabulary, so it rides the task closure like the BPE merge table
  * and the corpus scores in ONE codegen scalar with zero exchanges.
  *
  * Exactness contract: weights are SCALED-INTEGER log-odds (1e9 units,
  * rounded once at training). Scoring is pure Long addition — engine
  * and DuckDB sum the same integers in any order, so the oracle (VALUES
  * weight table + the same rolling hash re-derived in SQL) is exact with
  * no float-order caveats (the t23 decimal-sum lesson, taken one step
  * further).
  *
  * Training is one bounded deterministic collect (the trainCentroids
  * contract): a hash-sliced id-ordered sample with binary labels; NB
  * counts per hashed bucket, Laplace +1, class prior as the bias. Both
  * classes must be present — an empty class is a data bug and throws.
  */
final class NbTable(val weights: Array[Long], val bias: Long)
    extends Serializable

case class NbQualityScore(child: Expression, table: NbTable)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nb_quality_score requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = NbQuality.name

  override protected def withNewChildInternal(newChild: Expression): NbQualityScore =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    NbQuality.score(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("nbTable", table, "graft.functions.NbTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.NbQuality.score($input.toString(), $t);")
  }
}

object NbQuality {
  val name = "nb_quality_score"

  /** Fixed hashed-feature table size — the fastText bucket count, scaled
    * to the harness (fastText defaults to 2M for web corpora; 4096 keeps
    * the dump-time VALUES oracle small while the collision behavior —
    * the scheme's defining trade — is fully exercised). */
  val Buckets = 4096

  /** Rolling-hash modulus: a prime below 2^20 keeps every intermediate
    * `h*31 + c` under 2^26 — exact in any engine's 64-bit integer, and
    * cheap to re-derive in SQL (list_reduce in DuckDB). */
  val HashMod = 1048573L

  /** Scaled-integer unit for log-odds weights: 1e9 keeps nine decimal
    * digits of ln-precision while a 100k-feature document stays ~2^47 —
    * far from Long overflow. */
  val Scale = 1e9

  /** The feature hash, shared verbatim by the SQL oracle: a base-31
    * rolling hash mod [[HashMod]], folded to [[Buckets]]. Inputs are
    * pretokenized words or `w1_w2` bigram strings (ASCII on the harness
    * corpora; the char-code arithmetic is codepoint-exact either way). */
  def bucket(s: String): Int = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i).toLong) % HashMod
      i += 1
    }
    (h % Buckets).toInt
  }

  /** Hashed unigram + bigram features of a pretokenized word sequence,
    * one entry PER OCCURRENCE (multinomial counts, the fastText shape). */
  private def featureBuckets(words: Seq[String]): Iterator[Int] = {
    val unis = words.iterator.map(bucket)
    val bis =
      if (words.size < 2) Iterator.empty
      else words.iterator.zip(words.iterator.drop(1))
        .map { case (a, b) => bucket(a + "_" + b) }
    unis ++ bis
  }

  /** Long-exact document score: bias + Σ weights(h(feature)) over every
    * unigram/bigram occurrence. A word-free text scores exactly `bias`. */
  def score(text: String, t: NbTable): Long = {
    val words = Bpe.pretokenize(text)
    var s = t.bias
    val it = featureBuckets(words)
    while (it.hasNext) s += t.weights(it.next())
    s
  }

  /** NB training over a labeled sample: per-bucket occurrence counts per
    * class, Laplace-(+1)-smoothed log-likelihood ratio, class-prior
    * bias — each ln rounded ONCE into 1e9-scaled Longs (StrictMath, so
    * the trained table is bit-identical on any JVM). Throws if either
    * class is empty: a one-class "classifier" is a data bug upstream,
    * not a model. */
  def train(sample: Seq[(String, Boolean)]): NbTable = {
    val nPos = sample.count(_._2)
    val nNeg = sample.size - nPos
    require(nPos > 0 && nNeg > 0,
      s"nb_quality_score training needs both classes: got $nPos positive / " +
        s"$nNeg negative in a ${sample.size}-doc sample")
    val pos = new Array[Long](Buckets)
    val neg = new Array[Long](Buckets)
    var posTot = 0L
    var negTot = 0L
    sample.foreach { case (text, label) =>
      featureBuckets(Bpe.pretokenize(text)).foreach { b =>
        if (label) { pos(b) += 1; posTot += 1 }
        else { neg(b) += 1; negTot += 1 }
      }
    }
    val weights = Array.tabulate(Buckets) { b =>
      val lp = StrictMath.log((pos(b) + 1).toDouble / (posTot + Buckets))
      val ln = StrictMath.log((neg(b) + 1).toDouble / (negTot + Buckets))
      Math.round((lp - ln) * Scale)
    }
    val bias = Math.round(
      StrictMath.log(nPos.toDouble / nNeg.toDouble) * Scale)
    new NbTable(weights, bias)
  }
}
