package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Trained subword tokenization, SECOND family (r17 verdict item 6):
  * the unigram language-model tokenizer of SentencePiece (Kudo 2018,
  * "Subword Regularization") — the production counterpart teams compare
  * BPE against. Where BPE composes a word bottom-up through an ordered
  * merge table, the unigram model holds a PIECE VOCABULARY with a cost
  * per piece (scaled negative log-probability) and segments each word
  * by Viterbi: the segmentation minimizing the total piece cost.
  *
  * APPLY semantics (the engine/oracle contract): over all ways to cover
  * the word with vocabulary pieces (any character not in the vocabulary
  * acts as a single-char piece at [[UnigramLm.UnkCost]]), take the
  * minimum total cost; among minimum-cost segmentations, the minimum
  * piece count. Both reductions are associative mins over integer
  * sums, so the result is tie-break-free by construction — which is
  * what lets DuckDB verify it by brute-force enumeration of ALL
  * segmentations (a recursive CTE) against the engine's O(|w|·maxLen)
  * Viterbi, two entirely different algorithms agreeing on exact
  * integers.
  *
  * TRAIN determinism (simplified hard-EM variant of Kudo §3.2 — Viterbi
  * counts instead of full forward-backward expectations, the documented
  * "hard EM" degeneration): seed = every substring of length ≤
  * [[UnigramLm.MaxPieceLen]] above a frequency floor (single chars
  * always kept); each round re-segments the sample under current costs,
  * recounts usage, re-derives costs from usage, and PRUNES to the vocab
  * budget keeping the most-used pieces (ties: lexicographically
  * smallest). A pure function of the bounded id-ordered sample — the
  * trained (piece, cost) table embeds into the oracle as VALUES at dump
  * time (the s07/BPE pattern).
  *
  * 100 TB shape: the BPE contract — training is one bounded
  * deterministic collect; apply is a per-row codegen scalar, the vocab
  * rides task broadcast as a reference object, no join, no shuffle, and
  * the doc-level form keeps text scan-side with zero explode. */
case class UnigramStats(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${UnigramLm.name} requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = UnigramLm.name

  override protected def withNewChildInternal(newChild: Expression): UnigramStats =
    copy(child = newChild)

  @transient private lazy val table: UnigramTable = new UnigramTable(vocab)

  override def nullSafeEval(input: Any): Any =
    UnigramLm.wordStats(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("uniTable", table, "graft.functions.UnigramTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.UnigramLm.wordStats($input.toString(), $t);")
  }
}

/** Whole-document unigram stats in ONE codegen scalar (the BpeDocCount
  * shape): pre-tokenize, Viterbi every word (memoized per distinct word
  * per executor), return [n_words, n_pieces, total_cost] — text never
  * leaves the scan-side map, no explode. */
case class UnigramDocStats(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${UnigramLm.docName} requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = UnigramLm.docName

  override protected def withNewChildInternal(newChild: Expression): UnigramDocStats =
    copy(child = newChild)

  @transient private lazy val table: UnigramTable = new UnigramTable(vocab)

  override def nullSafeEval(input: Any): Any =
    UnigramLm.docStats(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("uniTable", table, "graft.functions.UnigramTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.UnigramLm.docStats($input.toString(), $t);")
  }
}

/** Apply table: piece → integer cost, plus the per-executor distinct-word
  * memo (the BpeTable contract: @transient, capped, one deserialized
  * instance serves many task threads). */
final class UnigramTable(val vocab: Seq[(String, Long)]) extends Serializable {
  val costs: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (p, c) => m.putIfAbsent(p, Long.box(c)) }
    m
  }
  val maxLen: Int = vocab.iterator.map(_._1.length).foldLeft(1)(math.max)
  @transient lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
}

object UnigramLm {
  val name = "unigram_stats"
  val docName = "unigram_doc_stats"

  /** Longest candidate piece considered at train time. */
  val MaxPieceLen = 6

  /** Cost of a single character absent from the vocabulary — above any
    * trainable cost (costs are scaled -ln(p) with p ≥ 1/total and the
    * bounded sample keeps total < e^25, so trained costs < 25e6). */
  val UnkCost = 30000000L

  /** -ln(count/total) scaled to an integer — double math happens ONCE,
    * driver-side, at train time; the engine and the oracle only ever see
    * the resulting integers. */
  val CostScale = 1e6

  /** Viterbi (cost, pieces) for one word: lexicographic-min DP — exact
    * integer arithmetic, the same value enumeration over all coverings
    * yields (optimal substructure holds for lexicographic pairs of
    * additive components). Returns {cost, npieces}. */
  def viterbi(word: String, t: UnigramTable): (Long, Long) = {
    val L = word.length
    if (L == 0) return (0L, 0L)
    val INF = Long.MaxValue / 4
    val cost = new Array[Long](L + 1)
    val np = new Array[Long](L + 1)
    var j = 1
    while (j <= L) {
      cost(j) = INF
      np(j) = INF
      var i = math.max(0, j - t.maxLen)
      while (i < j) {
        if (cost(i) < INF) {
          val c = t.costs.get(word.substring(i, j))
          val pc: Long =
            if (c != null) c.longValue()
            else if (j - i == 1) UnkCost
            else -1L
          if (pc >= 0L) {
            val nc = cost(i) + pc
            val nn = np(i) + 1L
            if (nc < cost(j) || (nc == cost(j) && nn < np(j))) {
              cost(j) = nc
              np(j) = nn
            }
          }
        }
        i += 1
      }
      j += 1
    }
    (cost(L), np(L))
  }

  /** The segmentation itself (train-side e-step only — apply never needs
    * the pieces). Backpointer ties keep the smallest split start, a
    * deterministic rule that only shapes TRAINING counts (the oracle
    * re-derives nothing from it). */
  def segment(word: String, t: UnigramTable): Seq[String] = {
    val L = word.length
    if (L == 0) return Seq.empty
    val INF = Long.MaxValue / 4
    val cost = new Array[Long](L + 1)
    val np = new Array[Long](L + 1)
    val back = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      cost(j) = INF; np(j) = INF; back(j) = -1
      var i = math.max(0, j - t.maxLen)
      while (i < j) {
        if (cost(i) < INF) {
          val c = t.costs.get(word.substring(i, j))
          val pc: Long =
            if (c != null) c.longValue()
            else if (j - i == 1) UnkCost
            else -1L
          if (pc >= 0L) {
            val nc = cost(i) + pc
            val nn = np(i) + 1L
            if (nc < cost(j) || (nc == cost(j) && nn < np(j))) {
              cost(j) = nc; np(j) = nn; back(j) = i
            }
          }
        }
        i += 1
      }
      j += 1
    }
    val pieces = scala.collection.mutable.ListBuffer.empty[String]
    var p = L
    while (p > 0) { pieces.prepend(word.substring(back(p), p)); p = back(p) }
    pieces.toSeq
  }

  private val CacheCap = 1 << 16

  private def memoized(word: String, t: UnigramTable): Array[Long] = {
    val hit = t.memo.get(word)
    if (hit != null) return hit
    val (c, n) = viterbi(word, t)
    val a = Array(c, n)
    if (t.memo.size() < CacheCap) t.memo.putIfAbsent(word, a)
    a
  }

  /** [[UnigramStats]] entry point: [total_cost, n_pieces] for one word. */
  def wordStats(word: String, t: UnigramTable)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val a = memoized(word, t)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(a(0), a(1)))
  }

  /** [[UnigramDocStats]] entry point: [n_words, n_pieces, total_cost]
    * over the pre-tokenized text. */
  def docStats(text: String, t: UnigramTable)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    var words = 0L
    var pieces = 0L
    var total = 0L
    val it = Bpe.pretokenize(text).iterator
    while (it.hasNext) {
      val a = memoized(it.next(), t)
      words += 1L
      total += a(0)
      pieces += a(1)
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(words, pieces, total))
  }

  private def toCosts(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = counts.iterator.map(_._2).sum.max(1L)
    counts.map { case (p, c) =>
      val cost = math.round(-math.log(c.toDouble / total.toDouble) * CostScale)
      // unk-is-worst contract: every trained cost must sit strictly below
      // UnkCost, or Viterbi could prefer the UNK path over a real piece.
      // -ln(1/total)*1e6 < 3e7 holds while total < e^30 ≈ 1.1e13 counts;
      // enforce rather than assume so a future giant sample fails loudly
      // at train time instead of silently inverting the semantics.
      require(cost < UnkCost,
        s"trained piece cost $cost for '$p' (count $c of $total) reaches " +
          s"UnkCost=$UnkCost — training sample too large for the " +
          "unk-is-worst invariant; raise UnkCost or shrink the sample")
      (p, cost)
    }
  }

  /** Deterministic simplified unigram-LM trainer (hard-EM; scaladoc
    * above). Single characters are never pruned (full coverage without
    * the UNK path on the training alphabet); multi-char pieces survive
    * a round only if used by some Viterbi segmentation, capped to
    * `vocabSize` by (usage desc, piece asc) — the PRUNING ORDER whose
    * inversion is the recorded mutation kill. */
  def train(texts: Seq[String], vocabSize: Int = 400,
            rounds: Int = 2): Seq[(String, Long)] = {
    val wf = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach(t => Bpe.pretokenize(t).foreach(w =>
      wf.update(w, wf.getOrElse(w, 0L) + 1L)))
    val words = wf.toSeq.sortBy(_._1)
    // seed counts: every substring up to MaxPieceLen, weighted by word
    // frequency; chars always in
    val sub = new scala.collection.mutable.HashMap[String, Long]()
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(i + MaxPieceLen, w.length)) {
          val p = w.substring(i, j)
          sub.update(p, sub.getOrElse(p, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    def cap(counts: scala.collection.mutable.HashMap[String, Long])
        : Seq[(String, Long)] = {
      val chars = counts.toSeq.filter(_._1.length == 1).sortBy(_._1)
      val multis = counts.toSeq
        .filter { case (p, c) => p.length > 1 && c >= 2 }
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - chars.size))
      (chars ++ multis).sortBy(_._1)
    }
    var vocabCounts = cap(sub)
    var r = 0
    while (r < rounds) {
      val t = new UnigramTable(toCosts(vocabCounts))
      val usage = new scala.collection.mutable.HashMap[String, Long]()
      words.foreach { case (w, c) =>
        segment(w, t).foreach(p =>
          usage.update(p, usage.getOrElse(p, 0L) + c))
      }
      // chars keep a +1 floor (never pruned, never log(0)); multis live
      // on their Viterbi usage alone
      vocabCounts.foreach { case (p, _) =>
        if (p.length == 1)
          usage.update(p, usage.getOrElse(p, 0L) + 1L)
      }
      vocabCounts = cap(usage)
      r += 1
    }
    toCosts(vocabCounts)
  }
}
