package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Trained subword tokenization — byte-pair encoding in the Sennrich et
  * al. 2016 formulation ("Neural Machine Translation of Rare Words with
  * Subword Units"): a word decomposes into characters with `</w>` fused
  * onto the final one, and an ORDERED merge table (trained by iterated
  * most-frequent-adjacent-pair counting) collapses symbol pairs until no
  * listed pair remains. The reference pipeline counts tokens with
  * whitespace/regex proxies; budget decisions at production scale are
  * made in real tokenizer units, which is what this provides
  * (VERDICT r15, missing-capability #1).
  *
  * APPLY semantics (the engine/oracle contract): at each step, among all
  * adjacent symbol pairs present in the merge table, merge the LEFTMOST
  * occurrence of the LOWEST-RANK pair; repeat to fixpoint. One
  * occurrence per step keeps the recursion expressible as a DuckDB
  * recursive CTE — and for any merge table this fixpoint is reached in
  * < |word| steps, so both sides terminate. Token count = symbols at
  * the fixpoint.
  *
  * TRAIN determinism: greedy most-frequent-pair with ties broken by the
  * lexicographically smallest (left, right) pair — the merge list is a
  * pure function of the (bounded, id-ordered) sample, which is what
  * lets the oracle embed it as VALUES literals at dump time (the s07
  * trained-centroid pattern).
  *
  * 100 TB shape: training is one bounded deterministic collect (the
  * trainCentroids contract); apply is a per-row scalar expression in
  * whole-stage codegen — the merge table rides task broadcast as a
  * reference object, no join, no shuffle. The fixpoint loop is
  * O(|word|²) hash lookups on words the pre-tokenizer already bounded. */
case class BpeCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_count requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = IntegerType

  override def prettyName: String = Bpe.name

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)

  // apply table (rank lookup + per-executor count memo); built once per
  // task deser, shared by interpreted eval and codegen (addReferenceObj)
  @transient private lazy val table: BpeTable = new BpeTable(merges)

  override def nullSafeEval(input: Any): Any =
    Bpe.countTokens(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table, "graft.functions.BpeTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.Bpe.countTokens($input.toString(), $t);")
  }
}

/** Whole-document trained-BPE token count: pre-tokenize the text and sum
  * [[BpeCount]]'s per-word fixpoint over every occurrence — the counter
  * budget operators (t24 packing, t26 mixing) decide in, as ONE codegen
  * scalar: no explode, no per-word row blowup, text never leaves the
  * scan-side map. (t37 keeps the per-distinct-word layout because it
  * REPORTS per-word structure; a budget only needs the sum.) */
case class BpeDocCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_doc_count requires a string argument, got ${child.dataType.simpleString}")

  // Long, not Int: the document-level sum is unbounded by |word| (see
  // Bpe.countDocTokens) — the scalar must not wrap before the cast.
  override def dataType: DataType = LongType

  override def prettyName: String = Bpe.docName

  override protected def withNewChildInternal(newChild: Expression): BpeDocCount =
    copy(child = newChild)

  @transient private lazy val table: BpeTable = new BpeTable(merges)

  override def nullSafeEval(input: Any): Any =
    Bpe.countDocTokens(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table, "graft.functions.BpeTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.Bpe.countDocTokens($input.toString(), $t);")
  }
}

/** Full trained-BPE tokenization of one pre-tokenized word to its
  * deterministic vocabulary-id sequence (see [[Bpe.vocab]]) — the
  * tokenize-for-export stage every training run ends with, as a codegen
  * scalar: the merge table AND the id table ride the task closure, so
  * the whole corpus tokenizes in the scan-side map with zero exchanges
  * (t39 plan-pins that). */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = Bpe.tokensName

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)

  @transient private lazy val table: BpeTable = new BpeTable(merges)

  override def nullSafeEval(input: Any): Any =
    Bpe.tokenIds(input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table, "graft.functions.BpeTable")
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.Bpe.tokenIds($input.toString(), $t);")
  }
}

/** One trained merge table, apply-ready: the rank lookup plus a bounded
  * per-JVM memo of per-word fixpoint counts. Corpus text is Zipfian —
  * the same words recur constantly (and duplicate-heavy corpora recur
  * 100×) — while the fixpoint is a pure function of the word, so the
  * O(|word|²) hash-lookup loop needs to run once per DISTINCT word per
  * executor, not once per occurrence. Measured at the ×100-hot wall
  * cell: t24 36.5 → 23.0 s, t37 24.6 → 20.7, t39 23.5 → 18.9 (the
  * remainder is the explode/window machinery, not the fixpoint — see
  * BASELINE.md round-16). The cache is `@transient lazy`
  * (rebuilt empty after task deserialization — per-executor, never
  * shipped) and a ConcurrentHashMap because in local mode one
  * deserialized instance serves many task threads; it stops inserting
  * at [[Bpe.CacheCap]] entries so an adversarial unique-word stream
  * degrades to the uncached cost instead of OOM. */
final class BpeTable(val merges: Seq[(String, String)]) extends Serializable {
  val ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]] =
    Bpe.toRanks(merges)
  lazy val ids: java.util.HashMap[String, Integer] = Bpe.toIds(merges)
  @transient lazy val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  // id sequences memo for the tokenizer: returning one shared immutable
  // UnsafeArrayData per distinct word is the Literal contract (consumers
  // copy values out; nothing mutates an expression result)
  @transient lazy val idSeqs =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]()
}

object Bpe {
  val name = "bpe_count"
  val docName = "bpe_doc_count"
  val tokensName = "bpe_tokens"

  /** Memo bound — ~64k distinct words per executor (a few MB) covers any
    * natural vocabulary's hot set; past it, compute uncached. */
  val CacheCap = 1 << 16

  /** Memoized per-word count through a [[BpeTable]]. */
  def countTokens(word: String, t: BpeTable): Int = {
    val hit = t.counts.get(word)
    if (hit != null) return hit.intValue()
    val n = countTokens(word, t.ranks)
    if (t.counts.size() < CacheCap) t.counts.putIfAbsent(word, Int.box(n))
    n
  }

  /** Memoized whole-text sum (the [[BpeDocCount]] entry point). Long:
    * the per-WORD count is |word|-bounded and fits an Int, but a
    * document is unbounded — a multi-GB text at the 100 TB design scale
    * can exceed 2^31 tokens, and an Int accumulator would wrap negative
    * BEFORE any downstream cast could save it (r16 advice). */
  def countDocTokens(text: String, t: BpeTable): Long = {
    var total = 0L
    val it = pretokenize(text).iterator
    while (it.hasNext) total += countTokens(it.next(), t)
    total
  }

  /** Memoized id sequence (the [[BpeTokens]] entry point). */
  def tokenIds(word: String, t: BpeTable)
      : org.apache.spark.sql.catalyst.expressions.UnsafeArrayData = {
    val hit = t.idSeqs.get(word)
    if (hit != null) return hit
    val a = tokenIds(word, t.ranks, t.ids)
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]
    if (t.idSeqs.size() < CacheCap) t.idSeqs.putIfAbsent(word, a)
    a
  }

  /** End-of-word marker fused onto a word's final character at
    * decomposition — never a standalone symbol, so a bare single-char
    * word is already ONE token. */
  val EndMark = "</w>"

  /** Pre-tokenizer (train side; the distributed apply side states the
    * same thing as `split(lower(text), "[^a-z0-9']+")`). */
  def pretokenize(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9']+").toSeq.filter(_.nonEmpty)

  private def decompose(w: String): Array[String] = {
    val syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) {
      syms(i) = if (i == w.length - 1) w.charAt(i).toString + EndMark
                else w.charAt(i).toString
      i += 1
    }
    syms
  }

  /** Greedy BPE training over a word-frequency table: `numMerges`
    * iterations of count-adjacent-pairs → merge the most frequent
    * (ties: lexicographically smallest pair), every occurrence,
    * left-to-right. Stops early when no pair repeats. */
  def train(texts: Seq[String], numMerges: Int): Seq[(String, String)] = {
    val wordFreq = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach(t => pretokenize(t).foreach(w =>
      wordFreq.update(w, wordFreq.getOrElse(w, 0L) + 1L)))
    var words: Array[(Array[String], Long)] =
      wordFreq.toArray.sortBy(_._1).map { case (w, c) => (decompose(w), c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val pairCount = new scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCount.update(p, pairCount.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      // a pair seen once carries no generalizable signal — stop there
      val live = pairCount.filter(_._2 >= 2)
      if (live.isEmpty) exhausted = true
      else {
        val best = live.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) => (mergeAll(syms, best), c) }
        m += 1
      }
    }
    merges.toSeq
  }

  private def mergeAll(syms: Array[String], p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  def toRanks(merges: Seq[(String, String)])
      : java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val r = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      r.computeIfAbsent(a, _ => new java.util.HashMap[String, Integer]())
        .putIfAbsent(b, Int.box(i))
    }
    r
  }

  /** The apply fixpoint — leftmost occurrence of the lowest-rank pair,
    * one merge per step (see the [[BpeCount]] scaladoc for why). Returns
    * the symbol sequence at the fixpoint; empty word → empty array. */
  def applySyms(word: String,
                ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]])
      : Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms = decompose(word)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val inner = ranks.get(syms(i))
        if (inner != null) {
          val rk = inner.get(syms(i + 1))
          if (rk != null && rk < bestRank) { bestRank = rk; bestI = i }
        }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        val out = new Array[String](syms.length - 1)
        System.arraycopy(syms, 0, out, 0, bestI)
        out(bestI) = syms(bestI) + syms(bestI + 1)
        System.arraycopy(syms, bestI + 2, out, bestI + 1,
          syms.length - bestI - 2)
        syms = out
      }
    }
    syms
  }

  def countTokens(word: String,
                  ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]])
      : Int = applySyms(word, ranks).length

  /** Closed deterministic vocabulary over a merge table. Base symbols
    * first: for the i-th character of the pre-tokenizer's sorted alphabet
    * (`'`, 0-9, a-z — 37 chars), id 2i is the bare char and id 2i+1 its
    * EndMark-fused form (74 base ids). Then each DISTINCT merge output
    * a+b gets the next id in merge order — first merge wins when two
    * merges concatenate to the same string (e.g. (ab,c) and (a,bc) both
    * yield "abc"): the fixpoint operates on symbol STRINGS, so one string
    * is one vocabulary entry regardless of derivation. A pure function of
    * the merge table — what lets the oracle embed it as VALUES at dump
    * time. */
  val Alphabet = "'0123456789abcdefghijklmnopqrstuvwxyz"

  def vocab(merges: Seq[(String, String)]): Seq[String] = {
    val base = Alphabet.flatMap(c => Seq(c.toString, c.toString + EndMark))
    val seen = scala.collection.mutable.LinkedHashSet(base: _*)
    merges.foreach { case (a, b) => seen += (a + b) }
    seen.toSeq
  }

  def toIds(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    vocab(merges).zipWithIndex.foreach { case (s, i) =>
      m.put(s, Int.box(i))
    }
    m
  }

  /** Fixpoint symbols → vocabulary ids. A symbol outside the vocabulary
    * (impossible for pre-tokenized input — the alphabet is closed — but
    * reachable if a caller feeds raw un-normalized text) maps to -1
    * rather than throwing: a distributed tokenize job must not abort on
    * one stray row, and -1 is greppable downstream. */
  def tokenIds(word: String,
               ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]],
               ids: java.util.HashMap[String, Integer])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val syms = applySyms(word, ranks)
    val out = new Array[Int](syms.length)
    var i = 0
    while (i < syms.length) {
      val id = ids.get(syms(i))
      out(i) = if (id == null) -1 else id.intValue()
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
