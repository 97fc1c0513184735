package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, built entirely
  * from codegen'd builtins (no UDFs) so they stay inside WholeStageCodegen
  * and scale linearly with no shuffle: every op here is a narrow map.
  */
object TextOps {

  /** The whitespace class spelled explicitly — Java's `\s` is
    * `[ \t\n\x0B\f\r]` but DuckDB's RE2 `\s` is only `[ \t\n\f\r]`
    * (no vertical tab), so a `\x0B` byte in a document would tokenize
    * differently on the two sides of the oracle compare. Both the engine
    * regexes here and every oracle's RE2 use this class verbatim. */
  val WhitespaceClass = " \\t\\n\\x0B\\f\\r"

  /** Whitespace tokens of the lowercased, trimmed text; empty tokens
    * dropped (split on leading separators yields ""). */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), s"[$WhitespaceClass]+"), t => length(t) > 0)

  /** BPE-ish subword-count proxy: word characters grouped into runs of ≤4
    * plus single non-space punctuation — a deterministic regex stand-in for
    * a real tokenizer's token count. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(trim(text)),
      lit(s"[a-z0-9]{1,4}|[^a-z0-9$WhitespaceClass]"), lit(0)))

  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", ""))

  /** Stopword hits of an ALREADY-materialized token array — the staged
    * twin of [[stopwordCount]]. Callers that need several token stats
    * should select [[tokens]] once and count from the array: Spark's
    * lambda array functions are CodegenFallback, so every duplicated
    * `tokens(text)` subtree really re-runs the regex split per row. */
  def stopwordCountIn(toks: Column, words: Seq[String]): Column = {
    val set = words.map(lit): Seq[Column]
    size(filter(toks, t => t.isin(set: _*)))
  }

  def stopwordCount(text: Column, words: Seq[String]): Column =
    stopwordCountIn(tokens(text), words)

  /** Quality-score heuristic in [0,1]: rewards mid-length docs, sane
    * punctuation density, and a natural stopword ratio. All arithmetic is
    * int-ratio → double, deterministic across engines. */
  def qualityScore(nTokens: Column, nChars: Column, nPunct: Column,
                   nStop: Column): Column = {
    val lenScore = when(nTokens.between(10, 1000), lit(1.0))
      .when(nTokens < 10, nTokens.cast("double") / 10.0)
      .otherwise(lit(1000.0) / nTokens.cast("double"))
    val punctRatio = nPunct.cast("double") / greatest(nChars.cast("double"), lit(1.0))
    val punctScore = when(punctRatio <= 0.1, lit(1.0)).otherwise(lit(0.5))
    val stopRatio = nStop.cast("double") / greatest(nTokens.cast("double"), lit(1.0))
    val stopScore = when(stopRatio.between(0.01, 0.6), lit(1.0)).otherwise(lit(0.5))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  /** Tiny per-language stopword tables for the heuristic language-ID.
    * Deterministic and SQL-expressible so the DuckDB oracle can replicate
    * the exact scoring. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "los", "y", "es", "en", "que"),
    "fr" -> Seq("le", "la", "et", "est", "en", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我"),
  )

  /** Heuristic language-ID: count stopword hits per language, pick the
    * argmax; ties break alphabetically (the list above is sorted). */
  def langId(text: Column): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> stopwordCount(text, words)
    }
    // argmax with first-wins (alphabetical) tie-break
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
         when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Overlapping fixed-width chunk windows (the doc→training-sample
    * explode); shared by the standalone chunking query and the composite
    * pipeline so width/stride changes stay in one place. */
  def chunkWindows(text: Column, width: Int = 200, stride: Int = 150): Column =
    transform(sequence(lit(1), greatest(length(text), lit(1)), lit(stride)),
      s => text.substr(s, lit(width)))

  /** LCG-style deterministic systematic-sample predicate: same rows on any
    * engine, cluster size, or partitioning. */
  def systematicSample(id: Column, keepBelow: Int, modulus: Int = 97): Column =
    (id * 48271L) % modulus < keepBelow

  /** Gopher-style repetition signals (Rae et al., 2021 §A1.1): the
    * fraction of characters sitting in duplicate LINES, and the fraction
    * of characters covered by the most frequent word bigram. High values
    * flag boilerplate/spam documents that poison training corpora. Both
    * are exact integer ratios — engine-portable. */
  def dupLineCharFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val total = aggregate(lines, lit(0), (a, l) => a + length(l))
    // chars in lines whose text appears more than once: for each line,
    // count occurrences across the doc; line length counts when dup
    val dupChars = aggregate(lines, lit(0), (a, l) =>
      a + when(size(filter(lines, m => m === l)) > 1, length(l)).otherwise(0))
    when(total === 0, lit(0.0))
      .otherwise(dupChars.cast("double") / total.cast("double"))
  }

  /** Fraction of tokens covered by the single most frequent word bigram
    * (adjacent token pair; occurrences may overlap, so the value is
    * clamped to 1). */
  def topBigramTokenFraction(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val bigrams = zip_with(slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val top = array_max(transform(array_distinct(bigrams),
      b => size(filter(bigrams, x => x === b))))
    when(n < 2, lit(0.0))
      .otherwise(least(lit(1.0), (top * 2).cast("double") / n.cast("double")))
  }

  /** Redact PII-shaped spans: emails and long digit runs (phone/account
    * numbers) become fixed tags. Simple character-class regexes only, so
    * the same pattern means the same thing in Java and RE2-style engines
    * (oracle replicability). */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9][0-9 ()+-]{7,}[0-9]", "<NUMBER>")

  /** Stratified flavor of the systematic sample: the keep rate (out of
    * `modulus`) depends on the stratum column — the deterministic version
    * of `sampleBy`, reproducible on any engine/partitioning. Strata not
    * named keep `dflt` per `modulus` rows. */
  def stratifiedSample(id: Column, stratum: Column, rates: Seq[(String, Int)],
                       dflt: Int = 0, modulus: Int = 97): Column = {
    val rate = rates.foldLeft(lit(dflt)) { case (acc, (s, r)) =>
      when(stratum === lit(s), lit(r)).otherwise(acc)
    }
    (id * 48271L) % modulus < rate
  }
}
