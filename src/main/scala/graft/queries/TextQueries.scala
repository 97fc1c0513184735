package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.Native._
import graft.ops.CoreOps.{cpuSpread, scan, spreadSmallScan}
import graft.text.TextOps

/** Text-analysis + deduplication queries over the `documents` table.
  * Oracle notes: DuckDB regexp_replace needs the 'g' flag (Spark replaces
  * all matches by default); token lists use list_filter/list_contains to
  * mirror Spark's higher-order filter/isin exactly. */
object TextQueries {

  /** Exact-dedup groups: 64-bit hash key, copy count, survivor id. */
  def dedupGroups(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .groupBy(Dedup.exactKey(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))

  private val dedupGroupsOracle =
    """SELECT substring(sha256(lower(trim(text))), 1, 16) AS text_hash,
      |       count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1""".stripMargin

  /** The deduplicated table itself (min-id survivor per hash group) —
    * deterministic, unlike dropDuplicates. */
  def dedupKeep(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactDedup(scan(spark, sfDir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("source"))

  private val dedupKeepOracle =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |         min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep
      |  FROM documents
      |) WHERE doc_id = keep""".stripMargin

  /** Per-document text statistics: whitespace tokens, BPE-ish subword
    * count, punctuation, stopwords, quality score — all narrow codegen'd
    * maps (the 100 TB shape: no shuffle at all). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    // One native codegen pass for every token-derived stat (the r14
    // staged-array formulation still ran its single regex split OUTSIDE
    // whole-stage codegen; token_stats keeps the whole row inside WSCG
    // and materializes no token array). Only the BPE-ish proxy keeps its
    // own regex — a different token class entirely.
    val staged = scan(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        tokenStats(col("text")).as("ts"))
    staged.select(
      col("doc_id"),
      col("ts.n_tokens").cast("int").as("n_tokens"),
      col("ts.n_chars").cast("int").as("n_chars"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
      col("ts.n_punct").cast("int").as("n_punct"),
      col("ts.n_stop").cast("int").as("n_stop"),
      TextOps.qualityScore(
        col("ts.n_tokens"),
        col("ts.n_chars"),
        col("ts.n_punct"),
        col("ts.n_stop")).as("quality"))
  }

  private val textStatsOracle =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                    x -> len(x) > 0)) AS n_tokens,
      |    length(text) AS n_chars,
      |    len(regexp_extract_all(lower(trim(text)), '[a-z0-9]{1,4}|[^a-z0-9 \t\n\x0B\f\r]')) AS n_bpeish,
      |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
      |    len(list_filter(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                                x -> len(x) > 0),
      |        x -> list_contains(['the','and','of','to','is','in'], x))) AS n_stop
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n_tokens AS INTEGER) AS n_tokens,
      |  CAST(n_chars AS INTEGER) AS n_chars,
      |  CAST(n_bpeish AS INTEGER) AS n_bpeish,
      |  CAST(n_punct AS INTEGER) AS n_punct,
      |  CAST(n_stop AS INTEGER) AS n_stop,
      |  round((
      |    (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0
      |          WHEN n_tokens < 10 THEN CAST(n_tokens AS DOUBLE) / 10.0
      |          ELSE 1000.0 / CAST(n_tokens AS DOUBLE) END)
      |    + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) <= 0.1
      |            THEN 1.0 ELSE 0.5 END)
      |    + (CASE WHEN CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0)
      |                 BETWEEN 0.01 AND 0.6
      |            THEN 1.0 ELSE 0.5 END)
      |  ) / 3.0, 6) AS quality
      |FROM t""".stripMargin

  /** Heuristic language-ID: stopword-hit argmax with alphabetical
    * tie-break (deterministic; the `lang` ground-truth column exists but
    * the heuristic is scored against the oracle replica, not the label).
    *
    * r15: one native codegen pass (graft.functions.StopwordCounts — all
    * five language counts from a single token walk, pure narrow map).
    * Both declarative forms were wrong at scale: per-language column
    * filters re-ran the token split 5x per row (CodegenFallback, no
    * de-duplication), and the r14 explode + groupBy rewrite tokenized
    * once but SHUFFLED the whole corpus for a per-row computation —
    * language-ID at 100 TB must be scan-side CPU with zero exchanges
    * (PlanAuditSpec pins Exchange-free). Scores and argmax identical. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
    val langs = TextOps.langStopwords.map(_._1)
    val scored = docs.select(col("doc_id"), col("lang"),
      stopwordCounts(col("text")).as("sc"))
      .select(col("doc_id") +: col("lang") +:
        langs.zipWithIndex.map { case (l, i) =>
          col("sc").getItem(i).as(s"s_$l")
        }: _*)
    // argmax, earliest (alphabetical) language wins ties — matches both
    // TextOps.langId's fold and the oracle's CASE chain
    val pred = langs.foldRight(lit("zh"): org.apache.spark.sql.Column) {
      case (lang, elseCol) =>
        if (lang == "zh") elseCol
        else {
          val later = langs.dropWhile(_ != lang).tail
          when(later.map(l => col(s"s_$lang") >= col(s"s_$l")).reduce(_ && _),
            lit(lang)).otherwise(elseCol)
        }
    }
    scored.select(col("doc_id"), col("lang").as("lang_label"),
      pred.as("lang_pred"))
  }

  private val langIdOracle = {
    val scores = TextOps.langStopwords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"""len(list_filter(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'),
         |                 x -> len(x) > 0),
         |     x -> list_contains($list, x))) AS s_$lang""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, lang, $scores FROM documents)
       |SELECT doc_id, lang AS lang_label,
       |  CASE
       |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |    WHEN s_fr >= s_zh THEN 'fr'
       |    ELSE 'zh' END AS lang_pred
       |FROM t""".stripMargin
  }

  /** 64-bit document fingerprints (sha-prefix; the winnowing rolling-hash
    * variant is spec-tested — not SQL-expressible). */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .select(col("doc_id"), Dedup.exactKey(col("text")).as("fp"))

  private val fingerprintsOracle =
    """SELECT doc_id, substring(sha256(lower(trim(text))), 1, 16) AS fp
      |FROM documents""".stripMargin

  /** Exact n-gram Jaccard similarity over a bounded id range (the verify
    * primitive used on LSH candidates, here oracled all-pairs on a small
    * slice so DuckDB can afford the quadratic check). */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // grams computed once per doc BELOW the join (not per pair)
    val grams = scan(spark, sfDir, "documents").where(col("doc_id") < 60)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("grams"))
    val a = grams.toDF("id_a", "grams_a")
    val b = grams.toDF("id_b", "grams_b")
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        round(Dedup.jaccardFromGrams(col("grams_a"), col("grams_b")), 6))
      .where(col("jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  private val ngramJaccardOracle =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(length(lower(trim(text))) - 2, 1)),
      |      i -> substring(lower(trim(text)), i, 3))) AS grams
      |  FROM documents WHERE doc_id < 60)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
      |             CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE),
      |             6) AS jaccard
      |FROM g a, g b
      |WHERE a.doc_id < b.doc_id
      |  AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
      |            CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE),
      |            6) >= 0.2""".stripMargin

  /** Overlapping fixed-width chunking (200-char windows, stride 150) —
    * the doc→training-sample explode. Pure narrow map; at 100 TB this is
    * the shape that feeds tokenization without any shuffle. */
  def chunking(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(TextOps.chunkWindows(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_no"),
        col("col").as("chunk"))

  private val chunkingOracle =
    """WITH c AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1,
      |           CAST(floor((greatest(length(text), 1) - 1) / 150) + 1 AS BIGINT))) AS i
      |  FROM documents)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_no,
      |       substring(text, CAST(1 + (i - 1) * 150 AS BIGINT), 200) AS chunk
      |FROM c""".stripMargin

  /** Deterministic systematic sampling: an LCG-style keyed filter — the
    * reproducible alternative to seeded RNG sampling (same rows on any
    * cluster size, any partitioning, any engine). */
  def sampled(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .where(TextOps.systematicSample(col("doc_id"), keepBelow = 10))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  private val sampledOracle =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE (doc_id * 48271) % 97 < 10""".stripMargin

  /** The composite training-data pipeline, end-to-end: exact dedup →
    * MinHash-LSH near-dup clustering → min-id survivor per cluster →
    * quality floor → chunking → systematic sample. DuckDB-oracled at dump
    * time (HashOracles: band buckets embedded; dedup, candidate join,
    * Jaccard verify, recursive-CTE connected components, survivor
    * selection, quality/sample/chunk all recomputed in SQL);
    * PipelineCompositionSpec asserts the dedup/survivor behavior on
    * planted duplicates. This is the query a 100 TB corpus actually runs:
    * every stage is a narrow map or a bounded keyed shuffle. */
  def trainingPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    HashOracles.record(spark, sfDir)
    val docs = scan(spark, sfDir, "documents")
    val exact = Dedup.exactDedup(docs, "text", "doc_id")
    // flat form on purpose: the input is ALREADY exact-deduped one line
    // up, so nearDupPairs' collapse pre-pass would re-group distinct
    // texts for nothing (flat == collapsed on duplicate-free input, the
    // DedupSpec-pinned equivalence)
    val pairs = Dedup.nearDupPairsFlat(exact, "text", "doc_id", threshold = 0.5,
      // no candidate spread: the post-exact-dedup candidate set is small
      // and the pairs feed clusterAssign's checkpoint and reads (every
      // propagation iteration, past its broadcast bound) — the spread's
      // partition count multiplies their task overhead (measured
      // r22 A/B: t09 medians 2.15 s flat vs 3.51 s spread; the r21 driver
      // run agreed, 3.69 -> 4.20 s). See nearDupPairsFlat's scaladoc.
      spreadCands = false)
    val survivors = Dedup.clusterAssign(pairs, exact.withColumnRenamed("doc_id", "id"))
      .where(col("id") === col("cluster_id"))
      .withColumnRenamed("id", "doc_id")
    // quality floor via the native one-pass token_stats (no token array
    // materialized just to count it)
    val quality = survivors
      .where(tokenStats(col("text")).getField("n_tokens") >= 10)
    quality
      .where(TextOps.systematicSample(col("doc_id"), keepBelow = 50))
      .select(col("doc_id"), posexplode(TextOps.chunkWindows(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_no"),
        col("col").as("chunk"))
  }

  /** The composite pipeline's deterministic core, DuckDB-oracled: same
    * stages as t09 with the seeded MinHash-LSH clustering swapped for
    * exact dedup only — every remaining stage (hash-keyed survivor,
    * quality floor, LCG sample, chunk explode) is SQL-expressible, so the
    * full chain gets a hash-matched correctness row instead of rows-only.
    * t09 keeps exercising the LSH stage, spec-checked. */
  def trainingPipelineExact(spark: SparkSession, sfDir: String): DataFrame = {
    Dedup.exactDedup(scan(spark, sfDir, "documents"), "text", "doc_id")
      .where(tokenStats(col("text")).getField("n_tokens") >= 10)
      .where(TextOps.systematicSample(col("doc_id"), keepBelow = 50))
      .select(col("doc_id"), posexplode(TextOps.chunkWindows(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_no"),
        col("col").as("chunk"))
  }

  private val trainingPipelineExactOracle =
    """WITH kept AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |           min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep
      |    FROM documents) WHERE doc_id = keep),
      |q AS (
      |  SELECT doc_id, text FROM kept
      |  WHERE len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                        x -> len(x) > 0)) >= 10
      |    AND (doc_id * 48271) % 97 < 50),
      |c AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1,
      |           CAST(floor((greatest(length(text), 1) - 1) / 150) + 1 AS BIGINT))) AS i
      |  FROM q)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_no,
      |       substring(text, CAST(1 + (i - 1) * 150 AS BIGINT), 200) AS chunk
      |FROM c""".stripMargin

  /** TF-IDF top-3 terms per document. The 100 TB shape: explode tokens →
    * partial-combined (doc, term) counts → partial-combined doc-freq per
    * term → keyed join tf⋈df on term → per-doc top-k window. The corpus
    * size joins in as a broadcast 1-row aggregate, NOT a driver-side
    * count stitched into the plan.
    *
    * Ranking is by (tf DESC, df ASC, term) — integer-only and therefore
    * bit-identical across engines; ranking by the tfidf double itself
    * would hinge on whether two libm `ln`s round the same way. The tfidf
    * value is still emitted (rounded) for consumers. */
  def tfidfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(tokensOf(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df as a window count over term on the ONE tf lineage — the former
    // tf.groupBy(term) + join-back referenced tf twice, and each
    // reference re-ran scan+tokenize+explode (the t23 count(doc_id)
    // trick does not transfer: tf's count output is provably
    // non-nullable, so the optimizer canonicalizes count(tf) back to
    // count(1), prunes the column, rewrites dfreq's aggregate to a
    // distinct, and the subtrees stop being sameResult). Same value
    // (rows per term), one corpus pass, one term exchange instead of a
    // duplicated lineage plus a broadcast join.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("tfidf"))
  }

  private val tfidfTopKOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                            x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |         round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |                            ORDER BY tf.tf DESC, dfq.df ASC, tf.term) AS rk
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
      |SELECT doc_id, rk, term, tf, df, tfidf FROM s WHERE rk <= 3""".stripMargin

  /** Deterministic stratified sampling: per-language keep rates through
    * the LCG predicate — the reproducible sampleBy (same rows on any
    * engine, cluster size, or partitioning; no RNG state). */
  def stratified(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .where(TextOps.stratifiedSample(col("doc_id"), col("lang"),
        Seq("en" -> 50, "fr" -> 20, "de" -> 20, "es" -> 20, "zh" -> 5)))
      .select(col("doc_id"), col("lang"), col("source"))

  private val stratifiedOracle =
    """SELECT doc_id, lang, source FROM documents
      |WHERE (doc_id * 48271) % 97 <
      |      CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 20 WHEN 'de' THEN 20
      |                WHEN 'es' THEN 20 WHEN 'zh' THEN 5 ELSE 0 END""".stripMargin

  /** Gopher-style repetition quality signals: duplicate-line char
    * fraction and top-bigram token fraction, via the native one-pass
    * repetition_stats expression (zero explode, zero shuffle).
    *
    * The formulation history is the measured case study in declarative-
    * vs-native for per-row multiset work: nested higher-order lambdas
    * (TextOps.dupLineCharFraction / topBigramTokenFraction — kept,
    * spec-tested, fine per row) ran 30 s at sf0.1 because Catalyst
    * re-inlines the token split into every lambda element; explode + two
    * map-side-combined aggregations ran 6 s (10M-row bigram shuffle);
    * the native pass runs ~1 s. Ratios stay exact integer arithmetic
    * until the tie-free DECIMAL rounding. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    scan(spark, sfDir, "documents")
      .select(col("doc_id"), repetitionStats(col("text")).as("rs"))
      .select(col("doc_id"),
        when(col("rs.total_line_chars") === 0, lit(0.0))
          .otherwise(col("rs.dup_line_chars").cast("double") /
            col("rs.total_line_chars").cast("double"))
          .cast("decimal(28,6)").cast("double").as("dup_line_frac"),
        when(col("rs.n_tokens") < 2, lit(0.0))
          .otherwise(least(lit(1.0),
            (col("rs.top_bigram") * 2).cast("double") /
              col("rs.n_tokens").cast("double")))
          .cast("decimal(28,6)").cast("double").as("top_bigram_frac"))
  }

  private val repetitionOracle =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lines,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS toks
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    COALESCE(list_sum(list_transform(lines, l -> len(l))), 0) AS total,
      |    COALESCE(list_sum(list_transform(lines,
      |      l -> CASE WHEN len(list_filter(lines, m -> m = l)) > 1
      |                THEN len(l) ELSE 0 END)), 0) AS dup,
      |    len(toks) AS n,
      |    CASE WHEN len(toks) >= 2 THEN
      |      list_max(list_transform(
      |        list_distinct(list_transform(generate_series(1, len(toks) - 1),
      |          i -> toks[i] || ' ' || toks[i + 1])),
      |        b -> len(list_filter(
      |          list_transform(generate_series(1, len(toks) - 1),
      |            i -> toks[i] || ' ' || toks[i + 1]),
      |          x -> x = b))))
      |    ELSE 0 END AS top
      |  FROM t)
      |SELECT doc_id,
      |  CAST(CAST(CASE WHEN total = 0 THEN 0.0
      |                 ELSE CAST(dup AS DOUBLE) / total END
      |       AS DECIMAL(28,6)) AS DOUBLE) AS dup_line_frac,
      |  CAST(CAST(CASE WHEN n < 2 THEN 0.0
      |                 ELSE least(1.0, CAST(top * 2 AS DOUBLE) / n) END
      |       AS DECIMAL(28,6)) AS DOUBLE) AS top_bigram_frac
      |FROM u""".stripMargin

  /** PII-shaped redaction (emails, long digit runs) + audit counts — the
    * pre-training scrub pass. Narrow map; patterns are plain character
    * classes so Java and RE2 regex dialects agree. */
  def redact(spark: SparkSession, sfDir: String): DataFrame =
    scan(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextOps.redact(col("text")).as("clean_text"))
      .withColumn("n_emails",
        (size(split(col("clean_text"), "<EMAIL>", -1)) - 1).cast("int"))
      .withColumn("n_numbers",
        (size(split(col("clean_text"), "<NUMBER>", -1)) - 1).cast("int"))

  private val redactOracle =
    """WITH r AS (
      |  SELECT doc_id,
      |         regexp_replace(
      |           regexp_replace(text,
      |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |             '<EMAIL>', 'g'),
      |           '[0-9][0-9 ()+-]{7,}[0-9]', '<NUMBER>', 'g') AS clean_text
      |  FROM documents)
      |SELECT doc_id, clean_text,
      |       CAST(len(string_split(clean_text, '<EMAIL>')) - 1 AS INTEGER)
      |         AS n_emails,
      |       CAST(len(string_split(clean_text, '<NUMBER>')) - 1 AS INTEGER)
      |         AS n_numbers
      |FROM r""".stripMargin

  /** Corpus heavy hitters, exact: the vocabulary-building / stopword-
    * discovery pass. One map-side-combined shuffle on the term + global
    * top-k. At open-vocabulary scale the SpaceSavingTopK sketch
    * (topk_values, SpaceSavingTopKSpec) computes the same answer with
    * O(capacity) state instead of a distinct-term shuffle — the spec
    * asserts sketch == exact on this corpus. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    scan(spark, sfDir, "documents")
      .select(explode(tokensOf(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)
  }

  private val heavyHittersOracle =
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                            x -> len(x) > 0)) AS term
      |  FROM documents)
      |SELECT term, count(*) AS cnt FROM tok
      |GROUP BY 1 ORDER BY cnt DESC, term LIMIT 20""".stripMargin

  /** Gopher-style composite document filter: every signal the corpus
    * pipeline already computes (token counts, word length, punctuation,
    * stopwords, dup-line repetition) folded into one keep/drop decision
    * with the FIRST failing rule as the reject reason — the shape of a
    * production pretraining quality gate. Pure narrow map, zero shuffle.
    *
    * Every threshold compares via integer cross-multiplication
    * (n_punct*5 > n_chars instead of ratio > 0.2): no float division
    * before a boundary comparison, so the keep/drop bit is engine-exact
    * and the oracle can hash-match. */
  def gopherFilter(spark: SparkSession, sfDir: String): DataFrame =
    gopherCore(scan(spark, sfDir, "documents"))

  /** The reusable gate as a COLUMN transform: the input frame plus a
    * `reject_reason` column (null = keep). Keeping every input column
    * (text included) is what lets t19 filter-then-chunk in ONE pass — a
    * gate that dropped `text` would force a join-back, and the plan would
    * compute the upstream (at 100 TB: the whole dedup stage) twice, since
    * nothing guarantees exchange reuse across the two branches. */
  def gopherSignals(docs: DataFrame): DataFrame = {
    // ALL token-derived signals come from ONE codegen-capable native
    // expression (graft.functions.TokenStats): the former staged
    // token-ARRAY projection was CodegenFallback (lambda array ops), so
    // when predicate pushdown substituted the staged aliases into t19's
    // gate FILTER nothing de-duplicated the subtrees and the regex split
    // re-ran 8x per row — the pinned round-14 residual. token_stats is a
    // plain UnaryExpression with doGenCode, so the gate predicate joins
    // whole-stage codegen, where subexpression elimination evaluates it
    // once; no token array is ever materialized.
    val withSig = docs
      .withColumn("__ts", tokenStats(col("text")))
      .withColumn("__rs", repetitionStats(col("text")))
    val reason =
      when(col("__ts.n_tokens") < 5, "too_short")
        .when(col("__ts.n_tokens") > 5000, "too_long")
        .when(col("__ts.sum_tok_len") < col("__ts.n_tokens") * 2 ||
          col("__ts.sum_tok_len") > col("__ts.n_tokens") * 12, "bad_word_len")
        .when(col("__ts.n_punct") * 5 > col("__ts.n_chars"), "punct_heavy")
        .when(col("lang") === "en" && col("__ts.n_stop") * 100 < col("__ts.n_tokens"),
          "low_stopword")
        .when(col("__rs.dup_line_chars") * 10 > col("__rs.total_line_chars") * 3,
          "repetitive")
        .otherwise(lit(null).cast("string"))
    withSig.withColumn("reject_reason", reason)
      .drop("__ts", "__rs")
  }

  /** (doc_id, lang, keep, reject_reason) view of the gate — t16's shape. */
  def gopherCore(docs: DataFrame): DataFrame =
    gopherSignals(docs).select(col("doc_id"), col("lang"),
      col("reject_reason").isNull.as("keep"), col("reject_reason"))

  private val gopherFilterOracle =
    """WITH t AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                x -> len(x) > 0) AS toks,
      |    list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lines
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, lang,
      |    len(toks) AS n_tokens,
      |    length(text) AS n_chars,
      |    COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS sum_tok_len,
      |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
      |    len(list_filter(toks,
      |      x -> list_contains(['the','and','of','to','is','in'], x))) AS n_stop,
      |    COALESCE(list_sum(list_transform(lines,
      |      l -> CASE WHEN len(list_filter(lines, m -> m = l)) > 1
      |                THEN len(l) ELSE 0 END)), 0) AS dup_chars,
      |    COALESCE(list_sum(list_transform(lines, l -> len(l))), 0) AS total_chars
      |  FROM t),
      |r AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN n_tokens < 5 THEN 'too_short'
      |         WHEN n_tokens > 5000 THEN 'too_long'
      |         WHEN sum_tok_len < n_tokens * 2
      |              OR sum_tok_len > n_tokens * 12 THEN 'bad_word_len'
      |         WHEN n_punct * 5 > n_chars THEN 'punct_heavy'
      |         WHEN lang = 'en' AND n_stop * 100 < n_tokens THEN 'low_stopword'
      |         WHEN dup_chars * 10 > total_chars * 3 THEN 'repetitive'
      |         ELSE NULL END AS reject_reason
      |  FROM u)
      |SELECT doc_id, lang, reject_reason IS NULL AS keep, reject_reason
      |FROM r""".stripMargin

  /** Incremental dedup: dedup an INCOMING batch against an existing
    * corpus — the nightly-ingest shape (the full-corpus re-dedup of
    * t01/t09 is the backfill shape). Batch-internal dups collapse to the
    * min id, then an anti-join on the 64-bit exact key drops docs already
    * in the corpus. One shuffle each; at 100 TB the corpus side is the
    * persisted key index (bucketed on the key with `bucketBy` → the
    * anti-join co-locates), never a re-scan of raw text. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
    val corpusKeys = docs.where(col("doc_id") < 400)
      .select(Dedup.exactKey(col("text")).as("k")).distinct()
    Dedup.exactDedup(docs.where(col("doc_id") >= 400), "text", "doc_id")
      .withColumn("k", Dedup.exactKey(col("text")))
      .join(corpusKeys, Seq("k"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private val incrementalDedupOracle =
    """WITH inc AS (
      |  SELECT doc_id, lang, source,
      |         substring(sha256(lower(trim(text))), 1, 16) AS k
      |  FROM documents WHERE doc_id >= 400),
      |kept AS (
      |  SELECT doc_id, lang, source, k FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY k) AS mn FROM inc)
      |  WHERE doc_id = mn),
      |corp AS (
      |  SELECT DISTINCT substring(sha256(lower(trim(text))), 1, 16) AS k
      |  FROM documents WHERE doc_id < 400)
      |SELECT doc_id, lang, source FROM kept
      |WHERE k NOT IN (SELECT k FROM corp)""".stripMargin

  /** Bloom-gated incremental dedup — t17's semantics with the runtime
    * filter pointing the OTHER way from t31: here the small side is the
    * incoming batch and the big side is the persisted corpus key index
    * (billions of keys at 100 TB). t17's anti-join must flow every
    * corpus key into the exchange each night even though almost none
    * can match a given batch. The fix is the direction Spark's own
    * runtime join filters target — build the sketch over the SMALL
    * batch's keys, gate the corpus index scan with might_contain, and
    * let only corpus keys that might collide reach the anti-join.
    * Assembled explicitly (BloomFilterAggregate → ScalarSubquery →
    * BloomFilterMightContain) because the optimizer does not inject
    * runtime filters into this anti-join shape across the dedup window.
    *
    * Exactness argument, mirror-image of t31's: the bloom has no false
    * negatives, so every corpus key equal to some batch key passes the
    * gate — dropping a corpus key the gate rejects cannot change the
    * anti-join. False positives only admit extra corpus keys, which the
    * exact key equality then ignores. Gate is performance-only; output
    * is bit-identical to t17 and shares its oracle. The sketch rides
    * xxhash64(key) on both sides (keys are hex strings; the bloom wants
    * a long), while the join itself compares full keys. */
  def bloomIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    bloomIncrementalDedupSized(spark, sfDir, numBits = 1L << 20)

  /** numBits exposed for the saturated-sketch FP proof, as t31. */
  def bloomIncrementalDedupSized(spark: SparkSession, sfDir: String,
      numBits: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal => CatLit, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = scan(spark, sfDir, "documents")
    val batch = Dedup.exactDedup(docs.where(col("doc_id") >= 400), "text", "doc_id")
      .withColumn("k", Dedup.exactKey(col("text")))
    val sketch = batch.select(xxhash64(col("k")).as("kh")).distinct()
      .agg(B.column(new BloomFilterAggregate(B.expression(col("kh")),
        CatLit(100000L), CatLit(numBits)).toAggregateExpression()).as("bf"))
    val corpusKeys = docs.where(col("doc_id") < 400)
      .select(Dedup.exactKey(col("text")).as("k"))
      .where(B.column(BloomFilterMightContain(
        ScalarSubquery(sketch.queryExecution.analyzed),
        B.expression(xxhash64(col("k"))))))
      .distinct()
    batch.join(corpusKeys, Seq("k"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Edit-distance near-dup verify primitive: Levenshtein over 200-char
    * prefixes on a BOUNDED slice (30 docs + planted head-perturbed
    * copies) — the character-level metric that catches what token-set
    * Jaccard misses (transpositions, small head edits). Like t06/s05
    * this is the verify PRIMITIVE oracled on an all-pairs slice; at scale
    * it runs only on LSH candidate pairs (nearDupPairs supplies them).
    * Prefix-bounding keeps the DP cost O(200²) per pair instead of
    * O(|doc|²). */
  def editDistanceNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scan(spark, sfDir, "documents")
      .where(col("doc_id") < 30).select(col("doc_id"), col("text"))
    val pert = base.select((col("doc_id") + 1000000).as("doc_id"),
      concat(lit("zz "), col("text")).as("text"))
    // planted multibyte rows: byte-distance != codepoint-distance pairs
    // that make Spark's codepoint walk load-bearing (see PlantedFuzzy)
    val all = base.unionAll(pert).unionAll(PlantedFuzzy.df(spark))
    val a = all.select(col("doc_id").as("id_a"),
      substring(col("text"), 1, 200).as("ta"))
    val b = all.select(col("doc_id").as("id_b"),
      substring(col("text"), 1, 200).as("tb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .where(col("dist") <= 20)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // NOTE: DuckDB's levenshtein counts BYTES, Spark's counts codepoints —
  // equivalent on the pure-ASCII corpus, NOT on the planted multibyte
  // rows, which is the point: PlantedFuzzy.tcSql transcodes the closed
  // planted alphabet to single bytes so DuckDB's byte distance IS the
  // codepoint distance (identity on the ASCII corpus).
  private val editDistanceNearDupOracle = {
    val ta = PlantedFuzzy.tcSql("a.t"); val tb = PlantedFuzzy.tcSql("b.t")
    s"""WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 30),
      |all_docs AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'zz ' || text FROM base
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |  ${PlantedFuzzy.sqlValues}) pf(doc_id, text)),
      |p AS (SELECT doc_id AS id, substring(text, 1, 200) AS t FROM all_docs)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       CAST(levenshtein($ta, $tb) AS INTEGER) AS dist
      |FROM p a, p b
      |WHERE a.id < b.id AND levenshtein($ta, $tb) <= 20""".stripMargin
  }

  /** The nightly-ingest composition, FULLY oracled end-to-end (unlike the
    * seeded-LSH t09, every stage here is SQL-expressible): incoming batch
    * → exact incremental dedup vs the corpus (t17's shape) → Gopher
    * quality gate (t16's rules, inline as a column so the dedup stage is
    * computed ONCE — no join-back) → training chunks (t07's windows). The
    * plan is: two keyed shuffles (batch min-id window + corpus anti-join)
    * then pure narrow maps — the shape a real 100 TB nightly run wants. */
  def ingestPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
    val corpusKeys = docs.where(col("doc_id") < 400)
      .select(Dedup.exactKey(col("text")).as("k")).distinct()
    val fresh = Dedup.exactDedup(docs.where(col("doc_id") >= 400),
        "text", "doc_id")
      .withColumn("k", Dedup.exactKey(col("text")))
      .join(corpusKeys, Seq("k"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"))
    gopherSignals(fresh).where(col("reject_reason").isNull)
      .select(col("doc_id"), posexplode(TextOps.chunkWindows(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_no"),
        col("col").as("chunk"))
  }

  private val ingestPipelineOracle =
    """WITH inc AS (
      |  SELECT doc_id, lang, text,
      |         substring(sha256(lower(trim(text))), 1, 16) AS key
      |  FROM documents WHERE doc_id >= 400),
      |kept0 AS (
      |  SELECT doc_id, lang, text, key FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY key) AS mn FROM inc)
      |  WHERE doc_id = mn),
      |corp AS (
      |  SELECT DISTINCT substring(sha256(lower(trim(text))), 1, 16) AS key
      |  FROM documents WHERE doc_id < 400),
      |fresh AS (
      |  SELECT doc_id, lang, text FROM kept0
      |  WHERE key NOT IN (SELECT key FROM corp)),
      |t AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                x -> len(x) > 0) AS toks,
      |    list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lines
      |  FROM fresh),
      |u AS (
      |  SELECT doc_id, lang, text,
      |    len(toks) AS n_tokens,
      |    length(text) AS n_chars,
      |    COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS sum_tok_len,
      |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
      |    len(list_filter(toks,
      |      x -> list_contains(['the','and','of','to','is','in'], x))) AS n_stop,
      |    COALESCE(list_sum(list_transform(lines,
      |      l -> CASE WHEN len(list_filter(lines, m -> m = l)) > 1
      |                THEN len(l) ELSE 0 END)), 0) AS dup_chars,
      |    COALESCE(list_sum(list_transform(lines, l -> len(l))), 0) AS total_chars
      |  FROM t),
      |g AS (
      |  SELECT doc_id, text FROM u
      |  WHERE n_tokens BETWEEN 5 AND 5000
      |    AND sum_tok_len BETWEEN n_tokens * 2 AND n_tokens * 12
      |    AND n_punct * 5 <= n_chars
      |    AND NOT (lang = 'en' AND n_stop * 100 < n_tokens)
      |    AND dup_chars * 10 <= total_chars * 3),
      |c AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1,
      |           CAST(floor((greatest(length(text), 1) - 1) / 150) + 1 AS BIGINT))) AS i
      |  FROM g)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_no,
      |       substring(text, CAST(1 + (i - 1) * 150 AS BIGINT), 200) AS chunk
      |FROM c""".stripMargin

  /** Jaro-Winkler fuzzy-match verify primitive via the native
    * `jaro_winkler` expression: the transposition-tolerant metric for
    * short identifiers/titles where Jaccard (t06) and edit distance
    * (t18) misfire. Bounded slice + planted tail-perturbed copies;
    * DuckDB's independent jaro_winkler_similarity implementation is the
    * oracle (bit-identical IEEE evaluation, validated on 7k random
    * pairs). At scale this runs on LSH candidate pairs only. */
  def jaroNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scan(spark, sfDir, "documents")
      .where(col("doc_id") < 30)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
    val pert = base.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("t"), lit(" q")).as("t"))
    // planted multibyte rows through the same 60-char slice: a byte-based
    // JW would score their surviving pairs differently (see PlantedFuzzy)
    val planted = PlantedFuzzy.df(spark)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
    val all = base.unionAll(pert).unionAll(planted)
    val a = all.select(col("doc_id").as("id_a"), col("t").as("ta"))
    val b = all.select(col("doc_id").as("id_b"), col("t").as("tb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jw", jaroWinkler(col("ta"), col("tb")))
      .where(col("jw") >= 0.9)
      .select(col("id_a"), col("id_b"),
        col("jw").cast("decimal(28,6)").cast("double").as("jw"))
  }

  /** t29's corpus: documents ∪ tail-perturbed copies ∪ planted multibyte
    * rows — extracted so the independent recall probe
    * ([[graft.tools.RecallProbe]]) brute-forces ground truth over the
    * EXACT corpus the LSH pipeline sees (a drifted reconstruction would
    * make the recall check vacuous). */
  private[graft] def fuzzyCorpus(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val pert = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" fuzzy tail")).as("text"))
    // planted multibyte rows ride the full LSH->verify path: band-bucket
    // candidates, then codepoint Levenshtein/JW (see PlantedFuzzy)
    docs.unionAll(pert).unionAll(PlantedFuzzy.df(spark))
  }

  /** Candidates-fed fuzzy verify — the SCALE SHAPE of fuzzy dedup, closing
    * the gap the bounded-slice primitives (t18/t20) leave open: LSH
    * candidate generation ([[Dedup.minhashCandidates]] — a (band, bucket)
    * equi-join, never all-pairs) feeds the character-level verifiers
    * (prefix-bounded Levenshtein + Jaro-Winkler) over documents ∪
    * tail-perturbed copies. This is the composition that runs at 100 TB:
    * one narrow signature pass, one band-bucket shuffle of fixed-width
    * hashes, then the edit-distance DP on CANDIDATE pairs only — the
    * THRESHOLD-BOUNDED `levenshtein(a, b, 20)` form, whose banded
    * O(k·n) DP and internal length-gap early exit replace the external
    * LevenshteinPrefilter guard (t18 keeps the 2-arg + rule shape as
    * that rule's demonstration site; here the bound cut the sf0.1 verify
    * 53.9 → 4.2 s for identical survivors) — and the adaptive
    * exact-collapse routing (byte-identity key — see
    * [[Dedup.collapseExpand]]) bounding the DP to DISTINCT texts on
    * duplicate-heavy corpora. Dump-time VALUES oracle
    * (HashOracles): band buckets embedded, DuckDB recomputes the candidate
    * join, both fuzzy metrics, the threshold, and the rounding
    * independently. The byte-vs-codepoint caveat is load-bearing here:
    * planted multibyte rows ([[PlantedFuzzy]]) ride the full path and
    * the oracle transcodes them to codepoint semantics. */
  def fuzzyNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    HashOracles.record(spark, sfDir)
    // No LevenshteinPrefilter.install here: the rule explicitly skips the
    // 3-arg threshold-bounded form t29 uses (threshold.isEmpty guard), so
    // installing it would be vestigial — the bound and its length-gap
    // early exit live inside the expression itself. t18 remains the
    // rule's demonstration site on the 2-arg form.
    val all = fuzzyCorpus(spark, sfDir)
    // LSH candidates -> fuzzy verify, the composition's flat form. On a
    // duplicate-heavy corpus the candidate set grows with duplication²
    // per distinct text and every surviving pair pays the O(200²)
    // Levenshtein DP — the ×10-hot axis measured exactly that blowup
    // (single verify task grinding for 15+ min), so the composition
    // routes through the same adaptive exact-collapse harness as
    // s03/s04, keyed on byte-identity (`Identity.RawText`, whose scaladoc
    // says why). Intra pairs of byte-identical texts are always flat
    // candidates (identical signatures band together) with dist = 0,
    // jw = 1.0 exactly — the degenerate payload the collapse injects.
    def fuzzyVerify(d: DataFrame, textCol: String, idCol: String)
        : DataFrame = {
      // spread the narrow candidate table across cores before the DP:
      // AQE's byte-based coalescing would run the whole banded-Levenshtein
      // verify on one task (CoreOps.cpuSpread scaladoc; measured 8.7->2.0 s
      // at sf0.1)
      val cands = cpuSpread(
        Dedup.minhashCandidates(d, textCol, idCol))
      val p = d.select(col(idCol).as("id"),
        substring(col(textCol), 1, 200).as("t"))
      cands
        .join(p.as("pa"), col("id_a") === col("pa.id"))
        .join(p.as("pb"), col("id_b") === col("pb.id"))
        // The THRESHOLD-BOUNDED form: banded O(k·n) DP with an internal
        // length-gap early exit (returns -1 past the bound), vs the full
        // O(n²) DP of the 2-arg form. Survivor rows carry the exact
        // distance either way, so `>= 0` here ≡ 2-arg + `<= 20` — but the
        // bench measured 53.9 s vs 4.2 s for the same 6019 survivors over
        // 164k sf0.1 candidate pairs. t18 keeps the 2-arg form + the
        // LevenshteinPrefilter rule as the demonstration site of the
        // external guard; here the bound (and its gap check) lives inside
        // the expression itself, which PlanAuditSpec pins.
        .withColumn("dist", levenshtein(col("pa.t"), col("pb.t"), 20))
        .where(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"),
          jaroWinkler(col("pa.t"), col("pb.t"))
            .cast("decimal(28,6)").cast("double").as("jw"))
    }
    Dedup.collapseExpand(all, "text", "doc_id", Dedup.Identity.RawText,
      reps => fuzzyVerify(reps, "__text", "id"),
      () => fuzzyVerify(all, "text", "doc_id"),
      intra = (pairs, _) => pairs.select(col("id_a"), col("id_b"),
        lit(0).as("dist"), lit(1.0).as("jw")))
  }

  /** Sequence packing — the last pre-training step: concatenate chunks
    * and cut every `budget` tokens (GPT-style packing; sequences fill
    * the context window, chunks may straddle a cut). Deterministic and
    * shard-parallel: docs hash into 32 packer shards, a windowed
    * cumulative token count within each shard (total order by doc_id,
    * chunk_no) assigns every chunk its pack id and token offset —
    * integer-only arithmetic, so bit-identical on any engine and any
    * partitioning. One shuffle on shard; at 100 TB raise the shard
    * count, the shape is unchanged (packs are shard-local by design —
    * packers on a real cluster are independent workers).
    *
    * Budgets count TRAINED BPE tokens (r16): the `bpe_doc_count` scalar
    * sums the per-word merge fixpoint over each chunk in the same
    * codegen'd scan-side map the proxy ran in — no join, no extra
    * shuffle, the merge table rides the task closure. */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedBpe(spark, sfDir)
    packLayout(
      scan(spark, sfDir, "documents")
        .select(col("doc_id"), posexplode(TextOps.chunkWindows(col("text"))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_no"),
          col("col").as("chunk")),
      shards = 32, budget = 256,
      nTok = bpeDocCount(col("chunk"), merges))
  }

  /** The shard-local packing core behind [[sequencePack]], public and
    * shard-count-parameterized so the 100 TB story is PINNED rather than
    * narrated: packs are computed independently per shard (the window
    * never crosses shards), so raising `shards` changes parallelism
    * only — the layout invariants are shard-count-independent, and each
    * shard produces exactly floor((shardTokens − lastChunkTokens) /
    * budget) + 1 packs (a chunk belongs to the pack of its START offset,
    * so a chunk straddling a cut makes its pack carry MORE than `budget`
    * tokens — the total pack count can therefore dip below
    * ceil(totalTokens/budget), bounded below by
    * ceil(totalTokens/(budget + maxChunkTokens − 1)), and never exceeds
    * it by more than one partial tail pack per shard).
    * `SequencePackSpec` asserts the identity and both bounds at 32 and
    * 128 shards. Input: (doc_id, chunk_no, chunk). The token counter is
    * a parameter (layout invariants are counter-independent; specs use
    * the default proxy, [[sequencePack]] passes the TRAINED `bpe_doc_
    * count` — r15 verdict: budget decisions are made in real tokenizer
    * units). */
  def packLayout(chunks: DataFrame, shards: Int, budget: Int,
                 nTok: org.apache.spark.sql.Column =
                   TextOps.bpeishTokenCount(col("chunk"))): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"), col("chunk_no"))
    chunks
      // long: bpe_doc_count is LongType (document sums are unbounded);
      // the proxy counter is cast up so the layout schema is
      // counter-independent (specs run the proxy, t24 the trained scalar)
      .withColumn("n_tok", nTok.cast("long"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards)).cast("int"))
      .withColumn("cum_after", sum(col("n_tok")).over(w))
      .select(col("shard"), col("doc_id"), col("chunk_no"), col("n_tok"),
        ((col("cum_after") - col("n_tok")) / budget).cast("int").as("pack_id"),
        ((col("cum_after") - col("n_tok")) % budget).cast("int")
          .as("tok_offset"))
  }

  /** DuckDB twin of t24 (dump-time: embeds the trained merges): same
    * chunk layout, per-chunk trained-BPE counts via the shared fixpoint
    * over the distinct chunk-word vocabulary (a chunk with no words —
    * all punctuation — counts 0 via the LEFT JOIN), same shard-local
    * cumulative arithmetic. */
  private def sequencePackOracle: String =
    """WITH RECURSIVE @MERGES,
      |c AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1,
      |           CAST(floor((greatest(length(text), 1) - 1) / 150) + 1 AS BIGINT))) AS i
      |  FROM documents),
      |ch AS (
      |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_no,
      |         substring(text, CAST(1 + (i - 1) * 150 AS BIGINT), 200) AS chunk
      |  FROM c),
      |cw AS (
      |  SELECT doc_id, chunk_no,
      |         unnest(regexp_split_to_array(lower(chunk), '[^a-z0-9'']+')) AS w
      |  FROM ch),
      |wcc AS (SELECT doc_id, chunk_no, w, count(*) AS cnt FROM cw
      |        WHERE w <> '' GROUP BY 1, 2, 3),
      |v AS (SELECT DISTINCT w FROM wcc),
      |@FIXPOINT,
      |tok AS (
      |  SELECT doc_id, chunk_no,
      |         CAST(sum(wcc.cnt * d.ntok) AS BIGINT) AS n_tok
      |  FROM wcc JOIN done d ON d.w = wcc.w GROUP BY 1, 2),
      |t AS (
      |  SELECT ch.doc_id, ch.chunk_no,
      |         CAST(coalesce(tok.n_tok, 0) AS BIGINT) AS n_tok,
      |         CAST(ch.doc_id % 32 AS INTEGER) AS shard
      |  FROM ch LEFT JOIN tok USING (doc_id, chunk_no)),
      |s AS (
      |  SELECT shard, doc_id, chunk_no, n_tok,
      |         SUM(n_tok) OVER (PARTITION BY shard
      |                          ORDER BY doc_id, chunk_no) AS cum_after
      |  FROM t)
      |SELECT shard, doc_id, chunk_no, n_tok,
      |       CAST((cum_after - n_tok) // 256 AS INTEGER) AS pack_id,
      |       CAST((cum_after - n_tok) % 256 AS INTEGER) AS tok_offset
      |FROM s""".stripMargin
      .replace("@MERGES", bpeMergesCte("t24"))
      .replace("@FIXPOINT", bpeFixpointCtes)

  /** Benchmark decontamination — the training-pipeline gate every eval
    * suite demands: drop any corpus document sharing a long character
    * n-gram (20 chars ≈ a 13-token span on these corpora) with the eval
    * set. The 100 TB shape is asymmetric by construction: eval sets are
    * small (benchmarks are KBs), so their distinct gram set BROADCASTS
    * and the corpus pays one narrow explode + a broadcast semi-probe +
    * a keyed anti-join — no shuffle of corpus text, ever. Grams are
    * hashed by the native GramHashes(k=20) expression (one zero-alloc
    * byte pass per doc, 8 B broadcast entries instead of 20-char string
    * copies — the s03 verify-side machinery reused); the oracle joins on
    * the strings themselves, so the hash path is verified against the
    * string semantics (identical modulo 64-bit collisions, the s03
    * argument).
    *
    * Eval slice: doc_id % 97 == 0 AND doc_id < 1e6 — the id cap is what
    * keeps the broadcast contract honest at scale: benchmarks are
    * FIXED-size while the corpus grows, so on a ScaleUp world (replica
    * ids shifted by 1e9) the eval set stays the replica-0 slice instead
    * of growing as 1/97th of the corpus into an unbroadcastable side. A
    * real deployment passes a fixed benchmark table here. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = scan(spark, sfDir, "documents")
    val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 1000000L
    val eval = docs.where(isEval)
    val corpus = docs.where(!isEval)
    val evalGrams = eval
      .select(explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .distinct()
    val hits = corpus
      .select(col("doc_id"),
        explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .join(broadcast(evalGrams), "gh")
      .select(col("doc_id")).distinct()
    corpus.join(hits, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  private val decontaminateOracle =
    """WITH ev AS (
      |  SELECT lower(trim(text)) AS t FROM documents
      |  WHERE doc_id % 97 = 0 AND doc_id < 1000000),
      |corpus AS (
      |  SELECT doc_id, source, n_chars, lower(trim(text)) AS t
      |  FROM documents WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)),
      |eg AS (
      |  SELECT DISTINCT unnest(list_transform(
      |    generate_series(1, greatest(length(t) - 19, 1)),
      |    i -> substring(t, CAST(i AS BIGINT), 20))) AS g
      |  FROM ev),
      |cg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(length(t) - 19, 1)),
      |    i -> substring(t, CAST(i AS BIGINT), 20))) AS g
      |  FROM corpus),
      |hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g))
      |SELECT doc_id, source, n_chars FROM corpus
      |WHERE doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin

  /** Threshold contamination scoring — the GPT-3-appendix convention
    * (flag a training doc only when ≥ M distinct eval n-grams occur in
    * it, not on a single collision) in the join form that survives a
    * reference set too big to broadcast. t21 is the small-eval-set
    * shape: eval grams broadcast, corpus stream-probes them. When the
    * reference side is itself corpus-scale (a prior epoch, a union of
    * benchmarks, a licensing blocklist), the broadcast is impossible and
    * the honest 100 TB plan is a SHUFFLED gram join: distinct
    * (doc, gram-hash) pairs equi-join the distinct reference grams —
    * both sides partition on the gram hash, fixed-width keys only, text
    * never rides the shuffle — then a per-doc count compares against the
    * threshold. The `shuffle_hash` hint pins the no-broadcast shape at
    * harness SF (where the eval set is small enough that AQE would
    * broadcast it); PlanAuditSpec asserts no BroadcastHashJoin reaches
    * the gram join. Output keeps EVERY corpus doc with its distinct-hit
    * count and keep flag, so the same result drives either a hard filter
    * or a contamination report. DuckDB oracle recomputes with string
    * grams (identical modulo 64-bit hash collisions, as t21). */
  def contaminationScore(spark: SparkSession, sfDir: String): DataFrame = {
    // spread the under-split scan: the k=20 gram pass is the expensive
    // stage and runs scan-side (CoreOps.spreadSmallScan; measured
    // 1.71 -> 1.24 s min-of-5 at sf0.1)
    val docs = spreadSmallScan(scan(spark, sfDir, "documents"))
    val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 1000000L
    val evalGrams = docs.where(isEval)
      .select(explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .distinct()
    val corpus = docs.where(!isEval)
    val hits = corpus
      .select(col("doc_id"),
        explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .distinct() // distinct (doc, gram): a gram repeated IN a doc is 1 hit
      .join(evalGrams.hint("shuffle_hash"), "gh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    corpus.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) < 3).cast("int")
          .as("keep_flag"))
  }

  private val contaminationScoreOracle =
    """WITH ev AS (
      |  SELECT lower(trim(text)) AS t FROM documents
      |  WHERE doc_id % 97 = 0 AND doc_id < 1000000),
      |corpus AS (
      |  SELECT doc_id, source, lower(trim(text)) AS t
      |  FROM documents WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)),
      |eg AS (
      |  SELECT DISTINCT unnest(list_transform(
      |    generate_series(1, greatest(length(t) - 19, 1)),
      |    i -> substring(t, CAST(i AS BIGINT), 20))) AS g
      |  FROM ev),
      |cg AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, greatest(length(t) - 19, 1)),
      |      i -> substring(t, CAST(i AS BIGINT), 20))) AS g
      |    FROM corpus)),
      |hits AS (
      |  SELECT cg.doc_id, count(*) AS n FROM cg JOIN eg USING (g)
      |  GROUP BY 1)
      |SELECT c.doc_id, c.source,
      |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_grams,
      |       CASE WHEN coalesce(h.n, 0) < 3 THEN 1 ELSE 0 END AS keep_flag
      |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Bloom-gated contamination scoring — t30's semantics (GPT-3-style
    * >= 3 distinct-gram threshold, every corpus doc kept with its count
    * and keep flag) behind a fixed-size sketch gate. t30's honest
    * no-broadcast plan still pays one giant shuffle: the distinct over
    * ALL corpus (doc, gram) pairs. At 100 TB that distinct dominates the
    * job even though almost every gram is clean. The classic fix is a
    * Bloom filter over the reference grams — a FIXED-size bit array
    * (here 2^20 bits = 128 KiB; size it for the reference cardinality,
    * not the corpus) that gates pairs in the map stage, BEFORE any
    * exchange, so the distinct + the exact-verify join only ever see the
    * true hits plus a bounded false-positive trickle. False positives
    * are then removed exactly by the same shuffled gram join t30 runs —
    * the gate is a performance device, never a semantics device — so
    * the output is bit-identical to t30 and shares its DuckDB oracle.
    *
    * Spark-first construction: the sketch is built by Spark's own
    * BloomFilterAggregate (distributed partial puts, tree-merged) and
    * delivered to the probe side as a ScalarSubquery feeding
    * BloomFilterMightContain — the exact expression pair Spark's
    * InjectRuntimeFilter emits for runtime join pruning, assembled
    * explicitly because the optimizer cannot infer it across the
    * explode. The driver never touches data: the sketch rides the plan
    * as a subquery result, not a collect. Gate order is load-bearing
    * and plan-pinned: filter-then-distinct equals distinct-then-filter
    * because might_contain is deterministic per gram, but only the
    * former keeps corpus-scale rows out of the exchange. */
  def bloomContamination(spark: SparkSession, sfDir: String): DataFrame =
    bloomContaminationSized(spark, sfDir, numBits = 1L << 20)

  /** numBits is exposed for the FP-removal proof only: the honest 2^20
    * sketch yields ZERO false positives at harness SF (measured — the
    * r14 trust-the-bloom mutant survived the sf0.01 value oracle), so
    * BloomContaminationSaturatedSpec drives a deliberately saturated
    * 64-bit sketch (every gram passes the gate) and asserts the output
    * still equals t30 — which is only true if the exact verify join is
    * doing its job. Production callers size for the reference set. */
  def bloomContaminationSized(spark: SparkSession, sfDir: String,
      numBits: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal => CatLit, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val B = org.apache.spark.sql.graftbridge.ColumnBridge
    // NO scan spread here, unlike t30: the sketch gate kills almost every
    // gram in the map stage, so the scan-side work left is too light to
    // repay the spread exchange (A/B min-of-5: 0.87 s flat vs 1.34 s
    // spread)
    val docs = scan(spark, sfDir, "documents")
    val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 1000000L
    val evalGrams = docs.where(isEval)
      .select(explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .distinct()
    // Fixed-size sketch sized for the reference-set cardinality (1e5
    // items / 2^20 bits; measured ZERO false positives at harness SF —
    // the FP-removal join is therefore proven by the saturated-sketch
    // spec, not the value oracle). The subquery output is the
    // serialized filter: one 128 KiB binary scalar, independent of
    // data scale.
    val sketch = evalGrams.agg(B.column(
      new BloomFilterAggregate(B.expression(col("gh")),
        CatLit(100000L), CatLit(numBits)).toAggregateExpression()).as("bf"))
    val corpus = docs.where(!isEval)
    val gated = corpus
      .select(col("doc_id"),
        explode(gramHashes(lower(trim(col("text"))), k = 20)).as("gh"))
      .where(B.column(BloomFilterMightContain(
        ScalarSubquery(sketch.queryExecution.analyzed),
        B.expression(col("gh")))))
    val hits = gated
      .distinct() // distinct (doc, gram) — now candidates-only, not corpus-wide
      .join(evalGrams.hint("shuffle_hash"), "gh") // exact FP removal, t30's join
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    corpus.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) < 3).cast("int")
          .as("keep_flag"))
  }

  /** Per-source quota sampling — the C4/Dolma-style cap that stops one
    * crawl domain from dominating the corpus: keep at most 10 docs per
    * source, chosen by a deterministic LCG key (same docs on any cluster
    * size, any partitioning, any engine — never rand()). One shuffle on
    * source + a window rank; integer-exact ordering with a doc_id
    * tie-break, so ranks are engine-independent. A pathologically hot
    * source makes this window the skew point — at 100 TB pre-filter with
    * an approximate per-source count and the documented salting pattern
    * before ranking the survivors. */
  def sourceQuota(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(pmod(col("doc_id") * 48271, lit(97)), col("doc_id"))
    scan(spark, sfDir, "documents")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("source"), col("rk"), col("doc_id"))
  }

  private val sourceQuotaOracle =
    """SELECT source, rk, doc_id FROM (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY (doc_id * 48271) % 97, doc_id) AS rk
      |  FROM documents) WHERE rk <= 10""".stripMargin

  /** Unigram-LM quality score — the statistical stand-in for the KenLM
    * perplexity filter real pipelines run (CCNet-style): per document,
    * the mean negative log-probability of its tokens under the corpus's
    * own unigram distribution. Gibberish and boilerplate score high.
    *
    * The 100 TB shape: one token explode feeds BOTH the term-frequency
    * aggregate (map-side combined) and the per-doc pass; the corpus
    * total joins in as a broadcast 1-row aggregate (never a driver-side
    * count baked into the plan). Per the repo's determinism discipline,
    * each -ln(p) addend is widened to DECIMAL(38,18) before SUM —
    * double addition is order-dependent across partitionings, decimal
    * addition is exact — and the mean divides in double at the end
    * (s08's pattern; ln itself is bit-identical across Spark and DuckDB
    * on this box, the t11 precedent). */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    // One tokenize, one shuffle: the naive form referenced the exploded
    // token table three times (freq groupBy, global total, join probe),
    // and each reference re-scanned and re-tokenized the corpus — three
    // full tokenization passes at 100 TB. The term-keyed repartition ends
    // all three lineages at ONE identical Exchange (AQE stage reuse, the
    // s16 pattern), the groupBy and the term join both consume it with
    // their distribution already satisfied, and the global total becomes
    // a sum over the tiny term table instead of a third corpus pass.
    val toks = scan(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokensOf(col("text"))).as("term"))
      .repartition(col("term"))
    // tf counts doc_id (non-null by the repo-wide contract) rather than
    // lit(1) ON PURPOSE: count(*) would let column pruning strip doc_id
    // below freq's copy of the exchange, the two subtrees would stop
    // being sameResult, and the stage reuse above would silently vanish
    // (measured: two full tokenization lineages instead of one).
    val freq = toks.groupBy(col("term")).agg(count(col("doc_id")).as("tf"))
    // coalesce: sum returns NULL (not 0) over an empty term table, which
    // would NULL-poison every logprob on a degenerate token-free corpus;
    // the DuckDB oracle's count(*) form yields 0 there (r14 ADVICE).
    val total = freq.agg(
      coalesce(sum(col("tf")), lit(0L)).cast("long").as("n_total"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        (sum((-log(col("tf").cast("double") / col("n_total").cast("double")))
          .cast("decimal(38,18)")).cast("double") / count(lit(1)))
          .as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        col("nll").cast("decimal(28,6)").cast("double").as("nll"))
  }

  private val unigramLogprobOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                            x -> len(x) > 0)) AS term
      |  FROM documents),
      |freq AS (SELECT term, count(*) AS tf FROM tok GROUP BY 1),
      |tot AS (SELECT count(*) AS n_total FROM tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(CAST(CAST(SUM(CAST(-ln(CAST(tf AS DOUBLE) / CAST(n_total AS DOUBLE))
      |                            AS DECIMAL(38,18))) AS DOUBLE) / count(*)
      |            AS DECIMAL(28,6)) AS DOUBLE) AS nll
      |FROM tok JOIN freq USING (term), tot
      |GROUP BY doc_id""".stripMargin

  /** Bigram-LM quality score — t23's conditional successor (the KenLM
    * perplexity filter one order up): per document, the mean negative
    * log-probability of each token given its predecessor under the
    * corpus's own bigram MLE, `P(w2|w1) = c(w1,w2) / c(w1,·)`. Unigram
    * scoring (t23) can't see scrambled word order; conditional scoring
    * can — boilerplate and copy-paste text score low, shuffled or
    * gibberish transitions score high. Documents with fewer than two
    * tokens have no transitions and are excluded (matching the oracle's
    * `len >= 2` gate).
    *
    * The 100 TB shape, t23's single-exchange pattern one key wider: the
    * bigram stream is built NARROWLY from the staged token array
    * (`slice` + `arrays_zip` — ordinary codegen'd expressions, not
    * lambda array functions, so the staging projection stays inside
    * WSCG), exploded once, and parked at ONE (w1,w2)-keyed Exchange that
    * both consumers reuse: the bigram-frequency aggregate and the
    * per-occurrence probability probe (AQE stage reuse, sameResult by
    * construction). The context denominator `c(w1,·)` is NOT a third
    * corpus pass — it re-aggregates the (vocabulary²-sized) frequency
    * table and joins it back to that table, so only vocabulary-scale
    * rows shuffle twice; corpus-scale rows shuffle exactly once. Each
    * −ln(p) addend widens to DECIMAL(38,18) before SUM (double addition
    * is order-dependent across partitionings; decimal is exact), and the
    * mean divides in double at the end — the t23/s08 determinism
    * discipline. */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame =
    bigramLayout(scan(spark, sfDir, "documents"))

  /** The (doc_id, w1, w2) bigram occurrence stream parked at ONE
    * (w1, w2)-keyed Exchange — the staging shared by t34 (MLE) and t43
    * (Kneser-Ney); every consumer lineage re-enters through this one
    * exchange (AQE stage reuse, sameResult by construction). */
  private def bigramStream(docs: DataFrame): DataFrame = {
    // No explicit >=2-token filter: it would be pushed below the staging
    // projection with tokens_of inlined into the Filter (a second
    // tokenization per row — WSCG does not eliminate subexpressions
    // ACROSS operators). Short docs vanish naturally at the non-outer
    // explode of their empty bigram array; greatest(n-1, 0) keeps the
    // slice length legal for 0-token docs.
    val n = size(col("ts"))
    val bgLen = greatest(n - 1, lit(0))
    docs
      .select(col("doc_id"), tokensOf(col("text")).as("ts"))
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ts"), lit(1), bgLen),
        slice(col("ts"), lit(2), bgLen))).as("b"))
      // arrays_zip pads unequal arrays with null, so the struct fields
      // type as nullable even though both slices are provably n-1 long;
      // coalesce to '' (never a token — empties are dropped) restores
      // non-nullability so the probe join can't grow an isnotnull Filter
      // the aggregate side lacks, which would break the sameResult stage
      // reuse below (the t11/t25 precedent).
      .select(col("doc_id"),
        coalesce(col("b.0"), lit("")).as("w1"),
        coalesce(col("b.1"), lit("")).as("w2"))
      .repartition(col("w1"), col("w2"))
  }

  /** The scoring core behind [[bigramLogprob]], public for specs: input
    * (doc_id, text), output (doc_id, n_bigrams, nll). */
  def bigramLayout(docs: DataFrame): DataFrame = {
    val bg = bigramStream(docs)
    // count(doc_id), not count(*): keeps the aggregate subtree's input
    // columns identical to the probe side's so the two lineages stay
    // sameResult and land on one Exchange (the t23 pruning trap).
    val bfreq = bg.groupBy(col("w1"), col("w2"))
      .agg(count(col("doc_id")).as("bc"))
    val probs = bfreq.join(
      bfreq.groupBy(col("w1")).agg(sum(col("bc")).as("cc")), Seq("w1"))
    bg.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        (sum((-log(col("bc").cast("double") / col("cc").cast("double")))
          .cast("decimal(38,18)")).cast("double") / count(lit(1)))
          .as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        col("nll").cast("decimal(28,6)").cast("double").as("nll"))
  }

  private val bigramLogprobOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(ts[1:len(ts)-1]) AS w1,
      |         unnest(ts[2:len(ts)]) AS w2
      |  FROM tok WHERE len(ts) >= 2),
      |bfreq AS (SELECT w1, w2, count(*) AS bc FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, sum(bc) AS cc FROM bfreq GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(CAST(SUM(CAST(-ln(CAST(bc AS DOUBLE) / CAST(cc AS DOUBLE))
      |                            AS DECIMAL(38,18))) AS DOUBLE) / count(*)
      |            AS DECIMAL(28,6)) AS DOUBLE) AS nll
      |FROM bg JOIN bfreq USING (w1, w2) JOIN ctx USING (w1)
      |GROUP BY doc_id""".stripMargin

  /** Content-defined chunking + chunk-level dedup (the rsync/LBFS
    * rolling-boundary idea, e.g. Muthitacharoen et al. 2001, applied to
    * token streams): a chunk boundary falls after any token whose
    * trailing trigram hashes to 0 mod `mask` — so boundaries are a
    * function of CONTENT, not position, and an insertion early in a
    * document only perturbs the chunk it lands in; every later chunk
    * re-aligns and still dedups against other documents (fixed-size
    * chunking loses all alignment after one shift). Output: one row per
    * distinct chunk with its corpus-wide copy count and min-doc survivor
    * — t01's exact-dedup contract at sub-document granularity.
    *
    * The 100 TB shape: ONE doc-keyed exchange total for the stateful
    * part — the boundary lags and the running chunk counter are two
    * stacked WindowExecs over the same (doc_id, pos) sort (t24's
    * shard-cumsum precedent; partitions are doc-sized), and the chunk
    * assembly groupBy(doc_id, chunk) is satisfied by the same
    * partitioning (subset clustering keys — no second corpus exchange).
    * Only narrow (chunk_hash, n_toks, doc_id) rows reach the final
    * dedup shuffle. Boundary hash = first 32 md5 bits of the prefixed
    * trigram (t33's engine-portable hex idiom); chunk identity =
    * 64-bit sha256 prefix (t01's exactKey arithmetic). */
  def cdcChunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    cdcLayout(scan(spark, sfDir, "documents"), mask = 8)

  /** The chunking core behind [[cdcChunkDedup]], public for specs:
    * input (doc_id, text), output (chunk_hash, n_tokens, n_copies,
    * keep_doc). Expected chunk length ≈ `mask` tokens. */
  def cdcLayout(docs: DataFrame, mask: Int): DataFrame = {
    require(mask >= 2, s"mask must be >= 2, got $mask")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // explicit doc_id-keyed spread, not the planner's ENSURE_REQUIREMENTS
    // exchange: AQE coalesces the few-MB token stream to one task and the
    // per-token md5 boundary hash then runs single-core
    // (CoreOps.spreadByKeys scaladoc; the window/groupBy clustering below
    // is satisfied by this same exchange, so the count is unchanged: one
    // doc-keyed exchange total)
    val pe = graft.ops.CoreOps.spreadByKeys(
      docs.select(col("doc_id"),
        posexplode(tokensOf(col("text"))).as(Seq("pos", "tok"))),
      col("doc_id"))
    val gram = concat(lit("cdc:"), concat_ws(" ",
      lag(col("tok"), 2).over(w), lag(col("tok"), 1).over(w), col("tok")))
    // pos >= 2 guards the partial grams at a doc's head (concat_ws drops
    // the null lags there, which would otherwise hash a 1-2 token gram)
    val b = when(col("pos") >= 2 &&
        pmod(conv(substring(md5(gram.cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(mask.toLong)) === 0, 1)
      .otherwise(0)
    // boundary token CLOSES its chunk: chunk(pos) counts boundaries
    // strictly before pos (second WindowExec on the same sort — no
    // extra exchange)
    val chunked = pe.withColumn("b", b)
      .withColumn("chunk", coalesce(sum(col("b")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
    val chunks = chunked.groupBy(col("doc_id"), col("chunk"))
      .agg(
        substring(sha2(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))), 256), 1, 16).as("chunk_hash"),
        count(lit(1)).as("n_toks"))
    chunks.groupBy(col("chunk_hash"))
      .agg(min(col("n_toks")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keep_doc"))
  }

  private val cdcChunkDedupOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS ts
      |  FROM documents),
      |pe AS (
      |  SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts)+1)) AS pos
      |  FROM tok),
      |g AS (
      |  SELECT doc_id, pos, tok,
      |         CASE WHEN pos >= 3 AND
      |                   ('0x' || substr(md5('cdc:' || lag(tok, 2) OVER w || ' ' ||
      |                                        lag(tok, 1) OVER w || ' ' || tok), 1, 8))::BIGINT % 8 = 0
      |              THEN 1 ELSE 0 END AS b
      |  FROM pe WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |c AS (
      |  SELECT doc_id, pos, tok,
      |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      |  FROM g),
      |ch AS (
      |  SELECT doc_id, chunk,
      |         substr(sha256(string_agg(tok, ' ' ORDER BY pos)), 1, 16) AS chunk_hash,
      |         count(*) AS n_toks
      |  FROM c GROUP BY 1, 2)
      |SELECT chunk_hash, CAST(min(n_toks) AS BIGINT) AS n_tokens,
      |       count(*) AS n_copies, min(doc_id) AS keep_doc
      |FROM ch GROUP BY 1""".stripMargin

  /** DSIR-style importance scoring for domain-targeted data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling", simplified to unigram LMs): score every
    * document by the mean per-token log-likelihood RATIO between a
    * target-domain LM and the general-corpus LM, both estimated from
    * the corpus itself with add-1 smoothing over the corpus vocabulary;
    * keep the top-k. Here the "target domain" is the src0/src1 slice —
    * in production it is the high-quality reference corpus (Wikipedia,
    * books) and this query is the selection pass over the crawl.
    *
    * The 100 TB shape (t23's single-exchange pattern with both LMs in
    * ONE aggregate): the token stream carries (doc_id, source, term)
    * and parks at one term-keyed Exchange; the frequency aggregate
    * computes corpus count AND target count per term in one pass
    * (`count + conditional sum` — not two filtered aggregations over
    * two corpus reads), and the per-doc probe reuses the same exchange
    * (both subtrees reference all three columns, so column pruning
    * cannot de-unify them — the t23 trap). Totals are a 1-row broadcast
    * off the vocabulary-sized table; λ_w joins back vocabulary-scale.
    * Per-token λ addends widen to DECIMAL(38,18) before SUM (the
    * determinism discipline); selection orders by the ROUNDED score
    * with a doc_id tie-break, so the top-k boundary is engine-stable,
    * and executes as TakeOrderedAndProject (no global sort). */
  def dsirSelection(spark: SparkSession, sfDir: String): DataFrame =
    dsirLayout(scan(spark, sfDir, "documents"),
      targetSources = Seq("src0", "src1"), k = 100)

  /** The scoring core behind [[dsirSelection]], public for specs: input
    * (doc_id, source, text), output top-k (doc_id, n_tokens,
    * dsir_score). */
  def dsirLayout(docs: DataFrame, targetSources: Seq[String],
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(tokensOf(col("text"))).as("term"))
      .repartition(col("term"))
    val tf = toks.groupBy(col("term")).agg(
      count(col("doc_id")).as("cf"),
      sum(when(col("source").isInCollection(targetSources), 1L)
        .otherwise(0L)).as("tft"))
    val tot = tf.agg(
      coalesce(sum(col("cf")), lit(0L)).cast("long").as("c_total"),
      coalesce(sum(col("tft")), lit(0L)).cast("long").as("t_total"),
      count(lit(1)).cast("long").as("v"))
    val lam = tf.crossJoin(broadcast(tot)).select(col("term"),
      (log((col("tft") + 1L).cast("double") /
           (col("t_total") + col("v")).cast("double")) -
       log((col("cf") + 1L).cast("double") /
           (col("c_total") + col("v")).cast("double"))).as("lw"))
    toks.join(lam, Seq("term"))
      // count(source), not count(*): keeps the probe subtree's input
      // columns identical to the aggregate side's (doc_id, source, term)
      // so both lineages stay sameResult on ONE exchange
      .groupBy(col("doc_id"))
      .agg(count(col("source")).cast("long").as("n_tokens"),
        (sum(col("lw").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("score"))
      .select(col("doc_id"), col("n_tokens"),
        col("score").cast("decimal(28,6)").cast("double").as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(k)
  }

  private val dsirSelectionOracle =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                            x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT term, count(*) AS cf,
      |         count(*) FILTER (WHERE source IN ('src0', 'src1')) AS tft
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT sum(cf) AS c_total, sum(tft) AS t_total, count(*) AS v
      |        FROM tf),
      |lam AS (
      |  SELECT term,
      |         ln(CAST(tft + 1 AS DOUBLE) / CAST(t_total + v AS DOUBLE))
      |         - ln(CAST(cf + 1 AS DOUBLE) / CAST(c_total + v AS DOUBLE)) AS lw
      |  FROM tf, tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(CAST(CAST(SUM(CAST(lw AS DECIMAL(38,18))) AS DOUBLE) / count(*)
      |            AS DECIMAL(28,6)) AS DOUBLE) AS dsir_score
      |FROM tok JOIN lam USING (term)
      |GROUP BY doc_id
      |ORDER BY dsir_score DESC, doc_id
      |LIMIT 100""".stripMargin

  // jaro on PlantedFuzzy-transcoded args: byte JW == codepoint JW after
  // the closed multibyte alphabet maps to single bytes (ASCII identity)
  private val jaroNearDupOracle = {
    val ta = PlantedFuzzy.tcSql("a.t"); val tb = PlantedFuzzy.tcSql("b.t")
    s"""WITH base AS (
      |  SELECT doc_id, substring(text, 1, 60) AS t
      |  FROM documents WHERE doc_id < 30),
      |all_docs AS (
      |  SELECT doc_id, t FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, t || ' q' FROM base
      |  UNION ALL
      |  SELECT doc_id, substring(text, 1, 60) FROM (VALUES
      |  ${PlantedFuzzy.sqlValues}) pf(doc_id, text)),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         jaro_winkler_similarity($ta, $tb) AS jw
      |  FROM all_docs a, all_docs b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |       CAST(CAST(jw AS DECIMAL(28,6)) AS DOUBLE) AS jw
      |FROM p WHERE jw >= 0.9""".stripMargin
  }

  /** Deterministic epoch shuffle + sharding — the training-export layout
    * pass: every epoch re-permutes the corpus under a fresh key and lays
    * it out as `shards` independently-ordered shards, the shape a data
    * loader consumes. The permutation key is md5(epoch:doc_id) — a pure
    * function of (epoch, doc_id), so the layout is reproducible across
    * runs, stage replays, AND engines (both Spark and DuckDB emit
    * lowercase-hex md5; ordering is plain string order).
    *
    * The 100 TB shape is [[shuffleLayout]]: shard assignment is a narrow
    * map on the key's first hex byte, then ONE shuffle keyed by
    * (epoch, shard) with a per-shard local sort — parallelism is
    * epochs×shards, so shards sized for the cluster keep every sort
    * in-memory. No global total order is ever materialized: a corpus-wide
    * row_number would be a single-partition window (the one shape this
    * repo bans); shard-local position IS the export contract, exactly how
    * training shards are read back. */
  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame =
    shuffleLayout(scan(spark, sfDir, "documents"), epochs = 2, shards = 8)

  /** The layout core behind [[epochShuffle]], parameterized (packLayout's
    * pattern). Input needs a `doc_id` column; emits one row per
    * (epoch, doc): its shard and 1-based position within the shard. */
  def shuffleLayout(docs: DataFrame, epochs: Int, shards: Int): DataFrame = {
    require(epochs >= 1 && shards >= 1, s"epochs/shards must be >= 1")
    val key = md5(concat_ws(":", col("epoch"), col("doc_id")).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("shard"))
      .orderBy(col("k"), col("doc_id"))
    docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("k", key)
      .withColumn("shard",
        (conv(substring(col("k"), 1, 2), 16, 10).cast("int") % shards)
          .cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
  }

  private val epochShuffleOracle =
    """WITH d AS (
      |  SELECT doc_id, unnest([0, 1]) AS epoch FROM documents),
      |k AS (
      |  SELECT epoch, doc_id,
      |         md5(epoch || ':' || doc_id) AS k
      |  FROM d),
      |s AS (
      |  SELECT epoch, doc_id, k,
      |         CAST(('0x' || substr(k, 1, 2))::BIGINT % 8 AS INTEGER) AS shard
      |  FROM k)
      |SELECT epoch, shard,
      |       CAST(row_number() OVER (PARTITION BY epoch, shard
      |                               ORDER BY k, doc_id) AS INTEGER) AS pos,
      |       doc_id
      |FROM s""".stripMargin

  /** Exact substring-window dedup (the scalable stand-in for
    * suffix-array substring dedup, Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better"): every W-token
    * sliding window is hashed; a window OCCURRENCE is duplicated when
    * its window text occurs more than once corpus-wide (same doc or
    * not), and a document whose duplicated-occurrence fraction reaches
    * 0.5 is flagged for drop. W = 4 here — sized to the synthetic
    * corpus's ~30-word vocabulary so the signal is non-vacuous
    * (real pipelines use ~50-token windows on natural text).
    *
    * The 100 TB shape: the window explode is narrow (higher-order
    * `transform` over the token split, codegen'd, one xxhash64 per
    * window — text itself never leaves the scan); everything after
    * moves only 8-byte hashes. Both aggregates are map-side combined,
    * and the global-count join is a shuffle join on the hash key —
    * deliberately NOT a `count(*) OVER (PARTITION BY w)` window, which
    * would buffer an entire boilerplate-hot window's occurrence list in
    * one task; hot keys here hit AQE's skew-split instead. Corpus-wide
    * counts compare equal to the oracle's string-keyed counts under the
    * repo's documented 64-bit no-collision assumption (exactKey's). */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame =
    // NOT spread (r22, reverting the r21 spreadSmallScan here): unlike
    // t38/t49, whose heavy work is a pure scan-side projection, t25's
    // tokenize+window pass feeds a (id, m, w) groupBy whose partial
    // aggregation combines map-side — a single-task scan emits each
    // distinct key once, while a 32-way spread multiplies the shuffle
    // rows (guide §2.3). Both the r21 driver run (spread 2.90 s vs 1.73 s
    // r20, and 1.13 s at 8 cores) and the r22 cold-JVM A/B (min-of-6
    // 1.12 s flat vs 1.19 s spread, medians 1.38 vs 1.52) put the flat
    // form ahead at bench conditions.
    spanLayout(scan(spark, sfDir, "documents"), w = 4, dropFrac = 0.5)

  /** The window-count core behind [[spanDedup]], public and
    * parameterized (packLayout's pattern — the raise-W-on-natural-text
    * story is a test, not a narration: SpanMixSpec runs it at W=2 and
    * W=4 on the same planted corpus and asserts the counts move exactly
    * as the window algebra says). Input: (doc_id, text).
    *
    * Adaptive like the near-dup operators: window hashing and counting
    * are functions of the normalized text alone, so on a
    * duplicate-heavy corpus ([[graft.dedup.Dedup.duplicationHeavy]] —
    * same probe, same threshold) the whole tokenize→window→count
    * pipeline runs once per DISTINCT text and members inherit their
    * representative's row. The one global quantity, a window's
    * corpus-wide occurrence count, is recovered EXACTLY by weighting
    * each representative's occurrences with its member count
    * (cnt = Σ occ·m — including the doc's own group, just as the flat
    * sum includes the doc itself), so both routes are output-identical
    * (SpanMixSpec pins it on a planted corpus).
    *
    * Contracts and caveats:
    *  - CALL-TIME SIDE EFFECT: the duplication probe is an eager (small)
    *    Spark job fired when this method is CALLED, not when the returned
    *    plan executes — callers that only want to build/inspect a plan
    *    still pay (and need) the probe, since it picks the plan shape.
    *  - `doc_id` must be unique per row (the repo-wide (doc_id, text)
    *    contract): the flat route's groupBy would MERGE same-id rows into
    *    one combined-count row while the collapsed expansion join emits
    *    one row per input row — a violating caller gets route-dependent
    *    output, not an error.
    *  - The key is [[graft.dedup.Dedup.Identity.NormalizedText]]'s
    *    (space-only `trim`): texts differing only by a trailing
    *    tab/newline stay in separate groups although tokens() treats
    *    them identically — a missed collapse, never an output
    *    difference (cnt = Σ occ·m sums to the same flat total).
    *  - The collapsed route computes the sha2 key twice (reps groupBy +
    *    expansion join re-derive `keyed`): measured harmless beside the
    *    tokenize/window work even at ×100-hot, and caching `keyed` would
    *    trade it for a persist of the full text column. */
  def spanLayout(docs: DataFrame, w: Int, dropFrac: Double): DataFrame =
    if (!Dedup.duplicationHeavy(docs, "text"))
      spanLayoutFlat(docs, w, dropFrac)
    else {
      // sentinel key for null texts (sha2 of NULL is NULL, and a
      // null-rejecting expansion join would DROP null-text docs that the
      // flat form keeps with zero counts; no 64-hex digest can collide
      // with the sentinel)
      val keyed = docs.select(col("doc_id").as("id"), col("text").as("__text"))
        .withColumn("ek", when(col("__text").isNull, lit("__null__"))
          .otherwise(Dedup.Identity.NormalizedText.key(col("__text"))))
      val reps = Dedup.repsOf(keyed, extra = Seq(count(lit(1)).as("m")))
        .withColumnRenamed("id", "rid")
      val perRep = spanCore(
        reps.select(col("rid"), col("__text"), col("m")), "rid", w, dropFrac)
      keyed.select(col("id").as("doc_id"), col("ek"))
        .join(reps.select(col("rid"), col("ek")), "ek")
        .join(perRep, "rid")
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          col("dup_frac"), col("keep_flag"))
    }

  /** The flat (per-row) span form — [[spanCore]] at weight 1. */
  def spanLayoutFlat(docs: DataFrame, w: Int, dropFrac: Double): DataFrame =
    spanCore(docs.select(col("doc_id"), col("text").as("__text"))
      .withColumn("m", lit(1L)), "doc_id", w, dropFrac)

  /** Shared weighted window-count core: input (idCol, __text, m), where
    * `m` is how many corpus rows this row stands for (1 on the flat
    * route; the exact-dup group size on the collapsed route). A window's
    * global count is Σ occ·m over rows — at m=1 exactly the flat
    * per-doc sum. */
  private def spanCore(rows: DataFrame, idCol: String, w: Int,
                       dropFrac: Double): DataFrame = {
    require(w >= 1, s"window size must be >= 1, got $w")
    // tokens materialize in their own projection FIRST: an expression
    // referenced inside a higher-order lambda is re-evaluated per
    // element (no CSE across the lambda boundary), so inlining the
    // regex split here would tokenize the text once per WINDOW —
    // O(tokens²) work per doc (measured 5.3 s → 1.5 s at sf0.1)
    val ts = col("ts")
    val wins = when(size(ts) >= w,
      transform(sequence(lit(1), size(ts) - lit(w - 1)),
        i => xxhash64(concat_ws(" ", slice(ts, i, lit(w))))))
      .otherwise(array().cast("array<bigint>"))
    val occ = rows
      .select(col(idCol), col("m"), tokensOf(col("__text")).as("ts"))
      .select(col(idCol), col("m"), explode_outer(wins).as("w"))
      .groupBy(col(idCol), col("m"), col("w"))
      .agg(count(col("w")).as("occ")) // occ = 0 on the null row of a windowless doc
    // The global count joins back on coalesce(w, Long.MinValue), NOT w,
    // and there is deliberately no where(w.isNotNull) before the
    // groupBy: with a nullable key the optimizer infers isnotnull(w) on
    // the join's build side and pushes it BELOW global's aggregate,
    // making global's copy of the tokenize+window+count subtree differ
    // from the probe's — two full corpus passes (t25 is the most
    // expensive ×100-grow query, so the duplication is the single
    // biggest wall-cell lever). A provably non-null key leaves both
    // branches ending at the SAME exchange, which AQE materializes once
    // (PlanAuditSpec pins one tokenization + the ReusedExchange).
    // Values are unchanged in every case: a windowless doc's sentinel
    // row carries occ = 0, so whatever cnt it picks up — the 0-sum
    // sentinel group, or a real window whose xxhash64 happens to equal
    // Long.MinValue — it contributes CASE WHEN cnt > 1 THEN 0 either way.
    val wk = coalesce(col("w"), lit(Long.MinValue))
    val global = occ
      .groupBy(wk.as("wk")).agg(sum(col("occ") * col("m")).as("cnt"))
    occ.withColumn("wk", wk).join(global, Seq("wk"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("occ")).cast("long").as("n_windows"),
        sum(when(col("cnt") > 1, col("occ")).otherwise(lit(0L)))
          .cast("long").as("n_dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0,
          round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep_flag",
        when(col("dup_frac") < dropFrac, lit(1)).otherwise(lit(0)))
  }

  private val spanDedupOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS ts
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ts) >= 4
      |              THEN list_transform(generate_series(1, len(ts) - 3),
      |                                  i -> array_to_string(ts[i:i+3], ' '))
      |              ELSE [] END AS ws
      |  FROM tok),
      |e AS (SELECT doc_id, unnest(ws) AS w FROM wins),
      |occ AS (SELECT doc_id, w, count(*) AS occ FROM e GROUP BY 1, 2),
      |gw AS (SELECT w, sum(occ) AS cnt FROM occ GROUP BY 1),
      |perdoc AS (
      |  SELECT o.doc_id, sum(o.occ) AS n_windows,
      |         sum(CASE WHEN g.cnt > 1 THEN o.occ ELSE 0 END) AS n_dup
      |  FROM occ o JOIN gw g USING (w) GROUP BY 1)
      |SELECT doc_id, n_windows, n_dup_windows, dup_frac,
      |       CASE WHEN dup_frac < 0.5 THEN 1 ELSE 0 END AS keep_flag
      |FROM (
      |  SELECT t.doc_id,
      |         CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
      |         CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
      |         CASE WHEN coalesce(p.n_windows, 0) > 0
      |              THEN round(CAST(p.n_dup AS DOUBLE) / p.n_windows, 6)
      |              ELSE 0.0 END AS dup_frac
      |  FROM tok t LEFT JOIN perdoc p USING (doc_id))""".stripMargin

  /** Token-budgeted source mixing — the weighted sibling of t22's
    * row-count quota and the operation that actually builds a
    * pre-training mix: each source contributes documents, in a
    * deterministic pseudo-random order, until its TOKEN budget is
    * reached. A document is admitted iff it STARTS below the budget
    * (packLayout's start-offset rule — the admitted set is therefore
    * exact under any partitioning, and the last admitted doc may
    * straddle the budget).
    *
    * The 100 TB shape: one shuffle, partitioned by source; the window
    * carries a single running long. Like t22, per-source work is
    * independent — a hot source bounds its own partition only. (Unlike
    * t22's rank filter, a running-SUM filter gets no WindowGroupLimit
    * early-out from the planner — the full source partition sorts
    * before the cumsum; the budget bounds the OUTPUT, not the sort.)
    * Integer-only arithmetic end to end.
    *
    * Budgets count TRAINED BPE tokens (r16): `bpe_doc_count` runs in
    * the same codegen'd scan-side map the whitespace proxy ran in —
    * text is dropped before the one source-keyed exchange either way. */
  def tokenBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 700L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(pmod(col("doc_id") * 48271, lit(97)), col("doc_id"))
    val merges = trainedBpe(spark, sfDir)
    scan(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        coalesce(bpeDocCount(col("text"), merges).cast("long"), lit(0L))
          .as("n_tok"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tok")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .where(col("start_tok") < budget)
      .select(col("source"), col("doc_id"), col("n_tok"), col("start_tok"))
  }

  /** DuckDB twin of t26 (dump-time: embeds the trained merges): per-doc
    * trained-BPE counts via the shared fixpoint (word-free docs count 0
    * via the LEFT JOIN), same per-source cumulative admission. */
  private def tokenBudgetMixOracle: String =
    """WITH RECURSIVE @MERGES,
      |wx AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS w
      |  FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS cnt FROM wx
      |       WHERE w <> '' GROUP BY 1, 2),
      |v AS (SELECT DISTINCT w FROM wc),
      |@FIXPOINT,
      |tok AS (
      |  SELECT doc_id, CAST(sum(wc.cnt * d.ntok) AS BIGINT) AS n_tok
      |  FROM wc JOIN done d ON d.w = wc.w GROUP BY 1),
      |nt AS (
      |  SELECT dd.source, dd.doc_id,
      |         CAST(coalesce(tok.n_tok, 0) AS BIGINT) AS n_tok
      |  FROM documents dd LEFT JOIN tok USING (doc_id))
      |SELECT source, doc_id, n_tok, start_tok FROM (
      |  SELECT source, doc_id, n_tok,
      |         CAST(coalesce(sum(n_tok) OVER (
      |           PARTITION BY source
      |           ORDER BY (doc_id * 48271) % 97, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         AS BIGINT) AS start_tok
      |  FROM nt)
      |WHERE start_tok < 700""".stripMargin
      .replace("@MERGES", bpeMergesCte("t26"))
      .replace("@FIXPOINT", bpeFixpointCtes)

  /** t33 — quality-weighted sample WITHOUT replacement via priority
    * sampling (Duffield, Lund & Thorup, "Priority sampling", JACM 54(6),
    * 2007): every doc draws a deterministic uniform u in (0,1] from
    * md5("ps:" || doc_id) and gets priority q = w / u with w = the t03
    * quality score; the k largest priorities are the sample. Chosen over
    * the A-ES u^(1/w) key on purpose: priorities here use only
    * IEEE-exact operations (power-of-two division for u, one ordinary
    * division for q — both correctly rounded by the standard), so the
    * DuckDB oracle ranks bit-identical doubles and no libm ln/pow ULP
    * ever crosses the engine boundary.
    *
    * The 100 TB shape: the weight is a narrow single-pass map over the
    * scan (no shuffle of text, no shuffle at all; the token array is
    * materialized ONCE per row — Spark's lambda array functions are
    * CodegenFallback, so duplicated token subtrees would all evaluate)
    * and the top-k is TakeOrderedAndProject — per-partition partial
    * top-k, k rows per partition to the driver, never a global sort
    * (PlanAuditSpec pins both). Ranking happens on the full-precision
    * priority; the output rounding is display-only. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    prioritySample(scan(spark, sfDir, "documents"), k = 64)

  /** The priority-sampling core behind [[weightedSample]], parameterized
    * (packLayout's pattern). Input needs (doc_id, text). */
  def prioritySample(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // All four weight inputs from ONE codegen-capable native pass
    // (graft.functions.TokenStats) — the former staged token-array
    // projection was CodegenFallback; this keeps the whole weight
    // computation inside whole-stage codegen with no array materialized
    // (WeightedSampleSpec pins zero regex splits in the plan).
    val staged = docs.select(col("doc_id"), col("text"),
      tokenStats(col("text")).as("ts"))
    val w = TextOps.qualityScore(col("ts.n_tokens"), col("ts.n_chars"),
      col("ts.n_punct"), col("ts.n_stop"))
    // u in (0,1]: first 32 md5 bits, +1 so u > 0, over 2^32 (exact: the
    // numerator is an integer <= 2^32 and the divisor a power of two)
    val hex = substring(
      md5(concat(lit("ps:"), col("doc_id").cast("string")).cast("binary")),
      1, 8)
    val u = (conv(hex, 16, 10).cast("long") + 1L).cast("double") /
      lit(4294967296.0)
    staged.select(col("doc_id"), w.as("weight"), u.as("u"))
      .withColumn("pr", col("weight") / col("u"))
      .orderBy(col("pr").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"), round(col("pr"), 6).as("priority"))
  }

  private val weightedSampleOracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                    x -> len(x) > 0)) AS n_tokens,
      |    length(text) AS n_chars,
      |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
      |    len(list_filter(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                                x -> len(x) > 0),
      |        x -> list_contains(['the','and','of','to','is','in'], x))) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, round((
      |      (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0
      |            WHEN n_tokens < 10 THEN CAST(n_tokens AS DOUBLE) / 10.0
      |            ELSE 1000.0 / CAST(n_tokens AS DOUBLE) END)
      |    + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0) <= 0.1
      |            THEN 1.0 ELSE 0.5 END)
      |    + (CASE WHEN CAST(n_stop AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0)
      |                 BETWEEN 0.01 AND 0.6
      |            THEN 1.0 ELSE 0.5 END)
      |    ) / 3.0, 6) AS weight
      |  FROM t),
      |p AS (
      |  SELECT doc_id, weight,
      |    weight / ((('0x' || substr(md5('ps:' || doc_id), 1, 8))::BIGINT + 1)::DOUBLE
      |              / 4294967296.0) AS pr
      |  FROM q)
      |SELECT doc_id, weight, round(pr, 6) AS priority
      |FROM p ORDER BY pr DESC, doc_id LIMIT 64""".stripMargin

  /** Incremental near-dup — t17's approximate sibling and the nightly
    * ingest's missing near-dup gate: a small batch (perturbed copies of
    * every 10th corpus doc, id + 1e6 — guaranteed planted matches at
    * every SF) banded against the full corpus. The 100 TB shape lives
    * in [[Dedup.nearDupAgainst]]: batch band keys and batch gram
    * arrays broadcast, corpus text never shuffles (t21's
    * decontamination shape with LSH bands in place of exact gram
    * hashes). Dump-time VALUES oracle: both slices' band buckets
    * embedded, DuckDB recomputes the asymmetric candidate join and the
    * string-gram Jaccard verify independently. */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    HashOracles.record(spark, sfDir)
    val docs = scan(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" nightly batch")).as("text"))
    Dedup.nearDupAgainst(docs, batch, "text", "doc_id", threshold = 0.5)
  }

  /** t37 — token accounting in TRAINED tokenizer units (VERDICT r15
    * missing-capability #1): a subword BPE merge table trained on a
    * bounded deterministic sample of the corpus (the trainCentroids
    * collect contract), then applied corpus-wide to report per-document
    * word and BPE-token counts — the real unit budget decisions are
    * made in at production scale. The budget operators (t24 packing,
    * t26 mix) decide in these trained units since r16; the LM scores
    * (t23/t34/t36) stay word-level by design (their models ARE
    * word-distribution models).
    *
    * 100 TB shape: training is ONE capped collect; apply is
    * [[graft.functions.BpeCount]] — a whole-stage-codegen scalar whose
    * merge table rides the task closure, so the per-word fixpoint runs
    * scan-side with NO join and NO extra shuffle. The (doc_id, word)
    * count agg map-side-combines before its one exchange, and the apply
    * runs on those already-collapsed rows — once per distinct word per
    * doc, not once per occurrence. Since r16 the budget operators (t24
    * packing, t26 mixing) decide in these units too, via the
    * whole-document `bpe_doc_count` sibling scalar. (At extreme vocab-skew one could go
    * further — distinct-word vocab join — but that trades a second
    * word-keyed shuffle for the dedup, a loss while the expression is
    * this cheap.) The oracle embeds the trained merges as VALUES at dump
    * time (s07/s17 pattern) and replays the same leftmost-lowest-rank
    * fixpoint as a recursive CTE over the distinct vocabulary. */
  def bpeTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    bpeLayout(scan(spark, sfDir, "documents"), trainedBpe(spark, sfDir))

  /** t39 — full trained-BPE tokenization to vocabulary-id sequences:
    * the tokenize-for-export stage a training run ends with (t37 counts
    * tokens; a trainer consumes the ids themselves). Output one row per
    * (doc, word occurrence, subword): (doc_id, word_pos, sym_pos,
    * token_id), word_pos the position in the document's split array
    * (holes where separators produced empty strings — both engines index
    * identically), token_id from the closed deterministic vocabulary
    * ([[graft.functions.Bpe.vocab]]: 74 base ids, then distinct merge
    * outputs in merge order). The exploded row form is the
    * oracle-exact surface; a production export would keep the id ARRAY
    * per document (same zero-exchange plan minus the second generate —
    * parquet list column, no row amplification).
    *
    * 100 TB shape: ZERO exchanges (plan-pinned) — scan → generate →
    * codegen scalar → generate; both the merge table and the id table
    * ride the task closure, so tokenization parallelizes per input
    * split with nothing global. The oracle replays the fixpoint's
    * symbol SEQUENCES (not just counts) through the shared recursive
    * CTE and maps them through a vocabulary RE-DERIVED in SQL from the
    * embedded merge table — only the trained merges are shared
    * constants, so a vocab-layout drift in the engine is caught. */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedBpe(spark, sfDir)
    scan(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9']+")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("pos").cast("int").as("word_pos"),
        posexplode(bpeTokens(col("w"), merges)).as(Seq("sym_pos", "token_id")))
      .select(col("doc_id"), col("word_pos"),
        col("sym_pos").cast("int").as("sym_pos"), col("token_id"))
  }

  /** Merge-table size / sample bound — operator parameters in the s14
    * shared-constant sense, raised r17 to production-shaped values
    * (1k merges / 2k-doc sample, the r16 verdict ask). MEASURED CEILING
    * (r17): the harness corpus has exactly 31 distinct words at every
    * SF, so greedy training EXHAUSTS at 93 merges — every corpus word
    * reaches one whole-word token (`bpe_count == 1`, t37 ratio exactly
    * 1.0) — and any knob ≥ the exhaustion point trains the same
    * saturated table. The knobs therefore change nothing ON THIS CORPUS
    * by construction (BpeSaturationSpec pins that, plus real sub-word
    * behavior on a wide-vocab planted corpus where the same knobs bind);
    * the binding limits are corpus vocabulary, never these constants. */
  val BpeNumMerges = 1000
  val BpeMaxSample = 2048

  private val bpeMerges = new Trained[Seq[(String, String)]]("BPE merges")

  private[queries] def trainedBpe(spark: SparkSession,
                         sfDir: String): Seq[(String, String)] =
    bpeMerges(sfDir) {
      // bounded deterministic sample: 1/4 hash slice, id-ordered cap —
      // the boundedSample contract (see Similarity.trainCentroids)
      val texts = scan(spark, sfDir, "documents")
        .where(pmod(xxhash64(col("doc_id")), lit(4L)) === 0)
        .where(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .sort(col("id")).limit(BpeMaxSample)
        .collect().map(_.getString(1)).toSeq
      graft.functions.Bpe.train(texts, BpeNumMerges)
    }

  /** The apply core behind [[bpeTokenCount]], public for specs: input
    * (doc_id, text), output (doc_id, n_words, n_bpe_tokens). */
  def bpeLayout(docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9']+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ntok", bpeCount(col("w"), merges).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("ntok")).cast("long").as("n_bpe_tokens"))
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Trained merge table as a VALUES CTE — shared by every trained-BPE
    * oracle (t24/t26/t37), embedded at dump time from the merges the
    * queries actually trained (the s07/s17 pattern). */
  private def bpeMergesCte(caller: String): String = {
    val merges = bpeMerges.forDump
    // Bpe.train legitimately returns ZERO merges when no pair repeats in
    // the sample (BpeSpec pins that); `VALUES` with no rows is a SYNTAX
    // error, so a degenerate corpus must fail loudly here, not as an
    // unrunnable oracle in the driver's compare (r16 advice).
    if (merges.isEmpty) throw new IllegalStateException(
      s"$caller oracle: the trained BPE merge table is EMPTY (no word " +
        "pair repeats in the training sample) — the recursive-CTE oracle " +
        "cannot express a zero-row VALUES; train on a non-degenerate " +
        "corpus or widen the sample")
    val rows = merges.zipWithIndex
      .map { case ((a, b), i) => s"(${sqlStr(a + " " + b)}, $i)" }
    s"""m(pair, rank) AS (VALUES
       |  ${rows.mkString(",\n  ")})""".stripMargin
  }

  /** The per-word fixpoint as CTE blocks over a caller-supplied vocab
    * relation `v(w)`: same Sennrich decomposition (`</w>` fused onto the
    * final char), same leftmost-lowest-rank one-merge-per-step recursion
    * as the engine (symbols never contain spaces, so `'a b'` pair keys
    * are unambiguous). Emits `done(w, syms, ntok)` — counts for the
    * budget/count twins (t24/t26/t37), the symbol sequence itself for
    * the full tokenizer (t39). */
  private val bpeFixpointCtes: String =
    """init AS (
      |  SELECT w, list_transform(range(1, length(w)+1),
      |           i -> substr(w, CAST(i AS INT), 1)
      |                || CASE WHEN i = length(w) THEN '</w>' ELSE '' END)
      |         AS syms
      |  FROM v),
      |steps AS (
      |  SELECT w, syms FROM init
      |  UNION ALL
      |  SELECT s.w,
      |         s.syms[1:b.bi-1] || [s.syms[b.bi] || s.syms[b.bi+1]]
      |                          || s.syms[b.bi+2:]
      |  FROM steps s, LATERAL (
      |    SELECT CAST(i AS INT) AS bi
      |    FROM unnest(range(1, len(s.syms))) t(i)
      |    JOIN m ON m.pair = s.syms[CAST(i AS INT)] || ' '
      |                       || s.syms[CAST(i AS INT)+1]
      |    ORDER BY m.rank, i LIMIT 1) b),
      |done AS (
      |  SELECT w, syms, len(syms) AS ntok FROM steps s
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM unnest(range(1, len(s.syms))) t(i)
      |    JOIN m ON m.pair = s.syms[CAST(i AS INT)] || ' '
      |                       || s.syms[CAST(i AS INT)+1]))""".stripMargin

  /** DuckDB twin of t37 — word counts per doc, the shared fixpoint over
    * the distinct vocabulary, per-doc sums. (Placeholders are substituted
    * AFTER stripMargin: the fixpoint body contains `||` concat lines an
    * outer stripMargin would truncate to bitwise `|`.) */
  private def bpeTokenCountOracle: String =
    """WITH RECURSIVE @MERGES,
       |wx AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS w
       |  FROM documents),
       |wc AS (SELECT doc_id, w, count(*) AS cnt FROM wx
       |       WHERE w <> '' GROUP BY 1, 2),
       |v AS (SELECT DISTINCT w FROM wc),
       |@FIXPOINT
       |SELECT wc.doc_id, CAST(sum(wc.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(wc.cnt * d.ntok) AS BIGINT) AS n_bpe_tokens
       |FROM wc JOIN done d ON d.w = wc.w
       |GROUP BY 1""".stripMargin
      .replace("@MERGES", bpeMergesCte("t37"))
      .replace("@FIXPOINT", bpeFixpointCtes)

  /** The closed vocabulary `vb(sym, id)` RE-DERIVED in SQL from the
    * merge table `m` — NOT dumped from the engine's vocab builder, so a
    * vocabulary-layout drift in the engine reads as a value diff (the
    * HashOracles discipline: only the trained merges themselves are
    * shared constants). Layout contract, stated independently here:
    * alphabet char i gets id 2i (bare) and 2i+1 (EndMark-fused), 74 base
    * ids total; then each DISTINCT merge output in first-derivation
    * order (symbols never contain spaces, so stripping the pair
    * separator IS the concatenation). */
  private val bpeVocabCte: String =
    """ab AS (
      |  SELECT substr(q.s, CAST(t.i AS INT), 1) AS c,
      |         CAST(t.i AS INT) - 1 AS ci
      |  FROM (SELECT '''0123456789abcdefghijklmnopqrstuvwxyz' AS s) q,
      |       unnest(generate_series(1, 37)) t(i)),
      |vbase AS (
      |  SELECT c AS sym, ci * 2 AS ord FROM ab
      |  UNION ALL
      |  SELECT c || '</w>', ci * 2 + 1 FROM ab),
      |vmerge AS (
      |  SELECT sym, 74 + row_number() OVER (ORDER BY mr) - 1 AS ord
      |  FROM (SELECT replace(pair, ' ', '') AS sym, min(rank) AS mr
      |        FROM m GROUP BY 1)
      |  WHERE sym NOT IN (SELECT sym FROM vbase)),
      |vb AS (
      |  SELECT sym, CAST(ord AS INT) AS id FROM vbase
      |  UNION ALL
      |  SELECT sym, CAST(ord AS INT) FROM vmerge)""".stripMargin

  /** DuckDB twin of t39 — indexed word split (positions over the FULL
    * split array, empties filtered after, exactly like posexplode), the
    * shared fixpoint's symbol sequences, ids via the INDEPENDENTLY
    * re-derived vocabulary (see [[bpeVocabCte]]). The LEFT JOIN's -1
    * branch mirrors the engine's unknown-symbol contract (unreachable
    * for pretokenized input; kept so a contract drift reads as a value
    * diff, not a dropped row). */
  private def bpeTokenizeOracle: String =
    """WITH RECURSIVE @MERGES,
       |@VOCAB,
       |wx AS (
       |  SELECT q.doc_id, CAST(t.i - 1 AS INTEGER) AS word_pos,
       |         q.a[CAST(t.i AS INT)] AS w
       |  FROM (SELECT doc_id,
       |          regexp_split_to_array(lower(text), '[^a-z0-9'']+') AS a
       |        FROM documents) q,
       |       unnest(generate_series(1, len(q.a))) t(i)),
       |wf AS (SELECT doc_id, word_pos, w FROM wx WHERE w <> ''),
       |v AS (SELECT DISTINCT w FROM wf),
       |@FIXPOINT,
       |tok AS (
       |  SELECT wf.doc_id, wf.word_pos,
       |         CAST(u.i AS INTEGER) - 1 AS sym_pos,
       |         d.syms[CAST(u.i AS INT)] AS sym
       |  FROM wf JOIN done d ON d.w = wf.w,
       |       unnest(generate_series(1, len(d.syms))) u(i))
       |SELECT tok.doc_id, tok.word_pos, tok.sym_pos,
       |       CAST(coalesce(vb.id, -1) AS INTEGER) AS token_id
       |FROM tok LEFT JOIN vb ON vb.sym = tok.sym""".stripMargin
      .replace("@MERGES", bpeMergesCte("t39"))
      .replace("@VOCAB", bpeVocabCte)
      .replace("@FIXPOINT", bpeFixpointCtes)

  /** t38 — suffix-granularity substring dedup via winnowed fingerprints
    * (VERDICT r15 missing-capability #3): which document pairs share a
    * long literal substring at ANY offset. t25's fixed windows detect
    * aligned repeats; the winnowing guarantee (see
    * [[graft.functions.WinnowPrints]]) detects every shared substring of
    * length ≥ L + W − 1 = 65 regardless of alignment — the detection a
    * suffix array buys, in bounded streaming state. Planted in-query
    * like s18: docs `id%10==4` get a copy (+4,000,000) whose text is a
    * 37-char pad + the original's tail from char 101 — a long shared
    * substring at two DIFFERENT offsets, invisible to aligned windows.
    *
    * 100 TB shape: fingerprinting is ONE narrow codegen'd pass (the
    * stride-1 gram explosion and the sliding min never leave the
    * expression); only ~2n/W selected prints ride the first exchange.
    * Pair generation reuses the s18 two-phase form: candidates only
    * from prints with corpus df ≤ cap (a print shared by F docs is
    * boilerplate and would emit O(F²) pairs), exact n_shared recomputed
    * over ALL prints for candidate pairs. The cap's contract is
    * pruning, not suppression: a pair whose every shared print is
    * ubiquitous is not guaranteed to surface — though edge windows
    * (boilerplate grams winnowed against doc-specific neighbors) give
    * some boilerplate-bearing pairs doc-dependent rare prints that
    * legitimately survive (WinnowSpec pins the subset/pruning/
    * exact-count algebra). */
  def winnowSubstringDedup(spark: SparkSession, sfDir: String): DataFrame =
    // spread the under-split scan: the winnow_prints md5 gram pass is by
    // far the heaviest scan-side stage in the registry
    // (CoreOps.spreadSmallScan; measured 2.58 -> 1.29 s min-of-5 at sf0.1)
    winnowLayout(spreadSmallScan(scan(spark, sfDir, "documents")),
      gramLen = WinnowGram, window = WinnowWindow)

  /** t38 geometry + ubiquity cap — shared engine/oracle constants (the
    * s14 sense). L=50 is Lee et al. 2022's dedup threshold; W=16 puts
    * the guarantee at 65 chars and keeps ~1/8 of grams. */
  val WinnowGram = 50
  val WinnowWindow = 16
  val WinnowMaxDf = 50

  /** The pair core behind [[winnowSubstringDedup]], public for specs:
    * input (doc_id, text), output (id_a, id_b, n_shared). */
  def winnowLayout(docs: DataFrame, gramLen: Int, window: Int,
                   maxDf: Int = WinnowMaxDf): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val planted = docs
      .where(pmod(col("doc_id"), lit(10)) === 4 && length(col("text")) >= 200)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(expr("repeat('z', 37)"),
          expr("substring(text, 101, 100000)")).as("text"))
    val prints = base.unionAll(planted)
      // explicit non-null key BELOW the shared exchange: the verify
      // joins would otherwise INFER isnotnull(doc_id) and push it down
      // only on their own branches, breaking sameResult with the
      // candidate branches (doc_id is never null; this is a no-op
      // filter that pins one identical subtree for all consumers)
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(winnowPrints(col("text"), gramLen, window)).as("fp"))
      // fingerprint ONCE (the s16 ReuseExchange idiom): four consumers
      // (df agg, rare join, both exact-verify joins) hang off this plan
      // — without a common Exchange each would re-run the O(n·L) md5
      // pass over the full corpus; ending them all at an identical
      // fp-keyed Exchange lets ReuseExchange materialize it once (the
      // df agg and candidate join consume the partitioning directly;
      // the verify joins re-key the small print stream). Measured 4.5 s
      // → see BASELINE round-16.
      .repartition(col("fp"))
    // prints are already distinct per doc (the expression returns a set)
    // count(doc_id), not count(*) — the t36 trick: keeps the agg
    // subtree's input columns identical to the join sides' (doc_id, fp)
    // so every consumer stays sameResult on the ONE fp-keyed Exchange
    // (doc_id is the non-null key: the counts are equal)
    val rareFp = prints.groupBy(col("fp"))
      .agg(count(col("doc_id")).as("fdf"))
      .where(col("fdf") <= maxDf)
      .select(col("fp"))
    val rare = prints.join(rareFp, Seq("fp"))
    val cand = rare.select(col("doc_id").as("id_a"), col("fp"))
      .join(rare.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(prints.select(col("doc_id").as("id_a"), col("fp")), Seq("id_a"))
      .join(prints.select(col("doc_id").as("id_b"), col("fp")),
        Seq("id_b", "fp"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** DuckDB twin: the DECLARATIVE winnowing formulation — stride-1 md5
    * gram prints, sliding `min() OVER` per window start, distinct — and
    * the same df-capped candidates / exact-verify pair phase. The twin
    * materializes what the engine's expression streams, which is the
    * point: identical values, different cost model. */
  private def winnowSubstringDedupOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 4000000, repeat('z', 37) || substring(text, 101, 100000)
       |  FROM documents WHERE doc_id % 10 = 4 AND length(text) >= 200),
       |g AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, length(text) - $WinnowGram + 1)) AS p,
       |         text
       |  FROM d),
       |fp AS (
       |  SELECT doc_id, p,
       |         substr(md5(substring(text, CAST(p AS INT), $WinnowGram)), 1, 16) AS fp,
       |         max(p) OVER (PARTITION BY doc_id) AS maxp
       |  FROM g),
       |wmin AS (
       |  SELECT doc_id, p, maxp,
       |         min(fp) OVER (PARTITION BY doc_id ORDER BY p
       |                       ROWS BETWEEN CURRENT ROW
       |                       AND ${WinnowWindow - 1} FOLLOWING) AS wfp
       |  FROM fp),
       |sel AS (SELECT DISTINCT doc_id, wfp AS fp FROM wmin
       |        WHERE p <= maxp - ${WinnowWindow - 1}),
       |raref AS (SELECT fp FROM sel GROUP BY fp
       |          HAVING count(*) <= $WinnowMaxDf),
       |rare AS (SELECT sel.doc_id, sel.fp FROM sel JOIN raref USING (fp)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b, count(*) AS n_shared
       |FROM cand c
       |JOIN sel sa ON sa.doc_id = c.id_a
       |JOIN sel sb ON sb.doc_id = c.id_b AND sb.fp = sa.fp
       |GROUP BY 1, 2""".stripMargin

  /** t49 — HTML/boilerplate extraction, the jusText-class pre-dedup stage
    * every CommonCrawl-style pipeline runs FIRST (see
    * [[graft.text.HtmlExtract]] for the block model and rules): each
    * corpus document is wrapped into a synthetic page (nav/byline/teaser/
    * aside/footer chrome around the real text plus an entity-bearing
    * notes block), then extraction must recover exactly the clean
    * content — `clean_match` pins the reconstruction per row, and the
    * extracted text itself is hash-gated. Narrow codegen map, zero
    * exchanges: regexp block parse + higher-order array filter/transform;
    * at 100 TB this is a linear pass that feeds t04/t16/t40 and every
    * dedup tier.
    *
    * The keep rule is integer-exact (3·link_chars ≤ total_chars AND
    * total ≥ 25), so the oracle can never diverge on a float threshold —
    * and mutating either threshold (the link-density kill: 1/3 → 1/2
    * keeps the byline div; the length kill: 25 → 10 keeps the teaser)
    * flags exactly this row. Stopword density of the extracted text is
    * REPORTED (the t16-style quality signal) but not a keep rule: this
    * corpus has zero-stopword documents whose content a stopword gate
    * would destroy. */
  def htmlExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.HtmlExtract
    val enStops = TextOps.langStopwords.toMap.apply("en")
    // spread the under-split scan: block split + classification + clean
    // extraction all run scan-side (CoreOps.spreadSmallScan; measured
    // 0.79 -> 0.32 s min-of-5 at sf0.1)
    spreadSmallScan(scan(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text"),
        HtmlExtract.blocks(HtmlExtract.wrap(
          col("doc_id"), col("source"), col("text"))).as("blks"))
      .select(col("doc_id"), col("text"),
        size(col("blks")).cast("int").as("n_blocks"),
        HtmlExtract.keptBlocks(col("blks")).as("kept"))
      .select(col("doc_id"), col("text"), col("n_blocks"),
        size(col("kept")).cast("int").as("n_kept"),
        HtmlExtract.extractFromBlocks(col("kept")).as("extracted"))
      // stage the token array ONCE: the tokenizer is a lambda array op
      // (CodegenFallback, excluded from CollapseProject when referenced
      // more than once), so inlining it into the three stop_density
      // usages would re-tokenize every row 3× — the t33 staging rule
      .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("extracted"),
        (col("extracted") ===
          HtmlExtract.expectedClean(col("doc_id"), col("text")))
          .as("clean_match"),
        TextOps.tokens(col("extracted")).as("__toks"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("extracted"),
        col("clean_match"),
        when(size(col("__toks")) === 0, lit(0.0))
          .otherwise(
            TextOps.stopwordCountIn(col("__toks"), enStops).cast("double") /
              size(col("__toks")))
          .cast("decimal(28,6)").cast("double").as("stop_density"))
  }

  /** The oracle rebuilds the SAME page from the shared HtmlExtract
    * constants (interpolated — the synthesis cannot desync) and applies
    * the same integer keep rule via unnest + FILTER aggregation. */
  private val htmlExtractOracle: String = {
    import graft.text.HtmlExtract._
    val stops = TextOps.langStopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")
    s"""WITH h AS (
       |  SELECT doc_id, text,
       |    '<html><body>$Nav<div>Posted in <a href="/s/' ||
       |      replace(replace(replace(source, '&', '&amp;'),
       |              '<', '&lt;'), '>', '&gt;') || '">'
       |      || replace(replace(replace(source, '&', '&amp;'),
       |                 '<', '&lt;'), '>', '&gt;')
       |      || '</a> by <a href="/u/' || doc_id || '">user'
       |      || doc_id || '</a></div><p>'
       |      || replace(replace(replace(text, '&', '&amp;'),
       |                         '<', '&lt;'), '>', '&gt;')
       |      || '</p>$Teaser<p>Notes &amp; errata for document ' || doc_id
       |      || ' &lt;rev 2&gt;</p>$Aside$Footer</body></html>' AS html
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(html,
       |      '(?s)<(?:nav|div|p|aside|footer)>(.*?)</(?:nav|div|p|aside|footer)>',
       |      1) AS blks
       |  FROM h),
       |e AS (
       |  SELECT doc_id, text, len(blks) AS n_blocks,
       |         unnest(generate_series(1, len(blks))) AS idx,
       |         unnest(blks) AS blk
       |  FROM b),
       |t AS (
       |  SELECT doc_id, text, n_blocks, idx,
       |    replace(replace(replace(
       |      regexp_replace(blk, '(?s)<[^>]*>', '', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS btxt,
       |    replace(replace(replace(
       |      regexp_replace(regexp_replace(blk, '(?s)<a [^>]*>.*?</a>', '', 'g'),
       |        '(?s)<[^>]*>', '', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS linkless
       |  FROM e),
       |k AS (
       |  SELECT doc_id, text, n_blocks, idx, btxt,
       |    (3 * (len(btxt) - len(linkless)) <= len(btxt)
       |     AND len(btxt) >= $MinChars) AS keep
       |  FROM t),
       |d AS (
       |  SELECT doc_id, any_value(text) AS text,
       |    any_value(n_blocks) AS n_blocks,
       |    count(*) FILTER (WHERE keep) AS n_kept,
       |    COALESCE(string_agg(btxt, chr(10) ORDER BY idx)
       |               FILTER (WHERE keep), '') AS extracted
       |  FROM k GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, n_blocks, n_kept, extracted,
       |    (extracted = text || chr(10) || 'Notes & errata for document '
       |       || doc_id || ' <rev 2>') AS clean_match,
       |    list_filter(string_split_regex(lower(trim(extracted)),
       |                  '[ \\t\\n\\x0B\\f\\r]+'),
       |                x -> len(x) > 0) AS toks
       |  FROM d)
       |SELECT doc_id,
       |  CAST(n_blocks AS INTEGER) AS n_blocks,
       |  CAST(n_kept AS INTEGER) AS n_kept,
       |  extracted, clean_match,
       |  CAST(CAST(CASE WHEN len(toks) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(toks, w -> w IN ($stops))) AS DOUBLE)
       |         / len(toks) END AS DECIMAL(28,6)) AS DOUBLE) AS stop_density
       |FROM f""".stripMargin
  }

  def all: Seq[NamedQuery] = Seq(
    NamedQuery("t49_html_extract", htmlExtract, Some(htmlExtractOracle)),
    NamedQuery("t20_jaro_neardup", jaroNearDup, Some(jaroNearDupOracle)),
    NamedQuery("t19_ingest_pipeline", ingestPipeline,
      Some(ingestPipelineOracle)),
    NamedQuery("t18_edit_distance", editDistanceNearDup,
      Some(editDistanceNearDupOracle)),
    NamedQuery("t16_gopher_filter", gopherFilter, Some(gopherFilterOracle)),
    NamedQuery("t17_incremental_dedup", incrementalDedup,
      Some(incrementalDedupOracle)),
    NamedQuery("t01_dedup_groups", dedupGroups, Some(dedupGroupsOracle)),
    NamedQuery("t02_dedup_keep", dedupKeep, Some(dedupKeepOracle)),
    NamedQuery("t03_text_stats", textStats, Some(textStatsOracle)),
    NamedQuery("t04_lang_id", langId, Some(langIdOracle)),
    NamedQuery("t05_fingerprints", fingerprints, Some(fingerprintsOracle)),
    NamedQuery("t06_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)),
    NamedQuery("t07_chunking", chunking, Some(chunkingOracle)),
    NamedQuery("t08_systematic_sample", sampled, Some(sampledOracle)),
    NamedQuery("t09_training_pipeline", trainingPipeline, None,
      oracleFn = Some(() => HashOracles.trainingPipelineOracle)),
    NamedQuery("t10_training_pipeline_exact", trainingPipelineExact,
      Some(trainingPipelineExactOracle)),
    NamedQuery("t11_tfidf_topk", tfidfTopK, Some(tfidfTopKOracle)),
    NamedQuery("t12_stratified_sample", stratified, Some(stratifiedOracle)),
    NamedQuery("t13_repetition", repetition, Some(repetitionOracle)),
    NamedQuery("t14_redact", redact, Some(redactOracle)),
    NamedQuery("t15_heavy_hitters", heavyHitters, Some(heavyHittersOracle)),
    NamedQuery("t21_decontaminate", decontaminate, Some(decontaminateOracle)),
    NamedQuery("t22_source_quota", sourceQuota, Some(sourceQuotaOracle)),
    NamedQuery("t23_unigram_logprob", unigramLogprob,
      Some(unigramLogprobOracle)),
    NamedQuery("t24_sequence_pack", sequencePack, None,
      oracleFn = Some(() => sequencePackOracle)),
    NamedQuery("t28_epoch_shuffle", epochShuffle, Some(epochShuffleOracle)),
    NamedQuery("t25_span_dedup", spanDedup, Some(spanDedupOracle)),
    NamedQuery("t26_token_budget_mix", tokenBudgetMix, None,
      oracleFn = Some(() => tokenBudgetMixOracle)),
    NamedQuery("t27_incremental_neardup", incrementalNearDup, None,
      oracleFn = Some(() => HashOracles.incrementalNearDupOracle)),
    NamedQuery("t29_fuzzy_neardup", fuzzyNearDup, None,
      oracleFn = Some(() => HashOracles.fuzzyNearDupOracle)),
    NamedQuery("t30_contamination_score", contaminationScore,
      Some(contaminationScoreOracle)),
    // t31 is t30 behind the bloom gate: same values by construction,
    // same oracle SQL — the difference is the plan, which PlanAuditSpec
    // pins (gate before any exchange; exact verify join still present).
    NamedQuery("t31_bloom_contamination", bloomContamination,
      Some(contaminationScoreOracle)),
    // t32 is t17 behind the batch-side bloom gate on the corpus index:
    // same values by construction, same oracle — the plan is the point.
    NamedQuery("t32_bloom_incremental_dedup", bloomIncrementalDedup,
      Some(incrementalDedupOracle)),
    NamedQuery("t33_weighted_sample", weightedSample,
      Some(weightedSampleOracle)),
    NamedQuery("t34_bigram_logprob", bigramLogprob,
      Some(bigramLogprobOracle)),
    NamedQuery("t35_cdc_chunk_dedup", cdcChunkDedup,
      Some(cdcChunkDedupOracle)),
    NamedQuery("t36_dsir_selection", dsirSelection,
      Some(dsirSelectionOracle)),
    NamedQuery("t37_bpe_token_count", bpeTokenCount, None,
      oracleFn = Some(() => bpeTokenCountOracle)),
    NamedQuery("t38_winnow_substring_dedup", winnowSubstringDedup,
      Some(winnowSubstringDedupOracle)),
    NamedQuery("t39_bpe_tokenize", bpeTokenize, None,
      oracleFn = Some(() => bpeTokenizeOracle)),
    NamedQuery("t40_quality_classifier", qualityClassifier, None,
      oracleFn = Some(() => qualityClassifierOracle)),
    NamedQuery("t41_stream_ingest_gate", streamIngestGate, None,
      oracleFn = Some(() => HashOracles.streamIngestGateOracle)),
    NamedQuery("t42_source_mix_alloc", sourceMixAlloc,
      Some(sourceMixAllocOracle)),
    NamedQuery("t43_kneser_ney_logprob", knBigramLogprob,
      Some(knBigramLogprobOracle)),
    NamedQuery("t44_token_fertility", tokenFertility, None,
      oracleFn = Some(() => tokenFertilityOracle)),
    NamedQuery("t45_bm25_retrieval", bm25Retrieval,
      Some(bm25RetrievalOracle)),
    NamedQuery("t46_rrf_fusion", rrfFusion, Some(rrfFusionOracle)),
    NamedQuery("t47_unigram_token_count", unigramTokenCount, None,
      oracleFn = Some(() => unigramTokenCountOracle)),
  )

  /** t41 — the streaming ingest GATE made driver-visible (completing the
    * streaming trio with ev10's watermarked aggregation and ev11's
    * stateful sessionizer): t27's nightly batch (every 10th doc,
    * perturbed, id + 1e6) replayed through [[StreamOps.startNearDupGate]]
    * — real foreachBatch micro-batches, a checkpointed exactly-once
    * parquet file sink, each batch LSH-gated against the full corpus —
    * then the annotated sink read back and hashed against a DuckDB
    * oracle that re-derives every verdict from dump-time embedded band
    * signatures (the t27 machinery extended to the gate's best-match /
    * passed-flag shape; see [[HashOracles.streamIngestGateOracle]]).
    *
    * Scale shape: the operator under test is
    * [[graft.dedup.Dedup.nearDupAgainst]] per micro-batch — batch side
    * broadcast, corpus text never shuffles — plus the transactional file
    * sink; the driver-side collect here is the replay harness reading
    * the finished sink for the dump, not the operator. */
  def streamIngestGate(spark: SparkSession, sfDir: String): DataFrame = {
    HashOracles.record(spark, sfDir)

    // two planted populations so BOTH gate verdicts are live: perturbed
    // copies of every 10th doc (must be flagged) and derivable NOVEL
    // docs off the 10k+5 slice (share no 5-gram shingle with any corpus
    // text -> must pass). Both are pure SQL functions of doc_id so the
    // oracle rebuilds them exactly.
    val dupes = scan(spark, sfDir, "documents")
      .where(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" nightly batch")).as("text"))
    val novel = scan(spark, sfDir, "documents")
      .where(pmod(col("doc_id"), lit(10)) === 5)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("zyq wubrak vexilo "),
          (col("doc_id") + 2000000L).cast("string"),
          lit(" cromulent frobz nixplat gorvane thrubix")).as("text"))
    val batchRows = dupes.unionByName(novel)
      .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING)).collect()
    // 4 deterministic micro-batches: enough to exercise multi-batch
    // foreachBatch + sink transactionality; verdicts are per-doc so the
    // batching cannot change them
    val feed = batchRows.groupBy(_._1 % 4).toSeq.sortBy(_._1).map(_._2.toSeq)

    EventQueries.replay(spark, "t41") { r =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import r.session.implicits._
      val sinkDir = r.scratchDir()
      val ckptDir = r.scratchDir()
      val corpus = scan(r.session, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val mem = MemoryStream[(Long, String)](r.session)
      // the gate persists its corpus index, which registers in the session
      // CacheManager and would silently substitute into OTHER queries'
      // plans after this replay finishes — stop() unpersists it, so the
      // harness leaves the session as it found it
      val q = graft.streaming.StreamOps.startNearDupGate(
        mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id",
        threshold = 0.5, path = sinkDir, checkpoint = ckptDir)
      r.onCleanup(q.stop())
      feed.foreach { b => mem.addData(b); q.processAllAvailable() }
      r.session.read.parquet(sinkDir)
        .select(col("id"), col("text"), col("match_id"),
          col("match_jaccard"), col("passed"))
    }
  }

  // -----------------------------------------------------------------
  // t40 — trained discriminative quality classifier
  // -----------------------------------------------------------------

  /** Training-sample bound for t40 — the trainCentroids contract (one
    * bounded deterministic collect per JVM per dir: hash slice,
    * id-ordered cap). */
  val NbMaxSample = 512

  private val nbTable = new Trained[graft.functions.NbTable]("NB table")

  /** Labels: `lang = 'en'` — the reference-distribution-vs-rest framing
    * of the GPT-3 classifier filter (train on a slice labeled by a
    * trusted signal, score the whole corpus). The harness corpus is
    * synthetic with a near-shared vocabulary across langs, so the
    * LEARNED margin is weak here by construction — NbQualitySpec proves
    * separation on a planted separable corpus; this binding proves the
    * corpus-scale plumbing and the oracle. */
  private def trainedNb(spark: SparkSession,
                        sfDir: String): graft.functions.NbTable =
    nbTable(sfDir) {
      val sample = scan(spark, sfDir, "documents")
        .where(pmod(xxhash64(col("doc_id")), lit(4L)) === 0)
        .where(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("id"), col("text"),
          (col("lang") <=> lit("en")).as("label"))
        .sort(col("id")).limit(NbMaxSample)
        .collect().map(r => (r.getString(1), r.getBoolean(2))).toSeq
      graft.functions.NbQuality.train(sample)
    }

  /** t40 — the trained classifier-filter stage (fastText-shape hashed
    * unigram+bigram Naive Bayes; see [[graft.functions.NbQuality]]):
    * score every document with the trained log-odds and gate on sign.
    *
    * 100 TB shape: ZERO exchanges — the weight table (fixed 4096 Longs)
    * and bias ride the task closure into one codegen scalar; scoring is
    * scan-side map work that parallelizes per input split. Training is
    * one bounded collect. Scores are scaled-integer Longs, so the
    * dump-time VALUES oracle re-derives them EXACTLY (rolling hash and
    * integer sums replayed in SQL — no float-order caveat anywhere). */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val table = trainedNb(spark, sfDir)
    scan(spark, sfDir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        nbQualityScore(col("text"), table).as("score_1e9"))
      .withColumn("pred", (col("score_1e9") > 0L).cast("int"))
  }

  /** DuckDB twin of t40, built at dump time from the trained table: the
    * full 4096-bucket weight VALUES (dense — collisions and untouched
    * buckets included), the same pretokenizer, the same `w1_w2` bigram
    * formation over the FILTERED word list, the same base-31 rolling
    * hash mod 1048573 folded to 4096, integer sums, strict sign gate. */
  private def qualityClassifierOracle: String = {
    val t = nbTable.forDump
    val rows = t.weights.zipWithIndex.map { case (w, b) => s"($b, $w)" }
    s"""WITH wv(b, w) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |d AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
       |                     x -> x <> '') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |f AS (
       |  SELECT doc_id,
       |         unnest(ws || list_transform(range(1, len(ws)),
       |                        i -> ws[i] || '_' || ws[i + 1])) AS feat
       |  FROM d),
       |h AS (
       |  SELECT doc_id,
       |         list_reduce(
       |           [CAST(0 AS BIGINT)] ||
       |           list_transform(range(1, length(feat) + 1),
       |             i -> CAST(unicode(substr(feat, CAST(i AS INT), 1)) AS BIGINT)),
       |           (a, c) -> (a * 31 + c) % 1048573) % 4096 AS b
       |  FROM f),
       |s AS (
       |  SELECT h.doc_id, SUM(wv.w) AS fsum
       |  FROM h JOIN wv USING (b) GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(${t.bias} + coalesce(s.fsum, 0) AS BIGINT) AS score_1e9,
       |       CASE WHEN ${t.bias} + coalesce(s.fsum, 0) > 0
       |            THEN 1 ELSE 0 END AS pred
       |FROM d LEFT JOIN s USING (doc_id)""".stripMargin
  }

  // -----------------------------------------------------------------
  // t42 — temperature-weighted source mixing allocation
  // -----------------------------------------------------------------

  /** The one token budget both the registered query and its oracle use —
    * a single definition (r17 advice) so a change can't desync them. */
  private val MixBudget = 1000000L

  /** t42 — the data-mixing WEIGHTS stage (the alpha/temperature
    * sampling of multilingual C4 — Xue et al. 2021, §3.1 — and the
    * Pile/LLaMA source mixes; t26 is the per-source admission stage
    * these quotas would feed): each source's share of a fixed token
    * budget is proportional to n_tokens^alpha with alpha = 1/2 —
    * up-weighting tail sources, flattening the head — apportioned to
    * integers by the largest-remainder (Hare) rule, so quotas sum to
    * the budget EXACTLY whenever any source has tokens.
    *
    * Engine-exactness: the only non-integer step is sqrt, which IEEE
    * 754 requires correctly rounded in both engines; the weight is
    * fixed-pointed as floor(sqrt(n_tokens) * 2^20) and everything
    * downstream (floor-div quota, remainder rank, +1 top-up) is 64-bit
    * integer arithmetic — no libm pow/ln ULP ever crosses the engine
    * boundary (the t33 priority-sampling discipline). Headroom:
    * budget * weight stays under 2^63 for corpora to ~7e13 tokens
    * (~300 TB of text); past that, widen the product to decimal(38,0).
    *
    * The 100 TB shape: ONE corpus pass, text never shuffles — the
    * scan-side map reduces each doc to (source, n_tok) and the partial
    * aggregate collapses to |sources| rows before the single
    * source-keyed exchange. Totals, residuals, and the remainder rank
    * are window functions OVER THE TINY PER-SOURCE TABLE (deliberately
    * NOT agg + crossJoin re-references, which would fork the lineage
    * into three corpus scans unless exchange reuse holds — the t23
    * pruning trap); the single-partition windows see |sources| rows. */
  def sourceMixAlloc(spark: SparkSession, sfDir: String): DataFrame =
    mixAllocLayout(scan(spark, sfDir, "documents"), budget = MixBudget)

  /** The apportionment core behind [[sourceMixAlloc]], public for
    * specs: input (source, text), output one row per source with its
    * integer quota. */
  def mixAllocLayout(docs: DataFrame, budget: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy().rowsBetween(
      W.unboundedPreceding, W.unboundedFollowing)
    docs
      .select(col("source"),
        size(tokensOf(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).cast("long").as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1048576.0))
          .cast("long"))
      .withColumn("w_total", sum(col("weight")).over(wAll))
      .withColumn("quota_floor",
        when(col("w_total") > 0, expr(s"(${budget}L * weight) div w_total"))
          .otherwise(lit(0L)))
      .withColumn("rem",
        when(col("w_total") > 0, expr(s"(${budget}L * weight) % w_total"))
          .otherwise(lit(0L)))
      .withColumn("resid",
        lit(budget) - sum(col("quota_floor")).over(wAll))
      .withColumn("rk",
        row_number().over(W.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        (col("quota_floor") +
          when(col("rk") <= col("resid") && col("weight") > 0, lit(1L))
            .otherwise(lit(0L))).cast("long").as("quota"))
  }

  // `raw` interpolator: keeps the regex escapes (\t, \x0B) literal like the
  // plain triple-quote did, while letting $MixBudget interpolate
  private val sourceMixAllocOracle =
    raw"""WITH tok AS (
      |  SELECT source,
      |         len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                         x -> len(x) > 0)) AS n_tok
      |  FROM documents),
      |per AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens
      |  FROM tok GROUP BY 1),
      |w AS (
      |  SELECT source, n_docs, n_tokens,
      |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT)
      |           AS weight
      |  FROM per),
      |q AS (
      |  SELECT source, n_docs, n_tokens, weight,
      |         CASE WHEN w_total > 0 THEN ($MixBudget * weight) // w_total
      |              ELSE 0 END AS quota_floor,
      |         CASE WHEN w_total > 0 THEN ($MixBudget * weight) % w_total
      |              ELSE 0 END AS rem
      |  FROM (SELECT w.*, sum(weight) OVER () AS w_total FROM w)),
      |r AS (
      |  SELECT q.*,
      |         $MixBudget - sum(quota_floor) OVER () AS resid,
      |         row_number() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM q)
      |SELECT source, n_docs, n_tokens, weight,
      |       CAST(quota_floor + CASE WHEN rk <= resid AND weight > 0
      |                               THEN 1 ELSE 0 END AS BIGINT) AS quota
      |FROM r""".stripMargin

  // -----------------------------------------------------------------
  // t43 — interpolated Kneser-Ney bigram LM scoring
  // -----------------------------------------------------------------

  /** t43 — t34's bigram score under the smoothing real LM filters
    * actually run (Kneser & Ney 1995; the interpolated form of Chen &
    * Goodman 1998, eq. 4.25, with fixed discount D = 0.75 — the KenLM
    * default order-2 shape):
    *
    *   P(w2|w1) = (c(w1,w2) − D)/c(w1,·)
    *            + (D·N1+(w1,·)/c(w1,·)) · N1+(·,w2)/N1+(·,·)
    *
    * MLE (t34) assigns boilerplate transitions probability ~1 and rare
    * ones their raw frequency; KN discounts every observed count by D
    * and redistributes the held-out mass through CONTINUATION counts —
    * how many distinct contexts a word follows — so a word that only
    * ever appears inside one fixed phrase ("Francisco") scores low in
    * novel contexts even when frequent. Only observed bigrams are
    * scored (the probe joins occurrences), so every p > 0 without
    * needing the unigram backoff row.
    *
    * Engine-exactness: all counts are integers; p is evaluated in the
    * SAME parenthesization in both engines (each IEEE op correctly
    * rounded → bit-identical doubles into ln — the t34 precedent), each
    * −ln(p) addend widens to DECIMAL(38,18) before SUM, mean divides in
    * double at the end.
    *
    * The 100 TB shape: corpus-scale rows cross exactly TWO exchanges —
    * the shared (w1,w2) bigram staging (one Exchange, reused by the
    * frequency aggregate and the probe; see [[bigramStream]]) and the
    * final per-doc aggregation. The three model tables are
    * vocabulary²-scale re-aggregations of `bfreq`: context totals +
    * fan-out N1+(w1,·) in ONE groupBy, continuation counts N1+(·,w2) in
    * another, and the type total N1+(·,·) as a 1-row broadcast summed
    * off ctx (NOT a fourth pass over corpus-scale shuffle data). Every
    * consumer references `bc`, so column pruning cannot de-unify the
    * staged exchange (the t23 trap). */
  def knBigramLogprob(spark: SparkSession, sfDir: String): DataFrame =
    knBigramLayout(scan(spark, sfDir, "documents"))

  /** The scoring core behind [[knBigramLogprob]], public for specs:
    * input (doc_id, text), output (doc_id, n_bigrams, nll). */
  def knBigramLayout(docs: DataFrame): DataFrame = {
    val bg = bigramStream(docs)
    val bfreq = bg.groupBy(col("w1"), col("w2"))
      .agg(count(col("doc_id")).as("bc"))
    // Type counts must reference bc's VALUE, not just its rows: a bare
    // count(bc) over the non-nullable bc is rewritten to count(1) by
    // NullPropagation, bc (and transitively doc_id) is then pruned from
    // that lineage's copy of the staging, and the shared (w1,w2)
    // exchange splits into a second corpus scan + tokenization (the t23
    // trap one rewrite deeper — measured on the cont lineage). The
    // otherwise-less CASE is nullable to the optimizer, so bc survives;
    // bc >= 1 always, so the value is the plain row count.
    val typeCount = count(when(col("bc") >= 1, lit(1)))
    val ctx = bfreq.groupBy(col("w1"))
      .agg(sum(col("bc")).as("cc"), typeCount.as("n1f"))
    val cont = bfreq.groupBy(col("w2")).agg(typeCount.as("n1b"))
    val tot = ctx.agg(coalesce(sum(col("n1f")), lit(0L))
      .cast("long").as("n1tot"))
    val p = (col("bc").cast("double") - lit(0.75)) / col("cc").cast("double") +
      ((lit(0.75) * col("n1f").cast("double")) / col("cc").cast("double")) *
        (col("n1b").cast("double") / col("n1tot").cast("double"))
    bg.join(bfreq, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        (sum((-log(p)).cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        col("nll").cast("decimal(28,6)").cast("double").as("nll"))
  }

  private val knBigramLogprobOracle =
    """WITH tok AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(ts[1:len(ts)-1]) AS w1,
      |         unnest(ts[2:len(ts)]) AS w2
      |  FROM tok WHERE len(ts) >= 2),
      |bfreq AS (SELECT w1, w2, count(*) AS bc FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, sum(bc) AS cc,
      |               count(CASE WHEN bc >= 1 THEN 1 END) AS n1f
      |        FROM bfreq GROUP BY 1),
      |cont AS (SELECT w2, count(CASE WHEN bc >= 1 THEN 1 END) AS n1b
      |         FROM bfreq GROUP BY 1),
      |tot AS (SELECT CAST(coalesce(sum(n1f), 0) AS BIGINT) AS n1tot FROM ctx)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(CAST(SUM(CAST(-ln(
      |              ((CAST(bc AS DOUBLE) - 0.75) / CAST(cc AS DOUBLE))
      |            + (((0.75 * CAST(n1f AS DOUBLE)) / CAST(cc AS DOUBLE))
      |               * (CAST(n1b AS DOUBLE) / CAST(n1tot AS DOUBLE))))
      |                            AS DECIMAL(38,18))) AS DOUBLE) / count(*)
      |            AS DECIMAL(28,6)) AS DOUBLE) AS nll
      |FROM bg JOIN bfreq USING (w1, w2) JOIN ctx USING (w1)
      |        JOIN cont USING (w2), tot
      |GROUP BY doc_id""".stripMargin

  // -----------------------------------------------------------------
  // t45 — BM25 retrieval (sparse top-k)
  // -----------------------------------------------------------------

  /** Query terms for the registered t45 row — corpus-frequent words so
    * the ranking is non-degenerate at every SF. */
  val Bm25Query: Seq[String] = Seq("spark", "join", "stream", "hash")

  /** t45 — BM25 top-k retrieval (Robertson & Zaragoza 2009; the Lucene
    * +1 idf form, k1 = 1.2, b = 0.75): score every document against a
    * term query and return the top 10 — the SPARSE retriever of a RAG /
    * hard-negative-mining pipeline (s21 is its dense sibling; t11 ranks
    * terms per doc, this ranks docs per query, with the length
    * normalization and idf saturation tf·idf lacks).
    *
    * Engine-exactness: integer tf/df/dl/N; the score is evaluated in
    * the SAME parenthesization in both engines (one ln per term — the
    * t11 precedent), each per-term addend widens to DECIMAL(38,18)
    * before the per-doc SUM (order-independence across partitionings),
    * and the top-k boundary orders by the ROUNDED score with a doc_id
    * tie-break (the t36 discipline).
    *
    * The 100 TB shape: the RETRIEVAL pass filters to query terms
    * immediately after the staged explode — only matching occurrences
    * ever reach the one (doc, term) exchange, so the pass is
    * O(postings(query)), and the top-k is TakeOrderedAndProject. The
    * corpus-stats pass (N, total token length) is a separate narrow
    * scan-side aggregate with NO explode; in production those two
    * numbers are index-build-time constants — recomputing them here is
    * the self-contained form, and parking the token arrays at a shared
    * exchange to fuse the passes would shuffle text-volume data, which
    * is worse than the second scan. */
  def bm25Retrieval(spark: SparkSession, sfDir: String): DataFrame =
    bm25Layout(scan(spark, sfDir, "documents"), Bm25Query, k = 10)

  /** The scoring core behind [[bm25Retrieval]], public for specs:
    * input (doc_id, text), output the top-k (doc_id, n_hits, dl,
    * score). */
  def bm25Layout(docs: DataFrame, query: Seq[String], k: Int): DataFrame = {
    val staged = docs.select(col("doc_id"), tokensOf(col("text")).as("ts"))
    val stats = staged.select(size(col("ts")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("total_dl"))
    // explode_OUTER on purpose: a plain explode makes the optimizer
    // infer `size(ts) > 0 AND isnotnull(ts)` and push it BELOW the
    // staging projection with tokens_of inlined — THREE tokenization
    // passes per row (the t34 staging trap, via InferFiltersFromGenerate
    // this time). Outer explode infers nothing; its extra null-term rows
    // (token-free docs) die in the IN-filter, value-identically.
    val tf = staged
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode_outer(col("ts")).as("term"))
      .where(col("term").isin(query: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      ((col("n_docs").cast("double") - col("df").cast("double")) + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        ((lit(1.0) - lit(0.75)) +
          lit(0.75) * (col("dl").cast("double") / avgdl)))
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        max(col("dl")).cast("long").as("dl"),
        round(sum((idf * tfn).cast("decimal(38,18)")).cast("double"), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  // raw interpolator: term IN-list built from Bm25Query itself (r17
  // advice) so editing the query terms can't desync the oracle; regex
  // escapes stay literal as with the plain triple-quote. Parameterized
  // on k so t46's fusion oracle reuses the identical scoring SQL at
  // its own list depth.
  private def bm25TopSql(k: Int): String =
    raw"""WITH tok AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
      |                     x -> len(x) > 0) AS ts
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(coalesce(sum(len(ts)), 0) AS BIGINT) AS total_dl
      |  FROM tok),
      |e AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tok),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |  FROM e WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY 1, 2),
      |wdf AS (SELECT tf.*, count(*) OVER (PARTITION BY term) AS df FROM tf)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
      |       CAST(max(dl) AS BIGINT) AS dl,
      |       round(CAST(SUM(CAST(
      |         ln(1.0 + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
      |                  / (CAST(df AS DOUBLE) + 0.5))
      |         * ((CAST(tf AS DOUBLE) * 2.2)
      |            / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
      |               + 0.75 * (CAST(dl AS DOUBLE)
      |                         / (CAST(total_dl AS DOUBLE)
      |                            / CAST(n_docs AS DOUBLE))))))
      |         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
      |FROM wdf, stats
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT $k""".stripMargin

  private val bm25RetrievalOracle = bm25TopSql(10)

  // -----------------------------------------------------------------
  // t46 — hybrid retrieval fusion (RRF of sparse BM25 + dense cosine)
  // -----------------------------------------------------------------

  /** RRF constant k (Cormack, Clarke & Buettcher 2009 — 60 is the
    * paper's setting and the default of every production fusion). */
  val RrfK = 60
  /** Integer contribution scale: each list contributes
    * floor(1e12 / (k + rank)) — exact 64-bit arithmetic in BOTH
    * engines (Spark `div`, DuckDB `//`), no float RRF sum whose ULP
    * could flip the fused boundary. Rank-equivalent to the float form
    * whenever score gaps exceed 1e-12 of the scale — at depth ≤ 20 the
    * closest distinct float-RRF scores differ by ≥ 1e-4, twelve orders
    * above the floor loss. */
  val RrfScale = 1000000000000L
  /** Per-list fusion depth and final cut. */
  val RrfDepth = 20
  val RrfTopK = 10

  /** t46 — hybrid retrieval (r17 verdict missing-capability #2): fuse
    * the sparse BM25 ranking (t45, the term query) with the dense
    * cosine ranking (s01's brute shape, query vector = vec_id 0) by
    * reciprocal-rank fusion — the standard RAG composition: documents
    * high on EITHER list surface, agreement compounds, and rank (not
    * score) fusion makes the two incomparable score scales commute.
    *
    * Engine-exactness: both input rankings are integer row_numbers over
    * orderings each already hash-verified cross-engine (t45's rounded
    * score, s01's cosine); the fused score is pure integer floor-div
    * arithmetic. A doc missing from one list carries rank 0 = zero
    * contribution (NOT null — keeps every output column non-nullable
    * through the full-outer merge).
    *
    * 100 TB shape: each branch keeps its own scale story (t45's
    * postings-filtered exchange, s01→s07's bucketed candidates); the
    * fusion itself joins two k-row lists — driver-trivial at any corpus
    * size, one broadcast-able full-outer join per query. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val sparse = bm25Layout(scan(spark, sfDir, "documents"),
        Bm25Query, k = RrfDepth)
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).as("sparse_rank"))
    val emb = scan(spark, sfDir, "embeddings")
    val dense = graft.sim.Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 0), emb, k = RrfDepth)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuse(sparse, dense)
  }

  /** The fusion core behind [[rrfFusion]], public for specs: input two
    * (doc_id, *_rank) lists, output the fused top-[[RrfTopK]]. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame): DataFrame =
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("sparse_rank"), lit(0)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
      .withColumn("rrf_score",
        (when(col("sparse_rank") > 0,
          expr(s"${RrfScale}L div ($RrfK + sparse_rank)"))
          .otherwise(lit(0L)) +
         when(col("dense_rank") > 0,
          expr(s"${RrfScale}L div ($RrfK + dense_rank)"))
          .otherwise(lit(0L))).cast("long"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_score").desc, col("doc_id"))))
      .where(col("rank") <= RrfTopK)
      .select(col("rank"), col("doc_id"), col("sparse_rank"),
        col("dense_rank"), col("rrf_score"))

  private val rrfFusionOracle =
    s"""WITH sparse AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |              AS INTEGER) AS sparse_rank
       |  FROM (${bm25TopSql(RrfDepth)})),
       |dense AS (
       |  SELECT neighbor_id AS doc_id, CAST(rank AS INTEGER) AS dense_rank
       |  FROM (
       |    SELECT c.vec_id AS neighbor_id,
       |           row_number() OVER (
       |             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings
       |          WHERE vec_id = 0) q,
       |         (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |          WHERE vec_id <> 0) c)
       |  WHERE rank <= $RrfDepth),
       |f AS (
       |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
       |         coalesce(s.sparse_rank, 0) AS sparse_rank,
       |         coalesce(d.dense_rank, 0) AS dense_rank
       |  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id),
       |g AS (
       |  SELECT doc_id, sparse_rank, dense_rank,
       |         CAST(CASE WHEN sparse_rank > 0
       |                   THEN $RrfScale // ($RrfK + sparse_rank)
       |                   ELSE 0 END
       |            + CASE WHEN dense_rank > 0
       |                   THEN $RrfScale // ($RrfK + dense_rank)
       |                   ELSE 0 END AS BIGINT) AS rrf_score
       |  FROM f)
       |SELECT rank, doc_id, sparse_rank, dense_rank, rrf_score FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
       |              AS INTEGER) AS rank, *
       |  FROM g) WHERE rank <= $RrfTopK""".stripMargin

  // -----------------------------------------------------------------
  // t47 — unigram-LM (SentencePiece-family) token counting
  // -----------------------------------------------------------------

  /** Unigram vocab budget / hard-EM rounds — operator parameters in the
    * BPE-knob sense. On the 31-word harness corpus the budget never
    * binds (the seed has ~hundreds of substrings); UnigramLmSpec pins
    * real pruning pressure on the planted wide-vocab corpus. */
  val UniVocabSize = 400
  val UniRounds = 2

  private val unigramVocab = new Trained[Seq[(String, Long)]]("unigram vocab")

  private[queries] def trainedUnigram(spark: SparkSession,
                                      sfDir: String): Seq[(String, Long)] =
    unigramVocab(sfDir) {
      // the trainedBpe sample contract: bounded deterministic 1/4 hash
      // slice, id-ordered cap — SAME sample, so the two tokenizer
      // families train on identical text and their fertility compares
      // like-for-like (t44 vs UnigramLmSpec)
      val texts = scan(spark, sfDir, "documents")
        .where(pmod(xxhash64(col("doc_id")), lit(4L)) === 0)
        .where(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .sort(col("id")).limit(BpeMaxSample)
        .collect().map(_.getString(1)).toSeq
      graft.functions.UnigramLm.train(texts, UniVocabSize, UniRounds)
    }

  /** t47 — token counting under the SECOND trained tokenizer family
    * (r17 verdict item 6): the unigram-LM (SentencePiece) model of Kudo
    * 2018, per doc (n_words, n_pieces, total_cost) under the trained
    * piece vocabulary — what a tokenizer bake-off actually tabulates
    * against the BPE twin t37/t44. Apply is Viterbi (min total integer
    * cost; min pieces among cost ties — both well-defined aggregate
    * mins, no tie-break leaks into the output), per-distinct-word
    * memoized, as ONE codegen scalar.
    *
    * Engine-exactness: costs are integers fixed at train time (the one
    * driver-side -ln happens before either engine sees them); DuckDB
    * verifies the Viterbi DP by brute-force ENUMERATION of all
    * segmentations (recursive CTE over the dump-time VALUES vocab) —
    * two different algorithms, same exact integers; safe because the
    * corpus' max word length is 8 (≤ 2^7 compositions per word).
    *
    * 100 TB shape: the BpeDocCount contract — zero joins, zero explode,
    * text dies in the scan-side projection, the trained table rides the
    * task closure, and the output is |docs| narrow rows. */
  def unigramTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = trainedUnigram(spark, sfDir)
    scan(spark, sfDir, "documents")
      .select(col("doc_id"),
        unigramDocStats(col("text"), vocab).as("st"))
      .select(col("doc_id"),
        coalesce(element_at(col("st"), 1), lit(0L)).as("n_words"),
        coalesce(element_at(col("st"), 2), lit(0L)).as("n_pieces"),
        coalesce(element_at(col("st"), 3), lit(0L)).as("total_cost"))
  }

  /** DuckDB twin of t47: the trained (piece, cost) table as dump-time
    * VALUES; every segmentation of every distinct corpus word is
    * enumerated by recursive CTE (single chars absent from the vocab
    * join in at the engine's UnkCost via `v2`), then min(cost) and
    * min(pieces | cost = min) — the aggregates the engine's Viterbi
    * computes in O(|w|·maxLen). */
  private def unigramTokenCountOracle: String = {
    val rows =
      unigramVocab.forDump.map { case (p, c) => s"(${sqlStr(p)}, $c)" }
    s"""WITH RECURSIVE v(piece, cost) AS (VALUES
       |  ${rows.mkString(",\n  ")}),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS w
       |  FROM documents),
       |wt AS (SELECT doc_id, w, count(*) AS cnt FROM tok
       |       WHERE len(w) > 0 GROUP BY 1, 2),
       |-- guard at ORACLE altitude (the engine's linear Viterbi is fine
       |-- with long words; only this enumeration is O(2^|w|) per word):
       |-- a corpus change with >16-char words fails THIS dump loudly
       |-- instead of exploding DuckDB's recursion time/memory silently
       |dw AS (SELECT CASE WHEN len(w) > 16 THEN error(
       |         't47 oracle: word "' || w || '" exceeds 16 chars - the ' ||
       |         'segmentation enumeration is O(2^|w|); re-derive the ' ||
       |         'bound before raising') ELSE w END AS w
       |       FROM (SELECT DISTINCT w FROM wt)),
       |chars AS (
       |  SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS piece
       |  FROM dw, (SELECT unnest(generate_series(1,
       |         (SELECT max(len(w)) FROM dw))) AS i) s
       |  WHERE i <= len(w)),
       |v2 AS (
       |  SELECT piece, CAST(cost AS BIGINT) AS cost FROM v
       |  UNION ALL
       |  SELECT c.piece, CAST(${graft.functions.UnigramLm.UnkCost} AS BIGINT)
       |  FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.piece = c.piece)),
       |seg AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS cost,
       |         CAST(0 AS BIGINT) AS np
       |  FROM dw
       |  UNION ALL
       |  SELECT s.w, s.pos + len(p.piece), s.cost + p.cost, s.np + 1
       |  FROM seg s JOIN v2 p
       |    ON p.piece = substr(s.w, s.pos + 1, len(p.piece))
       |  WHERE s.pos < len(s.w)),
       |best AS (
       |  SELECT w, min(cost) AS cost FROM seg WHERE pos = len(w)
       |  GROUP BY w),
       |bestnp AS (
       |  SELECT s.w, b.cost, min(s.np) AS np
       |  FROM seg s JOIN best b ON b.w = s.w AND s.pos = len(s.w)
       |    AND s.cost = b.cost
       |  GROUP BY s.w, b.cost),
       |per AS (
       |  SELECT wt.doc_id, sum(wt.cnt) AS n_words,
       |         sum(wt.cnt * bn.np) AS n_pieces,
       |         sum(wt.cnt * bn.cost) AS total_cost
       |  FROM wt JOIN bestnp bn ON bn.w = wt.w
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(p.n_pieces, 0) AS BIGINT) AS n_pieces,
       |       CAST(coalesce(p.total_cost, 0) AS BIGINT) AS total_cost
       |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin
  }

  // -----------------------------------------------------------------
  // t44 — tokenizer fertility / compression per language
  // -----------------------------------------------------------------

  /** t44 — the tokenizer-evaluation stage (fertility and compression,
    * the per-language metrics of the XLM-R/BLOOM tokenizer analyses;
    * e.g. Rust et al. 2021, "How Good is Your Tokenizer?"): per
    * language, bytes-per-trained-token (compression) and trained
    * tokens per whitespace word (fertility) under the SAME trained BPE
    * t24/t26/t37/t39 budget and count with. A language whose fertility
    * is far above the corpus mean is under-served by the merge table —
    * the signal that drives vocabulary rebalancing before a multi-
    * lingual run.
    *
    * Engine-exactness: integer sums only (counts commute), ONE double
    * division per output ratio, rounded to 6dp — no order-dependent
    * float accumulation anywhere. The 100 TB shape: zero-join,
    * single-exchange — both counters (`bpe_doc_count`, the trained
    * fixpoint scalar; `tokens_of` size) run in the same codegen'd
    * scan-side projection, text dies at the scan, and the |langs|-row
    * aggregate combines map-side. */
  def tokenFertility(spark: SparkSession, sfDir: String): DataFrame =
    fertilityLayout(scan(spark, sfDir, "documents"),
      trainedBpe(spark, sfDir))

  /** The metric core behind [[tokenFertility]], public for specs: input
    * (lang, n_chars, text) scored under the given merge table. */
  def fertilityLayout(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    docs
      .select(col("lang"), col("n_chars"),
        coalesce(bpeDocCount(col("text"), merges).cast("long"), lit(0L))
          .as("n_bpe"),
        size(tokensOf(col("text"))).cast("long").as("n_ws"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("n_bpe")).cast("long").as("n_bpe_tokens"),
        sum(col("n_ws")).cast("long").as("n_ws_tokens"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        col("n_bpe_tokens"), col("n_ws_tokens"),
        when(col("n_bpe_tokens") > 0,
          round(col("sum_chars").cast("double") /
            col("n_bpe_tokens").cast("double"), 6)).as("chars_per_token"),
        when(col("n_ws_tokens") > 0,
          round(col("n_bpe_tokens").cast("double") /
            col("n_ws_tokens").cast("double"), 6)).as("fertility"))
  }

  /** DuckDB twin of t44 (dump-time: embeds the trained merges and
    * re-derives every per-doc count through the shared fixpoint). */
  private def tokenFertilityOracle: String =
    """WITH RECURSIVE @MERGES,
      |wx AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS w
      |  FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS cnt FROM wx
      |       WHERE w <> '' GROUP BY 1, 2),
      |v AS (SELECT DISTINCT w FROM wc),
      |@FIXPOINT,
      |tok AS (
      |  SELECT doc_id, CAST(sum(wc.cnt * d.ntok) AS BIGINT) AS n_bpe
      |  FROM wc JOIN done d ON d.w = wc.w GROUP BY 1),
      |base AS (
      |  SELECT d.lang, d.n_chars,
      |         CAST(coalesce(tok.n_bpe, 0) AS BIGINT) AS n_bpe,
      |         len(list_filter(string_split_regex(lower(trim(d.text)), '[ \t\n\x0B\f\r]+'),
      |                         x -> len(x) > 0)) AS n_ws
      |  FROM documents d LEFT JOIN tok USING (doc_id))
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
      |       CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
      |       CASE WHEN sum(n_bpe) > 0
      |            THEN round(CAST(sum(n_chars) AS DOUBLE)
      |                       / CAST(sum(n_bpe) AS DOUBLE), 6) END
      |         AS chars_per_token,
      |       CASE WHEN sum(n_ws) > 0
      |            THEN round(CAST(sum(n_bpe) AS DOUBLE)
      |                       / CAST(sum(n_ws) AS DOUBLE), 6) END
      |         AS fertility
      |FROM base GROUP BY 1""".stripMargin
      .replace("@MERGES", bpeMergesCte("t44"))
      .replace("@FIXPOINT", bpeFixpointCtes)
}
