package graft.queries

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Dump-time DuckDB oracles for the seeded-hash near-dup queries
  * (s03/s04/t09) — the s07 pattern: constants that DuckDB cannot recompute
  * (Java 64-bit wraparound MinHash/SimHash signatures; DuckDB BIGINT
  * arithmetic throws on overflow instead of wrapping) are embedded into
  * the oracle SQL as VALUES literals at dump time, and EVERYTHING
  * downstream of them is recomputed by DuckDB independently:
  *
  *   - s03: the (band, bucket) candidate equi-join, pair dedup, the exact
  *     Jaccard verify — recomputed from RAW TEXT with string 5-gram sets,
  *     not the engine's hashed grams — the ≥ threshold filter and
  *     rounding;
  *   - s04: the 4×16-bit chunk split, chunk equi-join, Hamming distance
  *     (bit_count over xor), pair dedup, the ≤ 3 filter;
  *   - t09: the ENTIRE composite pipeline — sha256 exact dedup, candidate
  *     join, string-gram Jaccard verify, connected components as a
  *     recursive CTE (min-reachable-id labels == clusterAssign's min-label
  *     fixpoint), min-id survivor selection, the token-count quality
  *     floor, the LCG systematic sample, and the chunk explode.
  *
  * The embedded literals themselves are NOT copied out of the engine's
  * result: they are recomputed at dump time by the plain-Scala
  * re-implementations below ([[minhashSig]] / [[simhash64]] — separate
  * code from the Catalyst expressions' eval/codegen, operating on
  * `String`/`Array[Byte]` instead of `UTF8String`), from document texts
  * collected off the raw parquet. A defect in the native expressions'
  * byte-walk or codegen would therefore surface as an oracle mismatch, not
  * be baked into the oracle. The only piece shared with the engine by
  * design is configuration: the seed constants
  * ([[graft.functions.MinHashSig.affineSeeds]]). Even the XXH64
  * band-bucket hash is reimplemented from the published xxHash spec
  * ([[xxh64Long]]) rather than calling catalyst's `XXH64` — parity with
  * the engine's `bandHashes` is pinned in HashOraclesSpec.
  *
  * Queries record their (session, dir) in a [[Trained]] memo on each run;
  * Verify dumps `oracle_sql.json` after every query has run, so the
  * thunks read the documents of the dir being dumped. A thunk whose query
  * never ran for that dir throws, and the dump writes that query's
  * failure sentinel ([[Registry.oracleSqlFor]]).
  */
object HashOracles {

  private val runs = new Trained[(SparkSession, String)]("documents session")

  /** Called by the near-dup query builders on each run. Keyed by dir so a
    * dump after runs against TWO dirs in one JVM embeds the right
    * corpus's signatures. */
  def record(spark: SparkSession, sfDir: String): Unit =
    runs(sfDir)((spark, sfDir))

  // ---------------------------------------------------------------------
  // Plain-Scala reference implementations (byte-level, ASCII-exact twins
  // of the native expressions; the harness corpora are pure ASCII, where
  // byte windows == char windows)
  // ---------------------------------------------------------------------

  /** Murmur3 64-bit finalizer — reimplemented here (not a call into the
    * expression under test). */
  def fmix64(v: Long): Long = {
    var x = v
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** Spark's `lower(trim(text))` as bytes: trim strips 0x20 only (NOT
    * Java's String.trim, which strips all ctrl chars); lower is plain
    * ASCII case-fold for these corpora. */
  def normBytes(text: String): Array[Byte] = {
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) == ' ') from += 1
    while (to > from && text.charAt(to - 1) == ' ') to -= 1
    text.substring(from, to).toLowerCase(java.util.Locale.ROOT)
      .getBytes(StandardCharsets.UTF_8)
  }

  /** MinHash signature over k-byte windows: rolling polynomial (×131) →
    * fmix64 → per-function affine `a_i·x + b_i` (wraparound) minima.
    * Seeds shared with the engine — they are configuration, like s07's
    * trained centroids. */
  def minhashSig(norm: Array[Byte], k: Int = 5,
                 numHashes: Int = 32): Array[Long] = {
    val (as, bs) = graft.functions.MinHashSig.affineSeeds(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var p = 0
    while (p + k <= norm.length) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 131L + norm(p + j); j += 1 }
      val base = fmix64(h)
      var i = 0
      while (i < numHashes) {
        val x = as(i) * base + bs(i)
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      p += 1
    }
    mins
  }

  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  /** XXH64 of ONE 8-byte long — reimplemented from the published xxHash
    * spec (small-input path: seed init, one 8-byte round, length mix,
    * avalanche), NOT a call into catalyst's XXH64. */
  def xxh64Long(value: Long, seed: Long): Long = {
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var acc = seed + P5 + 8L
    acc ^= rotl(value * P2, 31) * P1
    acc = rotl(acc, 27) * P1 + P4
    acc ^= acc >>> 33; acc *= P2
    acc ^= acc >>> 29; acc *= P3
    acc ^ (acc >>> 32)
  }

  /** The engine's `xxhash64(slice(sig, b·r+1, r))` band bucket: Spark's
    * XxHash64 over an ARRAY<BIGINT> folds the per-element hash from
    * seed 42, each step seeding the next. */
  def bandBuckets(sig: Array[Long], bands: Int = 8): Array[Long] = {
    val r = sig.length / bands
    Array.tabulate(bands) { b =>
      var acc = 42L
      var i = 0
      while (i < r) { acc = xxh64Long(sig(b * r + i), acc); i += 1 }
      acc
    }
  }

  /** 64-bit SimHash over ASCII-whitespace tokens: poly131 + fmix64 per
    * token, ±1 bit votes, sign bits. */
  def simhash64(norm: Array[Byte]): Long = {
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B
    val counts = new Array[Int](64)
    var p = 0
    while (p < norm.length) {
      while (p < norm.length && isSpace(norm(p))) p += 1
      if (p < norm.length) {
        var h = 0L
        while (p < norm.length && !isSpace(norm(p))) {
          h = h * 131L + norm(p); p += 1
        }
        h = fmix64(h)
        var i = 0
        while (i < 64) {
          counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  // ---------------------------------------------------------------------
  // Corpus + VALUES builders
  // ---------------------------------------------------------------------

  /** (doc_id, text) off the raw documents parquet — 500 rows at every
    * shipped SF, collected once per dump. */
  private def docs(): Array[(Long, String)] = {
    val (spark, sfDir) = runs.forDump
    graft.ops.CoreOps.scan(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
  }

  private def withPerturbed(base: Array[(Long, String)],
                            suffix: String): Array[(Long, String)] =
    base ++ base.map { case (id, t) => (id + 1000000L, t + suffix) }

  private def bandValues(corpus: Array[(Long, String)]): String =
    corpus.flatMap { case (id, t) =>
      bandBuckets(minhashSig(normBytes(t))).zipWithIndex.map {
        case (bucket, band) => s"($id, $band, ${bucket}::BIGINT)"
      }
    }.mkString(",\n  ")

  private def simhashValues(corpus: Array[(Long, String)]): String =
    corpus.map { case (id, t) =>
      s"($id, ${simhash64(normBytes(t))}::BIGINT)"
    }.mkString(",\n  ")

  /** DuckDB distinct 5-gram list of `lower(trim(text))` — mirrors
    * rawShingles/GramHashes: a doc shorter than 5 chars contributes its
    * whole text as one gram (`greatest(len-4, 1)`). String grams, not the
    * engine's hashed grams: Jaccard is identical modulo 64-bit collisions,
    * so the verify arithmetic is independently recomputed. */
  private def gramsSql(textExpr: String): String =
    s"list_distinct(list_transform(" +
      s"generate_series(1, greatest(length(lower(trim($textExpr))) - 4, 1))," +
      s" i -> substring(lower(trim($textExpr)), CAST(i AS BIGINT), 5)))"

  /** s03: candidates from embedded band buckets; Jaccard verify, filter,
    * and rounding recomputed by DuckDB from raw text. */
  def minhashNearDupOracle: String = {
    val values = bandValues(withPerturbed(docs(), " perturbed tail"))
    s"""WITH bb(id, band, bucket) AS (VALUES
       |  $values),
       |corpus(id, text) AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' perturbed tail' FROM documents),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bb a JOIN bb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |g AS (SELECT id, ${gramsSql("text")} AS grams FROM corpus),
       |j AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |         CAST(len(ga.grams) + len(gb.grams)
       |              - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |           AS jac
       |  FROM cand c
       |  JOIN g ga ON ga.id = c.id_a
       |  JOIN g gb ON gb.id = c.id_b)
       |SELECT id_a, id_b, round(jac, 6) AS jaccard
       |FROM j WHERE jac >= 0.5""".stripMargin
  }

  /** t48: the per-source dedup/contamination accounting report (Dolma-
    * style; r17 verdict item 7) — s03's embedded band buckets and
    * Jaccard-verify SQL, with the surviving pairs aggregated per source
    * (the planted perturbed copies form their own 'perturbed' source, so
    * cross-source overlap is non-degenerate at every SF): near-dup doc
    * counts, cross-source pair counts per side, and corpus-wide exact-
    * duplicate membership via the same sha256 collapse key the engine
    * uses. */
  def sourceDedupReportOracle: String = {
    val values = bandValues(withPerturbed(docs(), " perturbed tail"))
    s"""WITH bb(id, band, bucket) AS (VALUES
       |  $values),
       |corpus(id, src, text) AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, 'perturbed', text || ' perturbed tail'
       |  FROM documents),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bb a JOIN bb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |g AS (SELECT id, ${gramsSql("text")} AS grams FROM corpus),
       |j AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |         CAST(len(ga.grams) + len(gb.grams)
       |              - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |           AS jac
       |  FROM cand c
       |  JOIN g ga ON ga.id = c.id_a
       |  JOIN g gb ON gb.id = c.id_b),
       |p AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
       |ab AS (
       |  SELECT p.id_a, p.id_b, ca.src AS src_a, cb.src AS src_b
       |  FROM p JOIN corpus ca ON ca.id = p.id_a
       |         JOIN corpus cb ON cb.id = p.id_b),
       |touched AS (
       |  SELECT src, count(DISTINCT id) AS n_neardup_docs FROM (
       |    SELECT src_a AS src, id_a AS id FROM ab
       |    UNION ALL SELECT src_b, id_b FROM ab) GROUP BY 1),
       |crossp AS (
       |  SELECT src, count(*) AS n_cross_pairs FROM (
       |    SELECT src_a AS src FROM ab WHERE src_a <> src_b
       |    UNION ALL SELECT src_b FROM ab WHERE src_a <> src_b)
       |  GROUP BY 1),
       |ek AS (
       |  SELECT src, substr(sha256(lower(trim(text))), 1, 16) AS k
       |  FROM corpus WHERE text IS NOT NULL),
       |dup AS (SELECT k FROM ek GROUP BY k HAVING count(*) >= 2),
       |exact AS (
       |  SELECT src, count(*) AS n_exact FROM ek JOIN dup USING (k)
       |  GROUP BY 1),
       |base AS (SELECT src, count(*) AS n_docs FROM corpus GROUP BY 1)
       |SELECT base.src AS source,
       |       CAST(base.n_docs AS BIGINT) AS n_docs,
       |       CAST(coalesce(exact.n_exact, 0) AS BIGINT)
       |         AS n_exact_dup_docs,
       |       CAST(coalesce(touched.n_neardup_docs, 0) AS BIGINT)
       |         AS n_neardup_docs,
       |       CAST(coalesce(crossp.n_cross_pairs, 0) AS BIGINT)
       |         AS n_cross_pairs
       |FROM base
       |LEFT JOIN exact ON exact.src = base.src
       |LEFT JOIN touched ON touched.src = base.src
       |LEFT JOIN crossp ON crossp.src = base.src""".stripMargin
  }

  /** t27: batch-vs-corpus candidates from embedded band buckets (both
    * slices' signatures recomputed at dump time by the plain-Scala
    * reference implementations); the asymmetric band join, Jaccard
    * verify, filter, and rounding recomputed by DuckDB from raw text. */
  def incrementalNearDupOracle: String = {
    val d = docs()
    val corpusValues = bandValues(d)
    def novelText(id: Long) =
      s"zyq wubrak vexilo $id cromulent frobz nixplat gorvane thrubix"
    val batchValues = bandValues(
      d.filter(_._1 % 10 == 0)
        .map { case (id, t) => (id + 1000000L, t + " nightly batch") } ++
      d.filter(_._1 % 10 == 5)
        .map { case (id, _) => (id + 2000000L, novelText(id + 2000000L)) })
    s"""WITH bbc(id, band, bucket) AS (VALUES
       |  $corpusValues),
       |bbb(id, band, bucket) AS (VALUES
       |  $batchValues),
       |corpus(id, text) AS (SELECT doc_id, text FROM documents),
       |batch(id, text) AS (
       |  SELECT doc_id + 1000000, text || ' nightly batch'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |         'zyq wubrak vexilo ' || (doc_id + 2000000)
       |           || ' cromulent frobz nixplat gorvane thrubix'
       |  FROM documents WHERE doc_id % 10 = 5),
       |cand AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bbb b JOIN bbc c
       |    ON b.band = c.band AND b.bucket = c.bucket),
       |gc AS (SELECT id, ${gramsSql("text")} AS grams FROM corpus),
       |gb AS (SELECT id, ${gramsSql("text")} AS grams FROM batch),
       |j AS (
       |  SELECT cd.batch_id, cd.corpus_id,
       |         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |         CAST(len(a.grams) + len(b.grams)
       |              - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |           AS jac
       |  FROM cand cd
       |  JOIN gc a ON a.id = cd.corpus_id
       |  JOIN gb b ON b.id = cd.batch_id)
       |SELECT batch_id, corpus_id, round(jac, 6) AS jaccard
       |FROM j WHERE jac >= 0.5""".stripMargin
  }

  /** t41: the streaming ingest gate's oracle — t27's embedded-signature
    * machinery (both slices' band buckets recomputed at dump time by the
    * plain-Scala reference implementations) extended to the gate's
    * verdict shape: per batch doc, the best corpus match (highest
    * Jaccard, ties → lowest corpus id — the engine's min_by struct
    * order, compared on the UNROUNDED jac so rounding can't flip a
    * near-tie) and the passed flag, with every batch doc surviving via
    * the LEFT JOIN exactly as the annotated sink keeps flagged rows. */
  def streamIngestGateOracle: String = {
    val d = docs()
    val corpusValues = bandValues(d)
    def novelText(id: Long) =
      s"zyq wubrak vexilo $id cromulent frobz nixplat gorvane thrubix"
    val batchValues = bandValues(
      d.filter(_._1 % 10 == 0)
        .map { case (id, t) => (id + 1000000L, t + " nightly batch") } ++
      d.filter(_._1 % 10 == 5)
        .map { case (id, _) => (id + 2000000L, novelText(id + 2000000L)) })
    s"""WITH bbc(id, band, bucket) AS (VALUES
       |  $corpusValues),
       |bbb(id, band, bucket) AS (VALUES
       |  $batchValues),
       |corpus(id, text) AS (SELECT doc_id, text FROM documents),
       |batch(id, text) AS (
       |  SELECT doc_id + 1000000, text || ' nightly batch'
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |         'zyq wubrak vexilo ' || (doc_id + 2000000)
       |           || ' cromulent frobz nixplat gorvane thrubix'
       |  FROM documents WHERE doc_id % 10 = 5),
       |cand AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bbb b JOIN bbc c
       |    ON b.band = c.band AND b.bucket = c.bucket),
       |gc AS (SELECT id, ${gramsSql("text")} AS grams FROM corpus),
       |gb AS (SELECT id, ${gramsSql("text")} AS grams FROM batch),
       |j AS (
       |  SELECT cd.batch_id, cd.corpus_id,
       |         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |         CAST(len(a.grams) + len(b.grams)
       |              - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |           AS jac
       |  FROM cand cd
       |  JOIN gc a ON a.id = cd.corpus_id
       |  JOIN gb b ON b.id = cd.batch_id),
       |best AS (
       |  SELECT batch_id, corpus_id AS match_id,
       |         round(jac, 6) AS match_jaccard
       |  FROM (SELECT batch_id, corpus_id, jac,
       |               row_number() OVER (PARTITION BY batch_id
       |                                  ORDER BY jac DESC, corpus_id) AS rn
       |        FROM j WHERE jac >= 0.5)
       |  WHERE rn = 1)
       |SELECT b.id, b.text, best.match_id, best.match_jaccard,
       |       CASE WHEN best.match_id IS NULL THEN 1 ELSE 0 END AS passed
       |FROM batch b LEFT JOIN best ON b.id = best.batch_id""".stripMargin
  }

  /** Corpus-size ceiling for t29's recall-complete brute-force oracle:
    * every shipped harness SF (500 docs at sf0.01, fewer below) sits
    * under it, so the DRIVER GATE always runs the candidate-independent
    * form (~40 s in DuckDB for ~600k length-gap-filtered pairs at
    * sf0.01, measured); scaled worlds (×10 grow = 5000 docs → ~100×
    * the Levenshtein DPs) fall back to the candidate-echo form, where
    * recall is covered by RecallProbe/ScaledRecallSpec instead. */
  private[queries] val FuzzyBruteForceMaxDocs = 600

  /** t29: the fuzzy verify over all length-gap-filtered pairs, or past
    * [[FuzzyBruteForceMaxDocs]] over candidates from embedded band
    * buckets (same machinery as s03); the 200-char prefix, the Levenshtein
    * DP, the Jaro-Winkler similarity, the ≤ 20 threshold, and the decimal
    * rounding all recomputed by DuckDB from raw text. DuckDB levenshtein
    * counts bytes where Spark counts codepoints — equivalent on the pure-
    * ASCII harness corpora (the t18 caveat); jaro_winkler_similarity is
    * DuckDB's independent implementation, bit-identical to the native
    * expression (validated on 7k random pairs in JaroWinklerSpec). */
  def fuzzyNearDupOracle: String = docs() match {
    case d if d.length <= FuzzyBruteForceMaxDocs =>
      // RECALL-COMPLETE brute force (r14 verdict item 5, the s16/s15
      // pattern): all pairs under a sound length-gap prefilter
      // (lev >= |len gap|, so no qualifying pair is pruned), NO shared
      // band constants — a pair the engine's LSH misses now FAILS the
      // gate instead of vanishing identically on both sides. Metrics on
      // PlantedFuzzy-transcoded args so DuckDB's byte walk computes
      // codepoint distances on the planted pairs (ASCII identity); the
      // transcoded text's byte length IS its codepoint length, so the
      // prefilter stays sound on multibyte rows too.
      s"""WITH corpus(id, text) AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' fuzzy tail' FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |  ${PlantedFuzzy.sqlValues}) pf(id, text)),
         |p AS (SELECT id, ${PlantedFuzzy.tcSql("substring(text, 1, 200)")} AS t
         |      FROM corpus),
         |j AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         levenshtein(a.t, b.t) AS dist,
         |         jaro_winkler_similarity(a.t, b.t) AS jw
         |  FROM p a, p b
         |  WHERE a.id < b.id AND abs(length(a.t) - length(b.t)) <= 20)
         |SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist,
         |       CAST(CAST(jw AS DECIMAL(28,6)) AS DOUBLE) AS jw
         |FROM j WHERE dist <= 20""".stripMargin
    case d =>
      // scaled-world form: candidates from embedded band buckets (same
      // machinery as s03) — planted multibyte rows join the band VALUES
      // (signatures from the same plain-Scala byte-walk; both sides
      // shingle BYTES, so parity holds on multibyte text too) and the
      // corpus CTE; metrics on transcoded args as above
      val values =
        bandValues(withPerturbed(d, " fuzzy tail") ++ PlantedFuzzy.rows)
      val ta = PlantedFuzzy.tcSql("a.t"); val tb = PlantedFuzzy.tcSql("b.t")
      s"""WITH bb(id, band, bucket) AS (VALUES
         |  $values),
         |corpus(id, text) AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' fuzzy tail' FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |  ${PlantedFuzzy.sqlValues}) pf(id, text)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bb a JOIN bb b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |p AS (SELECT id, substring(text, 1, 200) AS t FROM corpus),
         |j AS (
         |  SELECT c.id_a, c.id_b,
         |         levenshtein($ta, $tb) AS dist,
         |         jaro_winkler_similarity($ta, $tb) AS jw
         |  FROM cand c
         |  JOIN p a ON a.id = c.id_a
         |  JOIN p b ON b.id = c.id_b)
         |SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist,
         |       CAST(CAST(jw AS DECIMAL(28,6)) AS DOUBLE) AS jw
         |FROM j WHERE dist <= 20""".stripMargin
  }

  /** s04: chunk split, equi-join, Hamming, dedup, and threshold all
    * recomputed by DuckDB from the embedded fingerprints (arithmetic `>>`
    * plus the &65535 mask make sign-fill irrelevant, matching Spark's
    * shiftright). */
  def simhashNearDupOracle: String = {
    val values = simhashValues(withPerturbed(docs(), " zz"))
    s"""WITH sh(id, h) AS (VALUES
       |  $values),
       |chunks AS (
       |  SELECT id, h, c, (h >> (c * 16)) & 65535 AS v
       |  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS c) cs)
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.c = b.c AND a.v = b.v AND a.id < b.id
       |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin
  }

  /** t09: the full composite pipeline. Connected components as a
    * recursive CTE: reach(src, dst) closes over the verified-pair edges,
    * min(dst) per src is exactly clusterAssign's min-label fixpoint. */
  def trainingPipelineOracle: String = {
    val values = bandValues(docs())
    s"""WITH RECURSIVE bb(id, band, bucket) AS (VALUES
       |  $values),
       |kept AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep
       |    FROM documents) WHERE doc_id = keep),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bb a JOIN bb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
       |  WHERE a.id IN (SELECT doc_id FROM kept)
       |    AND b.id IN (SELECT doc_id FROM kept)),
       |g AS (SELECT doc_id AS id, ${gramsSql("text")} AS grams FROM kept),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN g ga ON ga.id = c.id_a
       |  JOIN g gb ON gb.id = c.id_b
       |  WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |        CAST(len(ga.grams) + len(gb.grams)
       |             - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |        >= 0.5),
       |und(a, b) AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM kept
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst),
       |surv AS (
       |  SELECT k.doc_id, k.text
       |  FROM kept k
       |  JOIN (SELECT src AS doc_id, min(dst) AS cluster_id
       |        FROM reach GROUP BY src) cl USING (doc_id)
       |  WHERE cl.doc_id = cl.cluster_id),
       |q AS (
       |  SELECT doc_id, text FROM surv
       |  WHERE len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'),
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
  }
}
