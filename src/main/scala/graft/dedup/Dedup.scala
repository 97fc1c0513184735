package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Native.{
  gramHashes, intersectSizeSorted, minhashSig, simhash64}
import graft.ops.CoreOps

/** Deduplication operators for a 100 TB training-data pipeline. The scale
  * rules baked in here:
  *
  *   - exact dedup is a hash-keyed shuffle (never a sort of raw text);
  *   - near-dup never does an all-pairs comparison: MinHash signatures are
  *     banded (LSH) so candidate generation is a bucket equi-JOIN — the
  *     only shuffle key is (band, bucket-hash), and only bucket-mates meet;
  *   - verification (exact Jaccard) runs on the candidate pairs only.
  */
object Dedup {

  /** Exact dedup key: sha256 of normalized text (16-hex prefix = 64 bits).
    * Grouping by a fixed-width hash instead of the raw text keeps shuffle
    * rows small and uniformly distributed. COLLISION ASSUMPTION: 64 bits
    * puts the birthday bound near 2^32 distinct texts; a collision here
    * merges two distinct texts and silently DROPS one row — acceptable
    * odds for survivor selection, but not where a collision would
    * fabricate output values, which is why [[collapseExpand]] groups on
    * the FULL digest instead (a collision there would emit jaccard=1.0 /
    * hamming=0 pairs between unrelated texts). */
  def exactKey(text: Column): Column =
    substring(sha2(lower(trim(text)), 256), 1, 16)

  /** Keep exactly one row (min id) per normalized-text group, via a
    * window-min rather than dropDuplicates — dropDuplicates keeps an
    * ARBITRARY row (first seen per partition), which is nondeterministic
    * under shuffle; min-id is stable. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(exactKey(col(textCol)))
    df.withColumn("__keep", min(col(idCol)).over(w) === col(idCol))
      .where(col("__keep")).drop("__keep")
  }

  /** Character k-shingles (distinct) of the normalized text. */
  def shingles(text: Column, k: Int = 5): Column =
    array_distinct(rawShingles(text, k))

  /** All k-gram positions of the normalized text, duplicates included —
    * the positions [[shingles]] distincts. A text shorter than k yields
    * one gram, itself (the rule the native GramHashes keeps). */
  def rawShingles(text: Column, k: Int = 5): Column = {
    val norm = lower(trim(text))
    transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => norm.substr(i, lit(k)))
  }

  private val Bands = 8
  private val RowsPerBand = 4

  /** LSH banding of a [[graft.functions.MinHashSig]] signature (32 minima
    * over 5-byte shingles) into 8 bands of 4 rows — the one fixed shape
    * every near-dup query runs: docs sharing ANY band hash become
    * candidates. With b bands of r rows, P(candidate) = 1-(1-j^r)^b —
    * b=8,r=4 puts the S-curve threshold near j≈0.6. */
  def bandHashes(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand))).as("bucket")))

  /** Candidate near-dup pairs via banded MinHash. Returns (id_a, id_b)
    * with id_a < id_b, distinct. The join is an equi-join on
    * (band, bucket): at 100 TB this shuffles signature rows once and never
    * compares across buckets. */
  def minhashCandidates(df: DataFrame, textCol: String,
                        idCol: String): DataFrame = {
    val sigs = bandsOf(df, textCol, idCol, "id")
    val a = sigs.as("a"); val b = sigs.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Jaccard from precomputed distinct-gram arrays. Keeping grams as a
    * column below the join means each doc's shingle set is computed once,
    * not once per candidate pair. */
  def jaccardFromGrams(gramsA: Column, gramsB: Column): Column =
    size(array_intersect(gramsA, gramsB)).cast("double") /
      size(array_union(gramsA, gramsB)).cast("double")

  /** Near-dup pairs: LSH candidates filtered by exact Jaccard ≥ threshold.
    *
    * Runs [[nearDupPairsFlat]] behind an ADAPTIVE EXACT-COLLAPSE
    * pre-pass: a cheap duplication probe ([[duplicationRatio]]) routes
    * fully-distinct corpora straight to the flat form, and
    * duplicate-heavy corpora through [[collapseExpand]] — identical
    * normalized texts are grouped (one map-side-combined shuffle on the
    * exact key), LSH + verify run on one representative per distinct
    * text, and the verified pairs expand back to the full id space with
    * cheap constant-width joins. Both routes are output-IDENTICAL —
    * MinHash signatures and gram sets are functions of the normalized
    * text alone, so exact duplicates are always banded together with
    * Jaccard exactly 1.0, and a cross-group member pair shares its
    * representatives' Jaccard — while on the collapsed route the verify
    * join's shuffle carries gram arrays for DISTINCT texts only. On a
    * duplicate-heavy corpus (the hot-×100 world: every text ×100, ~100M
    * candidate pairs × two ~550-long gram arrays ≈ 880 GB of verify
    * shuffle in flat form) the gram shuffle collapses by the duplication
    * factor and the operator completes where the flat form cannot fit on
    * scratch disk; on a duplicate-free corpus the probe skips the
    * collapse's pure overhead (its text shuffle + expansion joins
    * measured ~2× on s03/s04 at ×100 grow). DedupSpec pins flat ==
    * collapsed on a planted duplicate-heavy corpus and the routing
    * decision on both corpus shapes. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double): DataFrame =
    collapseExpand(df, textCol, idCol, Identity.NormalizedText,
      reps => nearDupPairsFlat(reps, "__text", "id", threshold),
      flatPairs = () => nearDupPairsFlat(df, textCol, idCol, threshold),
      intra = (pairs, _) => pairs.select(col("id_a"), col("id_b"),
        lit(1.0).as("jaccard")).where(lit(1.0) >= threshold))

  /** What counts as "the same document" for an exact collapse — the one
    * decision every collapsing operator shares. `of` is the identity
    * value the routing probe hashes, `key` the FULL sha256 digest the
    * collapse groups on (why the full digest: [[collapseExpand]]).
    *
    *   - [[Identity.NormalizedText]], `lower(trim(text))`: the
    *     Jaccard/SimHash family (s03, s04, t25, the t27/t41 gate), whose
    *     payloads — gram Jaccard, Hamming, window counts — are functions
    *     of the NORMALIZED text, so any two texts equal under it are
    *     fully interchangeable. The `trim` strips ASCII SPACES ONLY —
    *     deliberately: it must normalize EXACTLY like rawShingles'
    *     `lower(trim(text))`, or two texts in one group could carry
    *     different shingle sets and the collapsed route (one rep's grams
    *     standing for all members) would diverge from the flat route.
    *     Texts differing by a trailing tab / newline are therefore
    *     distinct BY DEFINITION here — a missed-collapse corner on such
    *     corpora, never a correctness one (the probe hashes the same
    *     value, so routing and grouping stay consistent).
    *   - [[Identity.RawText]], byte-identity: payloads computed on the
    *     text as-is (t29's Levenshtein, Jaro-Winkler). Under a normalizing
    *     key two case-different members would collapse into one group yet
    *     carry nonzero flat-route distances, and the rep's payload would
    *     misstate theirs. Their signatures are still functions of the
    *     normalized text, so candidate equivalence holds a fortiori.
    *   - [[Identity.Vector]], byte-identical vectors (s15): the probe
    *     hashes the array's elements directly; the key digests `to_json`,
    *     NOT `concat_ws` — concat_ws silently SKIPS null elements, so
    *     [1, null, 5] and [1, 5] would share a key and collapse two
    *     structurally different vectors into one group (fabricating a
    *     sim-1.0 pair the flat route would reject), while JSON renders
    *     nulls and brackets explicitly and distinct float bit patterns
    *     distinctly. A fixed 32-byte key, where joining on the raw
    *     256-byte vector would 8× the expansion-join shuffle at 100 TB. */
  sealed abstract class Identity(norm: Column => Column,
                                 digestOf: Column => Column) {
    def of(v: Column): Column = norm(v)
    def key(v: Column): Column = sha2(digestOf(norm(v)), 256)
  }
  object Identity {
    case object NormalizedText extends Identity(t => lower(trim(t)), t => t)
    case object RawText extends Identity(t => t, t => t)
    case object Vector extends Identity(v => v, v => to_json(v))
  }

  /** Rows per distinct identity value — the probe behind the adaptive
    * collapse routing. count / approx_count_distinct over a cheap 64-bit
    * hash of [[Identity.of]] (xxhash64, NOT the sha256 collapse key: the
    * probe needs a ratio, not collision safety; null values are excluded
    * on both sides, matching the collapse, which never groups them).
    * Scale shape: one narrow scan of the value column, HLL sketches
    * partial-combine map-side, the shuffle carries one fixed-size sketch
    * per partition, the driver reads one row — O(1) driver memory at any
    * corpus size.
    *
    * Re-execution safety (the discipline pinned for the clusterAssign
    * convergence Observation): this is an EAGER job completed before the
    * routing decision is taken, not an Observation riding a shared
    * action, and HLL register-merge is commutative and
    * replay-deterministic — a re-executed stage reproduces the same
    * sketch, so the ratio is a pure function of the input. And the
    * decision it feeds is PERFORMANCE-ONLY: both routes are
    * output-identical (DedupSpec pins collapsed == flat on both corpus
    * shapes), so even a perturbed probe could not change query results —
    * only which shuffle pays for them. */
  private[graft] def duplicationRatio(df: DataFrame, valueCol: String,
      identity: Identity = Identity.NormalizedText): Double = {
    // xxhash64(null) returns the SEED, not null — keep nullness explicit
    // or null values pollute the distinct count
    val v = col(valueCol)
    val h = when(v.isNull, lit(null)).otherwise(xxhash64(identity.of(v)))
    val r = df.agg(count(v).as("n"), approx_count_distinct(h).as("d")).head()
    val n = r.getLong(0)
    val d = r.getLong(1)
    if (d <= 0L) 1.0 else n.toDouble / d.toDouble
  }

  /** Collapse only when duplication is real: below this ratio the
    * collapse's extra text shuffle + expansion joins buy (almost)
    * nothing — measured ~2× overhead on s03/s04 at ×100 grow, where
    * every text is distinct — while above it the flat verify shuffle
    * grows with duplication² per distinct text. 1.25 sits above
    * approx_count_distinct's default ±5% rsd band around a true ratio of
    * 1.0 and far below any duplication where the collapse pays (the hot
    * axes measure 10–100); corpora near the threshold are cheap on
    * EITHER route, so a borderline misroute costs noise, never
    * correctness. */
  private val CollapseDuplicationThreshold = 1.25

  /** The routing decision every collapsing operator takes ([[collapseExpand]]
    * and its callers, the t27/t41 gate's corpus index, t25's span-window
    * counts): true when the corpus is duplicate-heavy enough that
    * per-distinct-value computation + member expansion beats per-row
    * computation. */
  def duplicationHeavy(df: DataFrame, valueCol: String,
                       identity: Identity = Identity.NormalizedText): Boolean =
    duplicationRatio(df, valueCol, identity) >= CollapseDuplicationThreshold

  /** The keyed member slice of a collapse: (id, `valueAs`, ek). */
  private[graft] def keyedBy(df: DataFrame, valueCol: String, idCol: String,
                             identity: Identity,
                             valueAs: String = "__text"): DataFrame =
    df.select(col(idCol).as("id"), col(valueCol).as(valueAs))
      .withColumn("ek", identity.key(col(valueAs)))

  /** One representative per collapse group, (ek, id, `valueAs`, extra…):
    * the MIN id and its value — stable under shuffle, where an arbitrary
    * pick is not. `extra` aggregates ride the same groupBy. */
  private[graft] def repsOf(keyed: DataFrame, valueAs: String = "__text",
                            extra: Seq[Column] = Nil): DataFrame =
    keyed.groupBy(col("ek"))
      .agg(min(col("id")).as("id"),
        min_by(col(valueAs), col("id")).as(valueAs) +: extra: _*)

  /** The exact-collapse harness shared by the pair operators
    * ([[nearDupPairs]], [[simhashCandidates]], s15's
    * `Similarity.lshNearDupPairs`, t29's fuzzy verify): probe duplication
    * first ([[duplicationHeavy]]) and route a fully-distinct corpus
    * straight to `flatPairs` — the collapse is pure overhead there;
    * otherwise group identical values under `identity` (one
    * map-side-combined shuffle on the FULL sha256 key — the only
    * full-value shuffle; the full digest because a collision here would
    * fabricate jaccard=1.0/hamming=0 pairs between distinct texts, and at
    * 100 TB doc counts the 64-bit prefix's birthday bound is within
    * reach), run `repPairs` over ONE representative (min id) per distinct
    * value, and expand verified rep-level pairs back to the full id space
    * with constant-width joins. Signatures (MinHash bands, SimHash
    * fingerprints, hyperplane codes) and gram sets are functions of the
    * identity value alone, so:
    *
    *   - an intra-group pair (identical values) is ALWAYS a candidate in
    *     the flat form; `intra` maps the intra pairs (id_a, id_b, ek) and
    *     the representative table (ek, id, `valueAs`) to its payload —
    *     a constant (jaccard exactly 1.0 / hamming 0 / dist 0, jw 1.0)
    *     guarded by the caller's threshold for exactness against
    *     pathological thresholds, or s15's thresholded rep self-cosine;
    *   - a cross-group member pair is a candidate iff its representative
    *     pair is, and shares its payload verbatim;
    *   - null-value docs have a null exact key: the null-rejecting
    *     equi-joins drop them here. The flat paths drop them LATER, by a
    *     different mechanism — in the minhash form a null text's bucket
    *     hash degenerates to the xxhash64 seed (hashing a null slice
    *     returns the seed), so null docs DO band together and die only
    *     when the null-gram Jaccard fails the verify threshold; in the
    *     simhash form the null chunk value never equi-joins. Same output
    *     (no null pairs), so don't "simplify" the flat verify filter on
    *     the assumption nulls never reach it.
    *
    * Output is therefore IDENTICAL to the flat formulation (DedupSpec,
    * VectorCollapseSpec and FuzzyCollapseSpec pin it on planted
    * duplicate-heavy corpora) while the expensive pair machinery — the
    * verify join's gram arrays, the chunk join's in-group quadratic, the
    * edit-distance DP — touches DISTINCT values only. Expansion rows are
    * fixed-width id/payload columns: output volume is the query's
    * result, not an intermediate.
    *
    * The collapse costs exactly ONE value shuffle (the min_by groupBy) —
    * and that is the scale-correct choice, deliberately: the tempting
    * alternative (shuffle only (id, ek) to pick rep ids, then semi-join
    * the text back) avoids the text shuffle only while the rep-id set
    * broadcasts; at 100 TB the distinct-text set can be billions of
    * rows, the semi-join falls back to a shuffled join, and the text
    * moves anyway — after a second full scan. One groupBy that
    * partial-combines duplicates map-side is strictly better on every
    * corpus shape. */
  private[graft] def collapseExpand(df: DataFrame, valueCol: String,
                                    idCol: String, identity: Identity,
                                    repPairs: DataFrame => DataFrame,
                                    flatPairs: () => DataFrame,
                                    intra: (DataFrame, DataFrame) => DataFrame,
                                    valueAs: String = "__text"): DataFrame = {
    if (!duplicationHeavy(df, valueCol, identity)) return flatPairs()
    val keyed = keyedBy(df, valueCol, idCol, identity, valueAs)
    val members = keyed.select(col("id"), col("ek"))
    val reps = repsOf(keyed, valueAs)
    val rp = repPairs(reps.select(col("id"), col(valueAs)))
    val payload = rp.columns.filterNot(c => c == "id_a" || c == "id_b")
      .map(col).toSeq
    val intraPairs = members.as("m1")
      .join(members.as("m2"),
        col("m1.ek") === col("m2.ek") && col("m1.id") < col("m2.id"))
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"),
        col("m1.ek").as("ek"))
    val groupOf = reps.select(col("id").as("rid"), col("ek"))
    val cross = rp
      .join(groupOf.as("ka"), col("id_a") === col("ka.rid"))
      .join(groupOf.as("kb"), col("id_b") === col("kb.rid"))
      .join(members.as("ma"), col("ma.ek") === col("ka.ek"))
      .join(members.as("mb"), col("mb.ek") === col("kb.ek"))
      .select(Seq(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b")) ++ payload: _*)
    intra(intraPairs, reps).unionAll(cross)
  }

  /** The flat (no exact-collapse) near-dup formulation: map (signatures)
    * → one shuffle (band join) → verify against per-doc HASHED gram
    * arrays (xxhash64 per shingle: Jaccard is identical modulo 64-bit
    * collisions, and long-array set ops are far cheaper than string-array
    * ones on dense candidate sets). Never all-pairs — but the verify join
    * ships two full gram arrays per CANDIDATE PAIR, which on a
    * duplicate-heavy corpus grows with (duplication factor)² per distinct
    * text; [[nearDupPairs]] bounds that by collapsing exact duplicates
    * first and is the operator callers should use. */
  def nearDupPairsFlat(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double,
                       spreadCands: Boolean = true): DataFrame = {
    val rawCands = minhashCandidates(df, textCol, idCol)
    // `spreadCands = false` for callers whose candidate set is small and
    // whose OUTPUT is checkpointed and re-read (t09's clusterAssign): the
    // spread's 32 partitions ride into every downstream job/checkpoint
    // and the per-job task overhead outweighs the verify
    // parallelism — measured r22 cold-JVM A/B, t09 medians 2.15 s flat vs
    // 3.51 s spread (the r21 driver run agreed: 3.69 -> 4.20 s when the
    // spread was added). Dense-candidate callers (s03, t48, t29's twin)
    // keep the spread: s03 min 0.99 s spread vs 1.70 s flat.
    val cands = if (spreadCands) CoreOps.cpuSpread(rawCands) else rawCands
    val grams = gramsOf(df, textCol, idCol, "id", "grams", "n")
    // identical subtree on both sides of the two joins -> Spark reuses the
    // exchange instead of recomputing shingle hashes twice
    verifyJaccard(cands
      .join(grams.as("ga"), col("id_a") === col("ga.id"))
      .join(grams.as("gb"), col("id_b") === col("gb.id")),
      "ga.grams", "gb.grams", "ga.n", "gb.n", threshold, "id_a", "id_b")
  }

  /** Incremental near-dup: every BATCH doc's near-dup matches against an
    * existing CORPUS — the nightly near-dup gate, [[exactDedup]]-based
    * t17's approximate sibling. Runs [[nearDupAgainstFlat]] behind the
    * same adaptive exact-collapse routing as [[nearDupPairs]]: the
    * corpus-side duplication probe ([[duplicationHeavy]]) sends
    * distinct-ish corpora straight to the flat form, and duplicate-heavy
    * ones through an ASYMMETRIC collapse — BOTH slices group identical
    * normalized texts (on a hot corpus the batch mirrors its duplication:
    * perturbed copies of replicated docs are themselves replicated), the
    * band/verify machinery runs rep-vs-rep only, and verified rep pairs
    * expand back through the two member maps with constant-width joins.
    * Output-identical to the flat form: signatures and gram sets are
    * functions of the normalized text alone, so a flat (corpus, batch)
    * pair is a band candidate iff its representative pair is, and shares
    * its Jaccard verbatim; identical cross-slice texts band always and
    * carry Jaccard exactly 1.0 through either route. Unlike the
    * intra-corpus collapse there is no intra-group special case — the id
    * spaces are disjoint, every (corpus, batch) combination is a
    * cross-rep pair. Measured: the hot-×100 cell (every text ×100 on
    * both slices) was the matrix's top cost at 33.7 s flat — the verify
    * join's candidate set grows with duplication² per distinct text —
    * and drops to the distinct-text budget collapsed.
    *
    * Returns (batch_id, corpus_id, jaccard) at ≥ threshold; the two id
    * spaces must be disjoint (caller's contract — t27 offsets the batch
    * by 1e6). Batch-internal duplicates are the PREVIOUS stage's job
    * ([[nearDupPairs]] within the batch) — this operator is the
    * batch-vs-corpus edge only. */
  def nearDupAgainst(corpus: DataFrame, batch: DataFrame,
                     textCol: String, idCol: String,
                     threshold: Double): DataFrame =
    nearDupAgainstIndexed(
      indexCorpus(corpus, textCol, idCol, persist = false),
      batch, textCol, idCol, threshold)

  /** The CORPUS-SIDE INVARIANTS of the incremental gate, computed once:
    * the collapse-routing probe verdict plus the corpus's DERIVED gate
    * tables — its banded signatures and hashed-gram arrays (of the raw
    * corpus on the flat route, of the representative table on the
    * collapsed route, where the keyed member map rides along for the
    * expansion joins). A STREAMING caller builds this once per stream
    * (`persist = true`) so each micro-batch reads the corpus side from
    * cached blocks — per-batch cost proportional to the batch, not the
    * corpus. Persisting the DERIVED tables is the point (r21): the first
    * index cached only the corpus TEXT, so every micro-batch re-ran the
    * MinHash/gram passes over the whole corpus — measured ~0.75 s per
    * batch at sf0.1, 4 of t41's 3.7 s — where reading the prebuilt band
    * and gram tables is corpus-scan-free. The one-shot batch caller
    * ([[nearDupAgainst]]) builds it unpersisted per call, which is
    * plan-identical to the historical inline form (the same band/gram
    * subtrees, hoisted). `unpersist()` releases the cached blocks when
    * the stream stops. */
  final case class GateCorpusIndex private[dedup] (
      collapsed: Boolean,
      private[dedup] val cBands: DataFrame,
      private[dedup] val cGrams: DataFrame,
      private[dedup] val kc: DataFrame,
      private[dedup] val repsC: DataFrame,
      private[graft] val persisted: Seq[DataFrame]) {
    def unpersist(): Unit =
      persisted.foreach(_.unpersist(blocking = false))
  }

  def indexCorpus(corpus: DataFrame, textCol: String, idCol: String,
                  persist: Boolean): GateCorpusIndex = {
    def maybe(df: DataFrame): DataFrame =
      if (persist)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    if (!duplicationHeavy(corpus, textCol)) {
      val cb = maybe(bandsOf(corpus, textCol, idCol, "corpus_id"))
      val cg = maybe(gramsOf(corpus, textCol, idCol, "corpus_id", "gc", "nc"))
      GateCorpusIndex(collapsed = false, cb, cg, null, null,
        if (persist) Seq(cb, cg) else Seq.empty)
    } else {
      val kc = maybe(keyedBy(corpus, textCol, idCol, Identity.NormalizedText))
      val reps = repsOf(kc)
      val cb = maybe(bandsOf(reps, "__text", "id", "corpus_id"))
      val cg = maybe(gramsOf(reps, "__text", "id", "corpus_id", "gc", "nc"))
      val repC = maybe(reps.select(col("id").as("crid"),
        col("ek").as("cek")))
      GateCorpusIndex(collapsed = true, cb, cg, kc, repC,
        if (persist) Seq(kc, cb, cg, repC) else Seq.empty)
    }
  }

  /** [[nearDupAgainst]] against a prebuilt [[GateCorpusIndex]] — the
    * per-micro-batch form: no corpus probe, no corpus re-grouping, no
    * corpus signature/gram recomputation. */
  def nearDupAgainstIndexed(idx: GateCorpusIndex, batch: DataFrame,
                            textCol: String, idCol: String,
                            threshold: Double): DataFrame = {
    if (!idx.collapsed)
      return nearDupAgainstPrebuilt(idx.cBands, idx.cGrams, batch,
        textCol, idCol, threshold)
    val kb = keyedBy(batch, textCol, idCol, Identity.NormalizedText)
    val rp = nearDupAgainstPrebuilt(idx.cBands, idx.cGrams,
      repsOf(kb).select(col("id"), col("__text")),
      "__text", "id", threshold)
    // expansion: rep pair -> every member combination. The batch-side
    // maps are broadcast (nightly-batch contract); the corpus member map
    // is id/ek only — fixed width, no text.
    val repB = repsOf(kb).select(col("id").as("brid"),
      col("ek").as("bek"))
    rp.join(idx.repsC, col("corpus_id") === col("crid"))
      .join(broadcast(repB), col("batch_id") === col("brid"))
      .join(idx.kc.select(col("id").as("cid"), col("ek").as("cek")), "cek")
      .join(broadcast(kb.select(col("id").as("bid"), col("ek").as("bek"))),
        "bek")
      .select(col("bid").as("batch_id"), col("cid").as("corpus_id"),
        col("jaccard"))
  }

  /** The flat (no exact-collapse) batch-vs-corpus formulation. Both
    * sides band; the candidate join keys
    * on (band, bucket) with the batch side BROADCAST (a nightly batch is
    * orders of magnitude smaller than the corpus), so the corpus's band
    * rows join in place and its text never shuffles: the verify joins
    * candidates to corpus hashed-gram arrays on the corpus id
    * ([[nearDupPairsFlat]]'s merge-scan shape) and broadcasts the
    * batch's. On a duplicate-heavy corpus the candidate set grows with
    * duplication² per distinct text — [[nearDupAgainst]] bounds that by
    * collapsing exact duplicates first and is the operator callers
    * should use. */
  def nearDupAgainstFlat(corpus: DataFrame, batch: DataFrame,
                     textCol: String, idCol: String,
                     threshold: Double): DataFrame =
    nearDupAgainstPrebuilt(
      bandsOf(corpus, textCol, idCol, "corpus_id"),
      gramsOf(corpus, textCol, idCol, "corpus_id", "gc", "nc"),
      batch, textCol, idCol, threshold)

  /** Banded MinHash rows (`idAs`, band, bucket) of one side — the
    * candidate-join input of [[minhashCandidates]], the gate's inline
    * flat form and the prebuilt corpus index. */
  private def bandsOf(df: DataFrame, textCol: String, idCol: String,
                      idAs: String): DataFrame =
    // the native fused-loop signature: a pure narrow map, no shuffle
    df.select(col(idCol).as(idAs),
        minhashSig(lower(trim(col(textCol)))).as("sig"))
      .withColumn("bh", explode(bandHashes(col("sig"))))
      .select(col(idAs), col("bh.band").as("band"),
        col("bh.bucket").as("bucket"))

  /** Sorted distinct hashed-gram arrays (`idAs`, `gAs`, `nAs`) of one
    * side — the verify input, shared like [[bandsOf]]: the native
    * zero-alloc GramHashes expression (one byte pass, primitive
    * sort+dedupe). */
  private def gramsOf(df: DataFrame, textCol: String, idCol: String,
                      idAs: String, gAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        gramHashes(lower(trim(col(textCol)))).as(gAs))
      .withColumn(nAs, size(col(gAs)))

  /** The gate core against PREBUILT corpus band/gram tables: batch side
    * banded+grammed fresh (it is new data), broadcast into the corpus's
    * partitions — the corpus never shuffles and, with a persisted index,
    * is never even rescanned. Its native expressions are Columns
    * ([[graft.functions.Native]]), not registered names, so the plan
    * resolves on whichever session analyzes it: inside foreachBatch that
    * is the stream's cloned session (spec-pinned in StreamingSpec). */
  private def nearDupAgainstPrebuilt(corpusBands: DataFrame,
                                     corpusGrams: DataFrame,
                                     batch: DataFrame, textCol: String,
                                     idCol: String, threshold: Double): DataFrame = {
    val cand = corpusBands
      .join(broadcast(bandsOf(batch, textCol, idCol, "batch_id")),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    verifyJaccard(cand
      .join(corpusGrams, "corpus_id")
      .join(broadcast(gramsOf(batch, textCol, idCol, "batch_id",
        "gb", "nb")), "batch_id"),
      "gc", "gb", "nc", "nb", threshold, "batch_id", "corpus_id")
  }

  /** The Jaccard verify over candidate pairs joined to both sides' sorted
    * hashed-gram arrays ([[gramsOf]]): the merge-scan intersect needs
    * sorted inputs, and |union| = na + nb - |intersect| (no union pass).
    * Keeps pairs at ≥ threshold; returns (`idA`, `idB`, jaccard rounded
    * to 6 places). */
  private def verifyJaccard(joined: DataFrame, gA: String, gB: String,
                            nA: String, nB: String, threshold: Double,
                            idA: String, idB: String): DataFrame =
    joined
      .withColumn("inter", intersectSizeSorted(col(gA), col(gB)))
      .withColumn("jaccard", col("inter").cast("double") /
        (col(nA) + col(nB) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col(idA), col(idB), round(col("jaccard"), 6).as("jaccard"))

  /** 64-bit SimHash over whitespace tokens: per bit, sum +1/-1 over each
    * token-hash's bit value; the sign of the sum is the fingerprint bit.
    * Near-dups differ in few bits (small Hamming distance).
    *
    * Default path is the native one-pass SimHash64 expression — a narrow
    * map, no explode row-blowup, no shuffle at all. */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    df.select(col(idCol).as("id"),
      simhash64(lower(trim(col(textCol)))).as("simhash"))
  }

  /** Connected components over a near-dup pair graph: every doc gets the
    * min doc-id of its component as `cluster_id`, so survivor selection
    * is `id == cluster_id`. Every pair endpoint must be an id of
    * `allIds`; ids in no pair label themselves. Other columns of `allIds`
    * pass through, so a caller can label its rows in place instead of
    * joining the labels back.
    *
    * The pairs are materialized ONCE (an eager local checkpoint — without
    * it the whole upstream pair-generation plan, LSH candidates + verify,
    * would recompute on every read), and that job also counts them. The
    * count picks the route:
    *
    *   - DRIVER route, when the pairs fit the session's broadcast rule:
    *     count ≤ `spark.sql.autoBroadcastJoinThreshold` / 16 bytes per
    *     (src, dst) long pair, the bound the session already puts on what
    *     the driver collects and ships. They are collected (one job),
    *     labeled by a union-find with min-id roots and path compression,
    *     and the non-root labels are broadcast into the `allIds` join: no
    *     propagation loop, no per-iteration jobs or codegen. Driver memory
    *     is linear in that bound (the collected rows plus one map entry
    *     per endpoint). A threshold ≤ 0 (broadcast disabled) never takes
    *     it.
    *   - DISTRIBUTED route, for larger graphs: iterative min-label
    *     propagation over the edge endpoints only (only they can change
    *     label), each iteration combined with a POINTER JUMP
    *     (`label ← label[label]`, the path-doubling step of Kiveris et
    *     al.'s star algorithms): labels are always node ids, so the
    *     self-join is total, and a label that reached distance d from the
    *     component min reaches ~2d+1 next round. Convergence is
    *     O(log diameter) iterations instead of O(diameter) — maxIter=10
    *     covers chains far beyond any real duplicate cluster (≥2^10 hops).
    *     If `changed > 0` still holds at `maxIter`, the result would
    *     silently split components — so this route THROWS
    *     GraftError.Other (exit contract 9999) rather than returning wrong
    *     clusters. The driver route always converges, so the guard (and
    *     `maxIter`) covers this route only.
    *
    * Both routes end in the same `allIds` left join: an endpoint takes its
    * component's min id, every other id keeps its own. DedupSpec pins the
    * two routes to identical labels. */
  def clusterAssign(pairs: DataFrame, allIds: DataFrame,
                    maxIter: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    val counted = org.apache.spark.sql.Observation()
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    // re-executed stages can only over-count, which only sends a graph
    // that would have fit to the distributed route
    val fits = threshold > 0 && counted.get.get("n")
      .exists(_.asInstanceOf[Long] <= threshold / 16)
    if (fits) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var c = x
        while (c != root) { val up = parent(c); parent(c) = root; c = up }
        root
      }
      edges.collect().foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      // the roots are exactly the ids absent from `parent`: they keep
      // their own id in the join, so only non-roots are shipped
      val labels = spark.createDataFrame(
        parent.keys.toSeq.map(x => Row(x, find(x))).asJava,
        StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
      relabel(allIds, broadcast(labels))
    } else relabel(allIds, propagateLabels(edges, maxIter))
  }

  /** The distributed route of [[clusterAssign]]: min-label propagation +
    * pointer jumping over the endpoints of `edges` (one direction per
    * pair). Returns (`id`, `label`) for every endpoint. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    // undirected: both directions of the checkpointed pairs
    val both = edges.unionAll(edges.select(col("dst"), col("src")))
    var labels = both.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // each node adopts the min cluster label among itself + neighbors
      val viaEdges = both
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster_id", "nbr_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // the iteration-start label rides along as `old`, so convergence is
      // read off THIS pass (an Observation on the checkpoint job) instead
      // of a separate labels⋈next join-and-count — one job per iteration,
      // and one fewer full pass over the labels table. Re-executed stages
      // can only over-count the observed sum; the loop tests changed > 0,
      // which re-execution cannot flip.
      val propagated = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: follow the label one more hop through the label
      // table itself (keyed equi-join — labels are node ids, so every
      // label resolves; least() keeps monotonicity)
      val parents = propagated
        .select(col("id").as("p_id"), col("cluster_id").as("p_label"))
      val obs = org.apache.spark.sql.Observation()
      val next = propagated
        .join(parents, col("cluster_id") === col("p_id"))
        .select(col("id"),
          least(col("cluster_id"), col("p_label")).as("cluster_id"),
          col("old"))
        .observe(obs, sum(when(col("cluster_id") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("cluster_id"))
        .localCheckpoint(true) // truncate the growing iterative lineage
      changed = Option(obs.get("changed")).map(_.asInstanceOf[Long])
        .getOrElse(0L)
      labels = next
      it += 1
    }
    if (changed > 0)
      throw graft.GraftError.Other(
        s"clusterAssign did not converge in $maxIter iterations — " +
          "raise maxIter; returning would silently split components")
    labels.select(col("id"), col("cluster_id").as("label"))
  }

  /** Both routes' last step: `labels` (`id`, `label`) covers pair
    * endpoints only; every other id of `allIds` is its own cluster. */
  private def relabel(allIds: DataFrame, labels: DataFrame): DataFrame =
    allIds.join(labels, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("id")))
      .drop("label")

  /** SimHash candidate pairs by the standard 4×16-bit chunk trick, behind
    * the same ADAPTIVE exact-collapse pre-pass as [[nearDupPairs]]
    * (distinct corpora route straight to the flat form): identical
    * normalized texts share their SimHash, so the chunk equi-join — whose
    * in-group quadratic was the dominant hot-×100 cost (every duplicate
    * group of d texts yields d²/2 candidate rows, measured 75 s at ×100
    * duplication) — runs on distinct texts only, and member pairs expand
    * back with hamming 0 (intra) or their representatives' hamming
    * (cross). Output-identical to [[simhashCandidatesFlat]]
    * (DedupSpec-pinned). */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    collapseExpand(df, textCol, idCol, Identity.NormalizedText,
      reps => simhashCandidatesFlat(reps, "__text", "id"),
      flatPairs = () => simhashCandidatesFlat(df, textCol, idCol),
      intra = (pairs, _) => pairs.select(col("id_a"), col("id_b"),
        lit(0).as("hamming")))

  /** The SimHash near-dup radius. Two 64-bit prints within Hamming 3 must
    * agree exactly on at least one of the 4 16-bit chunks (pigeonhole),
    * which is what makes the chunk equi-join lossless; at 4 differing
    * bits one can land in each chunk, and the pair never shares a key. */
  private val MaxHamming = 3

  /** The flat SimHash candidate formulation: candidates come from an
    * equi-join on (chunk index, chunk value) — never all-pairs — and keep
    * Hamming ≤ `MaxHamming`. */
  def simhashCandidatesFlat(df: DataFrame, textCol: String,
                            idCol: String): DataFrame = {
    val sh = simhashes(df, textCol, idCol)
      .select(col("id"), col("simhash").as("sh"))
    val chunked = sh.withColumn("chunk", explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c AS c, shiftright(sh, c * 16) & 65535 AS v))")))
      .select(col("id"), col("sh"), col("chunk.c").as("c"),
        col("chunk.v").as("v"))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.sh ^ b.sh)").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }
}
