package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkSpec

/** Physical-plan invariants — the 100 TB guardrails. A query can be
  * value-correct and still die at scale; these assertions pin the plan
  * shapes that survive a 1000-executor 100 TB run:
  *   - scans prune columns (never read all of lineitem for a 3-column map)
  *   - partition-style predicates push into the parquet scan
  *   - dimension joins broadcast (no shuffle of the big fact side's dim)
  *   - nothing introduces a cartesian product accidentally
  *   - hot paths stay inside WholeStageCodegen */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan

  private def planStr(name: String): String = plan(name).toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("flagship: ds-equality filter pushes to the scan as a date RANGE") {
    val s = planStr("p01_flagship")
    // the range form pushes real comparisons (row-group pruning), not just
    // IsNotNull like the date_format-equality form would
    assert(s.contains("GreaterThanOrEqual(l_shipdate") &&
      s.contains("LessThan(l_shipdate"),
      s"expected pushed date-range on l_shipdate in:\n$s")
    // only the mapped columns are read
    assert(s.contains("ReadSchema") &&
      !s.contains("l_extendedprice"), "unmapped columns must be pruned")
  }

  test("q1 agg: partial aggregation before the exchange (map-side combine)") {
    val s = planStr("e01_q1_agg")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "expected partial+final HashAggregate pair")
    assert(s.contains("partial_sum"), "map-side combine must be present")
    // (WholeStageCodegen spans only render in the post-execution AQE plan;
    // HashAggregate/Filter/Project here are codegen-supported operators)
  }

  test("q3 join: dimension side broadcasts; no shuffle of customer") {
    val s = planStr("e02_q3_join_topk")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      "top-k must not globally sort")
  }

  test("rollup: both dims broadcast") {
    val s = planStr("e03_rollup")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2)
    assert(s.contains("Expand"), "rollup uses Expand, not a union of scans")
  }

  test("semi/anti joins stay semi/anti (no row multiplication)") {
    val s = planStr("e04_semi_anti")
    assert(s.contains("LeftSemi") && s.contains("LeftAnti"))
  }

  test("no cartesian-FAMILY nodes anywhere outside the deliberate set") {
    // The PLANS.md claim, enforced: the only cartesian-family operators in
    // the whole surface are s01/s14's deliberate broadcast-query-side
    // brute-force scans and the bounded all-pairs verify primitives
    // (t06 doc_id<60, s05 vec_id<200, t18/t20 30-doc slices — constant
    // size at any SF, and auto-broadcast to BNLJ at test volumes).
    // Everything else — in particular the scale-shaped compositions
    // t29/s15 — must be join-keyed. BroadcastNestedLoopJoin counts as
    // cartesian-family: it compares every pair, broadcast or not.
    val exempt = Set("t06_ngram_jaccard", "s05_cosine_neardup",
      "t18_edit_distance", // bounded all-pairs verify primitives (30 docs)
      "t20_jaro_neardup",
      "s01_cosine_topk", // broadcasts a 5-row query set by design
      "s14_ann_quantized", // the SQ8 coarse scan broadcasts the same 5 rows
      "s17_ann_pq", // the integer-ADC coarse scan broadcasts the same 5 rows
      "t11_tfidf_topk", // crossJoin(broadcast(1-row n_docs aggregate))
      "t23_unigram_logprob", // same shape: 1-row token-total broadcast
      "t36_dsir_selection", // same shape: 1-row LM-totals broadcast
      "t43_kneser_ney_logprob", // same shape: 1-row type-total broadcast
      "t45_bm25_retrieval", // same shape: 1-row corpus-stats broadcast
      "s21_hard_negatives", // broadcasts the % 97 query slice by design
      "t46_rrf_fusion") // dense branch IS s01's broadcast brute baseline
    Registry.all.filterNot(q => exempt(q.name)).foreach { q =>
      val s = Registry.queries(q.name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct"),
        s"${q.name} has a cartesian product:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"${q.name} has a nested-loop join:\n$s")
    }
  }

  test("source quota: one shuffle; partial top-k before it (WindowGroupLimit)") {
    val s = planStr("t22_source_quota")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"t22 must shuffle exactly once, on the window key:\n$s")
    assert(s.contains("WindowGroupLimit"),
      s"per-source top-k must prune map-side before the exchange:\n$s")
  }

  test("audit sensitivity: a planted shuffle_hash hint flips the detections") {
    // The invariants above are string matches over executedPlan — prove
    // they aren't vacuous: force the degraded join shape on e02's exact
    // tables and watch the same signals invert (broadcast gone, shuffle
    // join present). A refactor that silently degrades a plan this way
    // fails the pins the same run.
    import org.apache.spark.sql.functions.col
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet").hint("shuffle_hash")
    val degraded = orders.join(cust,
      orders("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment")).count()
    val s = degraded.queryExecution.executedPlan.toString
    assert(s.contains("ShuffledHashJoin"),
      s"hint must force the shuffled join:\n$s")
    assert(!s.contains("BroadcastHashJoin"),
      "the broadcast detection must read false on the degraded plan")
  }

  test("fuzzy near-dup t29: the levenshtein verify is threshold-bounded") {
    // t18 pins the external LevenshteinPrefilter guard on the 2-arg form;
    // t29 — the LSH-fed scale shape — must use the THRESHOLD-BOUNDED
    // 3-arg form instead: banded O(k·n) DP + internal length-gap early
    // exit (the unbounded DP measured 53.9 s vs 4.2 s at sf0.1 for the
    // same survivors). A refactor that drops back to the 2-arg form
    // silently reintroduces the full DP — this pin makes it fail loudly.
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val plan = Registry.queries("t29_fuzzy_neardup")(spark, sf)
      .queryExecution.optimizedPlan
    val levs = plan.collect { case p =>
      p.expressions.flatMap(_.collect { case l: Levenshtein => l })
    }.flatten
    assert(levs.nonEmpty, s"t29 lost its levenshtein verify:\n$plan")
    levs.foreach { l =>
      assert(l.threshold.isDefined,
        s"t29's levenshtein must carry its threshold inside the DP:\n$plan")
      // ...and the bound must stay 20 exactly: a refactor that changes the
      // literal (say, to 5) silently tightens the survivor set while the
      // isDefined pin stays green, deferring detection to the slower
      // DuckDB oracle. The threshold folds to a foldable literal here.
      val bound = l.threshold.map(_.eval())
      assert(bound.contains(20),
        s"t29's levenshtein threshold must fold to 20, got $bound:\n$plan")
    }
  }

  test("fuzzy near-dup t29: band join keyed; text never rides the band shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = Registry.queries("t29_fuzzy_neardup")(spark, sf)
      .queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    // candidate exchanges carry (id, band, bucket) triples only — the
    // 200-char verify prefixes join back by id after the pair distinct
    val bandExchanges = root.collect { case e: Exchange => e }
      .filter(_.output.exists(_.name == "bucket"))
    assert(bandExchanges.nonEmpty, "expected the (band, bucket) candidate exchange")
    bandExchanges.foreach { e =>
      assert(!e.output.exists(
          _.dataType == org.apache.spark.sql.types.StringType),
        s"text rode the band exchange: ${e.output.map(_.name).mkString(",")}")
    }
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("contamination score t30: the gram join shuffles — no broadcast, " +
    "no text on the gram exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("t30_contamination_score")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    // the whole point of t30 vs t21: the reference side is assumed too
    // big to broadcast, so the gram join must be the shuffled form (the
    // hint pins it at harness SF where AQE would otherwise broadcast)
    val s = root.toString
    assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"),
      s"t30's gram join must shuffle:\n$s")
    // gram exchanges carry (gh) or (doc_id, gh) — fixed-width keys; the
    // doc TEXT must never ride a shuffle (it re-joins by doc_id at the end)
    val gramExchanges = root.collect { case e: Exchange => e }
      .filter(_.output.exists(_.name == "gh"))
    assert(gramExchanges.nonEmpty, "expected the gram-hash exchanges")
    gramExchanges.foreach { e =>
      assert(!e.output.exists(
          _.dataType == org.apache.spark.sql.types.StringType),
        s"text rode a gram exchange: ${e.output.map(_.name).mkString(",")}")
    }
    assert(!s.contains("CartesianProduct"))
  }

  test("video near-dup s18: frame-hash equi-join on fixed-width keys; " +
    "payload never rides a shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("s18_video_neardup")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"s18 candidates must come from the frame-hash equi-join:\n$s")
    // every exchange moves (asset ids, 16-char fh, counts) — the video
    // payload dies in the scan-stage hash projection
    root.collect { case e: Exchange => e }.foreach { e =>
      assert(!e.output.exists(_.name == "payload"),
        s"payload rode a shuffle: ${e.output.map(_.name).mkString(",")}")
    }
    // the frame build must materialize ONCE for all five consumers —
    // AQE's stage cache dedupes the identical fh-keyed Exchanges AT
    // RUNTIME (the s16 pin's protocol: execute, then read the final plan)
    val df = Registry.queries("s18_video_neardup")(spark, sf)
    df.collect()
    val finalStr = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalStr.contains("ReusedExchange"),
      s"the frame build must run once, reused across consumers:\n$finalStr")
  }

  test("bloom contamination t31: sketch-gated before ANY exchange; " +
    "exact verify join still present") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("t31_bloom_contamination")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    // the sketch is built distributed and rides the plan as a subquery —
    // never a driver-side collect
    assert(s.contains("bloom_filter_agg") || s.contains("BloomFilter"),
      s"expected the BloomFilterAggregate subquery in:\n$s")
    // the gate itself: a might_contain Filter on the corpus explode...
    val gates = root.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(gates.nonEmpty, s"expected the might_contain gate in:\n$s")
    // ...and it must sit BELOW every exchange: the whole point of t31 vs
    // t30 is that corpus-scale (doc, gram) pairs never reach a shuffle —
    // only bloom survivors do. A gate above an exchange is t30 with
    // extra steps.
    gates.foreach { g =>
      assert(g.collect { case e: Exchange => e }.isEmpty,
        s"the bloom gate must run before any exchange:\n$g")
    }
    // false positives are removed exactly: the shuffled verify join from
    // t30 must survive (a mutant that trusts the bloom drops it)
    assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"),
      s"t31 must keep the exact gram verify join:\n$s")
    val gramExchanges = root.collect { case e: Exchange => e }
      .filter(_.output.exists(_.name == "gh"))
    assert(gramExchanges.nonEmpty, "expected the gram-hash exchanges")
    gramExchanges.foreach { e =>
      assert(!e.output.exists(
          _.dataType == org.apache.spark.sql.types.StringType),
        s"text rode a gram exchange: ${e.output.map(_.name).mkString(",")}")
    }
    assert(!s.contains("CartesianProduct"))
  }

  test("bloom incremental dedup t32: corpus index gated before its " +
    "exchange; exact anti-join survives") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("t32_bloom_incremental_dedup")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    assert(s.contains("bloom_filter_agg") || s.contains("BloomFilter"),
      s"expected the batch-side BloomFilterAggregate subquery in:\n$s")
    // the gate sits on the corpus-key branch BELOW its exchange: at
    // 100 TB the persisted key index is the big side, and only keys that
    // might collide with the batch may reach the anti-join shuffle
    val gates = root.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(gates.nonEmpty, s"expected the might_contain gate in:\n$s")
    gates.foreach { g =>
      assert(g.collect { case e: Exchange => e }.isEmpty,
        s"the bloom gate must run before any exchange:\n$g")
    }
    // the gate is performance-only: the exact anti-join must survive
    // (a mutant that treats bloom-negative as the verdict drops it)
    assert(s.contains("LeftAnti"), s"t32 must keep the exact anti-join:\n$s")
    // the CORPUS branch ships 16-char keys only — its distinct/join
    // exchanges carry k and nothing else. (The batch-side dedup window
    // does shuffle batch text; that is t17's inherited shape and the
    // batch is the bounded nightly side, not the 100 TB index.)
    val corpusExchanges = root.collect { case e: Exchange => e }
      .filter(e => e.output.exists(_.name == "k") &&
        !e.output.exists(_.name == "doc_id"))
    assert(corpusExchanges.nonEmpty, s"expected the corpus-key exchange in:\n$s")
    corpusExchanges.foreach { e =>
      assert(e.output.map(_.name) == Seq("k"),
        s"corpus branch must ship keys only: ${e.output.map(_.name).mkString(",")}")
    }
    assert(!s.contains("CartesianProduct"))
  }

  test("minhash near-dup: the band join is an equi-join, not a cross") {
    val s = planStr("s03_minhash_neardup")
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), "band bucket join must be keyed")
    assert(!s.contains("CartesianProduct"))
  }

  test("text stats: pure narrow map — no exchange at all") {
    val s = planStr("t03_text_stats")
    assert(!s.contains("Exchange"), s"text stats must not shuffle:\n$s")
  }

  test("lsh ann: embeddings scanned once per side, not once per table") {
    // the per-table codes must come from ONE projection + explode; a
    // unionAll of per-table copies re-reads the corpus `tables` (10) times
    val s = planStr("s02_ann_lsh")
    val scans = "Scan parquet".r.findAllIn(s).size
    assert(scans <= 2, s"expected ≤2 embeddings scans (query+corpus), got $scans:\n$s")
  }

  test("ivf ann: probe side is one query scan — no per-centroid union") {
    // probe selection is the native argmin-k IvfCells expression; the old
    // shape unioned one query-set copy per centroid, so the plan grew
    // linearly in cell count (fatal at production 4k-65k cells)
    val s = planStr("s07_ann_ivf")
    assert(!s.contains("Union"), s"probe side must not union per-cell copies:\n$s")
    assert("Scan parquet".r.findAllIn(s).size <= 2,
      s"expected ≤2 embeddings scans (query+corpus):\n$s")
  }

  test("dedup groups: single shuffle on the hash key") {
    val s = planStr("t01_dedup_groups")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      "exactly one shuffle (partial agg combines map-side)")
  }

  test("as-of join: no join operator at all — union + one keyed window") {
    val s = planStr("ev05_asof_view_click")
    assert(!s.contains("Join"), s"as-of must be join-free:\n$s")
    assert(s.contains("Window"))
  }

  test("range tiers: bucketed equi-join, never a nested-loop/cartesian") {
    val s = planStr("e15_range_tiers")
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
      s.contains("ShuffledHashJoin"), s"range join must be keyed:\n$s")
  }

  test("two-phase median: stats broadcast back; no per-group global sort") {
    val s = planStr("e11_exact_median")
    assert(s.contains("BroadcastHashJoin"),
      "median buckets must broadcast onto the fact scan")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      "histogram + targets aggregations must partial-combine")
  }

  test("outliers: 5-row stats side broadcasts onto the fact scan") {
    val s = planStr("e16_outliers")
    assert(s.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$s")
  }

  test("heavy hitters: top-k via TakeOrderedAndProject, no global sort") {
    val s = planStr("t15_heavy_hitters")
    assert(s.contains("TakeOrderedAndProject"), s"limit 20 must not sort:\n$s")
  }

  test("latest-per-group: one combine-style aggregation, no window sort") {
    val s = planStr("e22_latest_per_group")
    assert(!s.contains("Window"), s"max_by must not need a window:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(s).size >= 2 ||
      "SortAggregate".r.findAllIn(s).size >= 2,
      s"partial+final aggregate pair expected:\n$s")
  }

  test("repetition stats: native expression keeps the scan shuffle-free") {
    val s = planStr("t13_repetition")
    assert(!s.contains("Exchange"), s"t13 must be a pure narrow map:\n$s")
    assert(s.contains("repetition_stats") || s.contains("repetitionstats"),
      "the native expression must be in the plan")
  }

  test("gopher filter: composite quality gate is a pure narrow map") {
    val s = planStr("t16_gopher_filter")
    assert(!s.contains("Exchange"), s"t16 must not shuffle:\n$s")
  }

  test("text tier tokenizes once per row where the plan allows it " +
    "(t03/t16/t33 staged token arrays)") {
    // Lambda array functions are CodegenFallback: a projection containing
    // them runs OUTSIDE whole-stage codegen, where nothing de-duplicates
    // repeated tokens(text) subtrees — the pre-staging t03 inlined the
    // regex split ELEVEN times per row. The staged token-array projection
    // must survive CollapseProject (non-cheap, multi-consumer).
    // r15: the round-14 pinned residual (t19's gate FILTER inlining the
    // gate expression 8x — predicate pushdown substitutes aliases into
    // the condition, and CodegenFallback subtrees get no de-duplication
    // there) is RETIRED: the gate's token signals now come from the
    // native codegen token_stats expression, so t16/t19/t33 carry ZERO
    // regex tokenizations; the split subtrees the filter inlines are now
    // codegen-capable and WSCG subexpression elimination collapses them.
    val splitRe = "split\\(lower\\(trim\\(".r
    for ((q, want) <- Seq("t03_text_stats" -> 0, "t16_gopher_filter" -> 0,
                          "t33_weighted_sample" -> 0, "t11_tfidf_topk" -> 0,
                          "t19_ingest_pipeline" -> 0, "t04_lang_id" -> 0))
      assert(splitRe.findAllIn(planStr(q)).size == want,
        s"$q expected $want tokenization(s) in the plan")
    for (q <- Seq("t03_text_stats", "t16_gopher_filter", "t19_ingest_pipeline",
                  "t33_weighted_sample"))
      assert(planStr(q).contains("token_stats"),
        s"$q must source token signals from the native token_stats pass")
    // array consumers tokenize through the native tokens_of, exactly once
    assert("tokens_of".r.findAllIn(planStr("t11_tfidf_topk")).size == 1,
      "t11 must tokenize through ONE native tokens_of pass")
  }

  test("language-ID t04: native stopword_counts — pure narrow map, zero exchanges") {
    // the r14 explode + groupBy rewrite tokenized once but shuffled the
    // whole corpus for a per-row computation; at 100 TB language-ID is
    // scan-side CPU only
    val s = planStr("t04_lang_id")
    assert(!s.contains("Exchange"), s"t04 must not shuffle:\n$s")
    assert(s.contains("stopword_counts"),
      s"t04 must score through the native multi-set counter:\n$s")
  }

  test("bpe tokenize t39: scan -> generate -> codegen scalar -> generate, " +
    "zero exchanges") {
    // the tokenize-for-export stage must parallelize per input split with
    // nothing global: both the merge table and the id table ride the task
    // closure, so any Exchange here is a scale bug
    val s = planStr("t39_bpe_tokenize")
    assert(!s.contains("Exchange"), s"t39 must not shuffle:\n$s")
    assert(s.contains("bpe_tokens"),
      s"t39 must tokenize through the native bpe_tokens scalar:\n$s")
  }

  test("span dedup t25: one tokenize+window+count pass, reused across the " +
    "global-count join (runtime check — AQE stage cache)") {
    // The global window-count join re-keys on coalesce(w, MinValue)
    // precisely so the optimizer cannot infer isnotnull(w) on the build
    // side (which would push below global's aggregate and fork the
    // corpus-scale tokenize+window subtree into two full passes — t25 is
    // the top ×100-grow query, so the fork doubles its dominant cost).
    val df = Registry.queries("t25_span_dedup")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("tokens_of".r.findAllIn(fin).size == 1 &&
      "split\\(lower\\(trim\\(".r.findAllIn(fin).isEmpty,
      s"t25 must tokenize/window the corpus exactly once (native):\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"global count must reuse the occ exchange:\n$fin")
  }

  test("unigram logprob t23: one tokenization lineage, exchange reused by " +
    "freq and total (runtime check — AQE stage cache)") {
    // The naive form re-scanned + re-tokenized the corpus three times
    // (freq groupBy, global total, join probe). The term-keyed repartition
    // plus count(doc_id) — NOT count(*), which would let column pruning
    // de-unify the subtrees — collapses all three onto one materialized
    // exchange. The reuse only exists in the FINAL adaptive plan.
    val df = Registry.queries("t23_unigram_logprob")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("tokens_of".r.findAllIn(fin).size == 1 &&
      "split\\(lower\\(trim\\(".r.findAllIn(fin).isEmpty,
      s"t23 must tokenize the corpus exactly once (native):\n$fin")
    assert("ReusedExchange".r.findAllIn(fin).size >= 2,
      s"freq and total must both reuse the token exchange:\n$fin")
  }

  test("bigram logprob t34: one tokenization lineage, the (w1,w2) exchange " +
    "reused by freq and probe (runtime check — AQE stage cache)") {
    // t23's single-exchange pattern one key wider: the bigram stream is
    // built narrowly (slice + arrays_zip — codegen'd, not lambdas),
    // exploded once, and parked at one (w1,w2)-keyed repartition that the
    // frequency aggregate and the probability probe both consume. The
    // coalesce-to-'' on the zip fields is what keeps the probe join from
    // growing an isnotnull Filter the aggregate side lacks (sameResult).
    val df = Registry.queries("t34_bigram_logprob")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("tokens_of".r.findAllIn(fin).size == 1 &&
      "split\\(lower\\(trim\\(".r.findAllIn(fin).isEmpty,
      s"t34 must tokenize the corpus exactly once (native):\n$fin")
    assert("ReusedExchange".r.findAllIn(fin).size >= 2,
      s"probe and context must both reuse the bigram exchange:\n$fin")
  }

  test("cdc chunking t35: one tokenize pass, ONE doc-keyed exchange for " +
    "both windows AND the chunk assembly; only the hash dedup re-shuffles") {
    val df = Registry.queries("t35_cdc_chunk_dedup")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("tokens_of".r.findAllIn(fin).size == 1 &&
      "split\\(lower\\(trim\\(".r.findAllIn(fin).isEmpty,
      s"t35 must tokenize the corpus exactly once (native):\n$fin")
    // exactly two shuffles: hashpartitioning(doc_id) feeding the stacked
    // windows + the (doc_id, chunk) assembly (subset clustering keys —
    // no extra exchange), then hashpartitioning(chunk_hash) for the dedup
    val exch = "Exchange hashpartitioning\\(([a-z_]+)#"
      .r.findAllMatchIn(fin).map(_.group(1)).toSeq
    assert(exch.sorted == Seq("chunk_hash", "doc_id"),
      s"t35 must shuffle exactly twice (doc_id, chunk_hash), got $exch:\n$fin")
    // the two window passes share one sort: a second Sort node above the
    // exchange would mean the stacked windows stopped sharing ordering
    assert("WindowGroupLimit|Window ".r.findAllIn(fin).size >= 2,
      s"expected two stacked window passes:\n$fin")
  }

  test("dsir selection t36: one tokenization lineage reused by the " +
    "two-LM aggregate and the probe; top-k via TakeOrderedAndProject") {
    val df = Registry.queries("t36_dsir_selection")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("tokens_of".r.findAllIn(fin).size == 1 &&
      "split\\(lower\\(trim\\(".r.findAllIn(fin).isEmpty,
      s"t36 must tokenize the corpus exactly once (native):\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"the probe must reuse the token exchange:\n$fin")
    assert(fin.contains("TakeOrderedAndProject"),
      s"top-k must be partial per-partition, not a global sort:\n$fin")
  }

  test("pq ann s17: coarse scan moves codes/recon only — the float column " +
    "is pruned off the candidate side; rerank fetches by id") {
    val s = planStr("s17_ann_pq")
    assert(s.contains("intdot("),
      s"s17 must coarse-score through the native integer dot:\n$s")
    assert(s.contains("ivfcell("),
      s"s17 must encode through the fused argmin expression:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"s17's rerank fetch must be a broadcast hash join on neighbor_id:\n$s")
  }

  test("incremental dedup: anti-join on the key, no corpus re-shuffle blowup") {
    val s = planStr("t17_incremental_dedup")
    assert(s.contains("LeftAnti"), s"corpus check must be an anti-join:\n$s")
    assert(!s.contains("CartesianProduct"))
  }

  test("image decode: two narrow mapPartitions passes, zero shuffle") {
    val s = planStr("s10_image_decode")
    assert(!s.contains("Exchange"), s"s10 must not shuffle:\n$s")
  }

  test("ingest pipeline: dedup stage computed once (no join-back re-scan)") {
    // the gate is an inline column, not a semi-join back onto the deduped
    // frame — a join-back doubled every upstream scan and exchange
    val s = planStr("t19_ingest_pipeline")
    assert("Scan parquet".r.findAllIn(s).size <= 2,
      s"incoming+corpus = 2 scans, no recompute:\n$s")
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 2,
      s"window + anti-join = 2 shuffles, no recompute:\n$s")
  }

  test("edit distance: the LevenshteinPrefilter guard reaches the plan") {
    graft.plans.LevenshteinPrefilter.install(spark)
    val s = Registry.queries("t18_edit_distance")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(s.contains("abs(") && s.contains("levenshtein"),
      s"the length guard must precede the DP in t18's plan:\n$s")
  }

  test("edit distance: the guard conjunct lands in the JOIN condition") {
    // pushdown moves `levenshtein(...) <= k` into the join condition —
    // the per-candidate-pair evaluation site. The O(1) length-gap guard
    // must travel WITH it (same condition), not sit in a leftover filter
    graft.plans.LevenshteinPrefilter.install(spark)
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val opt = Registry.queries("t18_edit_distance")(spark, sf)
      .queryExecution.optimizedPlan
    val joinConds = opt.collect {
      case j: LJoin if j.condition.isDefined => j.condition.get.toString }
    assert(joinConds.exists(c =>
        c.contains("levenshtein") && c.contains("abs(") &&
          c.contains("length(")),
      s"expected guard+DP in one join condition, got:\n${joinConds.mkString("\n")}")
  }

  test("distinct counts: Expand + partial/final aggregation pair") {
    val s = planStr("e23_distinct_counts")
    assert(s.contains("Expand"), "multi-distinct must plan via Expand")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "partial+final aggregation expected")
  }

  test("BPE token count t37: scalar apply — NO join anywhere; document " +
    "text never rides a shuffle; map-side combine on both aggs") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("t37_bpe_token_count")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    // the merge table rides the task closure inside bpe_count — a
    // vocab-join formulation would show a join here
    assert(!s.contains("Join"), s"t37 must be join-free:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      "partial+final pairs for both the (doc,word) and doc aggregates")
    root.collect { case e: Exchange => e }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text rode a shuffle: ${e.output.map(_.name).mkString(",")}")
    }
  }

  test("winnow dedup t38: prints stream from the scan (explode of the " +
    "one-pass expression, no stride-1 row blowup, no WindowExec); " +
    "text never rides a shuffle; candidates from equi-joins only") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("t38_winnow_substring_dedup")(spark, sf)
      .queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    assert(s.contains("winnow_prints"),
      s"the native one-pass expression must be in the plan:\n$s")
    assert(!s.contains("Window"),
      s"the sliding min lives INSIDE the expression, not a WindowExec:\n$s")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"t38 candidates must come from the fingerprint equi-join:\n$s")
    // the scale invariant is that text never rides a KEYED shuffle (the
    // band/verify machinery moves fingerprints only); the round-robin
    // spreadSmallScan exchange is exempt — it exists ONLY when the input
    // layout under-splits (CoreOps.spreadSmallScan scaladoc) and is a
    // no-op at production split counts
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
              .RoundRobinPartitioning] => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text rode a keyed shuffle: ${e.output.map(_.name).mkString(",")}")
    }
    // tighten the exemption (r21 advice): every round-robin exchange that
    // carries text must be the spreadSmallScan one — sitting directly
    // above the scan, with no other Exchange below it. (The initial plan
    // duplicates that subtree once per consumer before AQE's stage cache
    // unifies them, so the COUNT is plan-shape-dependent; the POSITION is
    // the invariant.) A future change that round-robins text mid-plan —
    // after joins/aggregates, i.e. present even at production split
    // counts — fails here.
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
              .RoundRobinPartitioning] &&
            e.output.exists(_.name == "text") => e
    }.foreach { e =>
      assert(e.child.collect {
        case c: org.apache.spark.sql.execution.exchange.Exchange => c
      }.isEmpty, s"the text round-robin must sit directly above the scan " +
        s"(no Exchange below it):\n$e")
      assert(e.child.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.nonEmpty, s"the text round-robin must feed from the scan:\n$e")
    }
    // the fingerprint pass must materialize ONCE for all four consumers
    // — AQE's stage cache dedupes the identical fp-keyed Exchanges AT
    // RUNTIME (the s16 pin's protocol: execute, then read the final plan)
    val df = Registry.queries("t38_winnow_substring_dedup")(spark, sf)
    df.collect()
    val finalStr = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalStr.contains("ReusedExchange"),
      s"winnow_prints must run once, reused across all consumers:\n$finalStr")
  }

  test("t09: every round-robin exchange in its plans has no Exchange " +
    "below it (the near-dup candidates stay unspread)") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    def initial(qe: QueryExecution): SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    // clusterAssign localCheckpoints the pair edges while the query is
    // BUILT, so the candidate lineage lives in those checkpoint jobs, not
    // in the final plan: capture every job's plan on a private session
    // (listener events are per session) and pin them all
    val s = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(funcName -> initial(qe)): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val df = Registry.queries("t09_training_pipeline")(s, sf)
      df.count()
      // the bus delivers in order: once the final count arrives, every
      // checkpoint job before it has been delivered too
      val deadline = System.nanoTime() + 120_000_000_000L
      import scala.jdk.CollectionConverters._
      while (!plans.asScala.exists(_._1 == "count") &&
             System.nanoTime() < deadline)
        Thread.sleep(50)
      val all = plans.asScala.toSeq
      assert(all.exists(_._1 == "count"), "the final count never reached the listener")
      // the pair verify (the cpuSpread site) must be among the pinned plans
      assert(all.exists { case (f, p) =>
        f == "localCheckpoint" && p.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[graft.functions.SortedIntersectSize])))
      }, s"expected the pair-edge checkpoint among ${all.map(_._1)}")
      (initial(df.queryExecution) +: all.map(_._2)).foreach { root =>
        root.collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
        }.foreach { e =>
          assert(e.child.collect { case c: Exchange => c }.isEmpty,
            s"a round-robin spread sits mid-plan (Exchange below it):\n$e")
        }
      }
    } finally s.listenerManager.unregister(listener)
  }

  test("IVF-PQ s19: probes and candidates broadcast; no cartesian; the " +
    "float embedding column never rides a shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val qe = Registry.queries("s19_ann_ivfpq")(spark, sf).queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val s = root.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"s19 must join on cell / id equi-keys:\n$s")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      s"probe, candidate and query-fetch joins all broadcast:\n$s")
    // the corpus encode path is narrow: any SHUFFLE carries codes /
    // coarse scores / ids, never the float vectors (broadcasts of the
    // bounded query side legitimately carry qv — that's the point of
    // broadcasting it)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    root.collect { case e: ShuffleExchangeLike => e }.foreach { e =>
      assert(!e.output.exists(a => a.name == "v" || a.name == "qv" ||
          a.name == "cv" || a.name == "embedding"),
        s"float vectors rode a shuffle: ${e.output.map(_.name).mkString(",")}")
    }
  }

  test("t39 tokenize: still the zero-exchange explode pipeline after the " +
    "r17 BPE knob raise (the r17 verdict drift watch)") {
    // the 0.34 -> 0.75 s r16 -> r17 bench drift is NOT a plan change:
    // the raised sample knob (256 -> 2048 docs) lands on the first
    // trained-BPE query per JVM (the memoized training collect), and the
    // t39 steady state measured solo is 0.43-0.48 s. This pins the plan
    // half of that claim: no exchange anywhere (posexplode chains with
    // no aggregation), so the drift cannot be a shuffle regression.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val root = plan("t39_bpe_tokenize") match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    assert(root.collect { case e: Exchange => e }.isEmpty,
      s"t39 must stay a pure scan-side explode pipeline:\n$root")
  }
}
