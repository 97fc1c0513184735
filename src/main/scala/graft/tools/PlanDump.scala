package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query,
  * with the scale-relevant properties called out and IDs renumbered per
  * plan ([[PlanText]]). Re-run after plan-affecting changes:
  * `sbt "runMain graft.tools.PlanDump"`. */
object PlanDump {
  private val headline = Seq(
    "p01_flagship" -> "pushdown + pruning: the reference's whole pipeline",
    "e01_q1_agg" -> "partial+final hash aggregation",
    "e02_q3_join_topk" -> "broadcast dim join + TakeOrderedAndProject",
    "t01_dedup_groups" -> "single hash-keyed shuffle",
    "s01_cosine_topk" -> "broadcast query set + native FloatCosine",
    "s03_minhash_neardup" -> "exact-collapse (distinct texts only) -> narrow-map signatures, keyed band join, merge-scan verify -> constant-width pair expansion",
    "ev01_hourly_windows" -> "event-time windows (streaming-unified op)",
    "s02_ann_lsh" -> "LSH ANN: ONE corpus scan (exploded per-table codes) + bucket equi-join",
    "s07_ann_ivf" -> "IVF ANN: native argmin-k probe (plan is flat in the cell count) + cell equi-join",
    "e11_exact_median" -> "two-phase median: histogram shuffle + broadcast bucket locate",
    "e15_range_tiers" -> "bucketed range join: equi-join on bucket, no cartesian",
    "ev05_asof_view_click" -> "as-of join: join-free union + keyed window",
    "t13_repetition" -> "native repetition_stats: zero-shuffle quality signals",
    "t15_heavy_hitters" -> "exact heavy hitters (sketch twin is topk_values)",
    "t16_gopher_filter" -> "composite quality gate: pure narrow map, zero Exchange",
    "t17_incremental_dedup" -> "batch-vs-corpus dedup: keyed anti-join, no re-scan blowup",
    "s10_image_decode" -> "real ImageIO decode: two narrow mapPartitions, zero shuffle",
    "e23_distinct_counts" -> "exact multi-distinct: Expand + two-phase aggregation",
    "e24_data_audit" -> "N quality checks on ONE scan + LeftAnti FK sweep",
    "t25_span_dedup" -> "substring-window dedup: narrow window hashing, map-side-combined counts, 8-byte-key shuffle join (no WindowExec buffering)",
    "t26_token_budget_mix" -> "token-budget mix: one shuffle, per-source running cumsum",
    "s13_semantic_dedup" -> "SemDeDup: narrow IvfCells argmin-2 assignment (centroids in the expression) -> ONE cell-keyed corpus exchange reused by the split-size window, BOTH pair-join sides, and the keep-flag aggregation (HashPartitioning(cell) satisfies every downstream clustering; ReusedExchange spec-pinned) -> native fused cosine over in-(cell,sub) pairs",
    "s14_ann_quantized" -> "quantized ANN: int8 coarse scan (native int_dot, floats never shuffle) -> broadcast candidate fetch + exact FloatCosine rerank",
    "t28_epoch_shuffle" -> "epoch shuffle: doc_id-only scan, ONE (epoch,shard)-keyed shuffle, shard-local sort — no global row_number single-partition window",
    "t29_fuzzy_neardup" -> "candidates-fed fuzzy verify: LSH band join -> THRESHOLD-BOUNDED prefix-200 levenshtein(a,b,20) (banded DP, internal length-gap early exit — spec-pinned) + Jaro-Winkler on CANDIDATE pairs; flat route at this SF — duplicate-heavy corpora take the exact-collapse route (byte-identity key), verified route-equal in FuzzyCollapseSpec",
    "s15_ann_cosine_neardup" -> "ANN-fed cosine near-dup: hyperplane bucket equi-join candidates (vectors never ride the band shuffle) -> exact FloatCosine threshold",
    "t30_contamination_score" -> "threshold contamination via a SHUFFLED gram join (no broadcast — the shape for a corpus-scale reference set): distinct (doc, gram-hash) x distinct reference grams, fixed-width keys only, per-doc hit count vs the >=3 convention",
    "t31_bloom_contamination" -> "t30 behind a fixed-size Bloom gate: BloomFilterAggregate subquery -> might_contain filter in the MAP stage, so corpus (doc, gram) pairs never reach an exchange unless they might hit; exact verify join removes the false positives (output bit-identical to t30)",
    "t32_bloom_incremental_dedup" -> "t17 with the runtime filter pointed at the big side: sketch over the small batch's keys gates the corpus key index scan; only might-collide keys reach the exact anti-join (corpus branch ships ONLY `k`)",
    "t33_weighted_sample" -> "priority sampling: narrow single-pass quality-weight map over the scan (token array staged once — lambda array ops are CodegenFallback, so duplicated split subtrees would all evaluate) -> TakeOrderedAndProject partial top-k — NO Exchange, no global sort, k rows per partition to the driver",
    "s16_image_neardup" -> "perceptual-hash image dedup: narrow decode+aHash mapPartitions (payloads die before the join) -> 4x16-bit band equi-join, provably lossless at Hamming radius 3 (pigeonhole), exact bit_count verify. The static plan below PRINTS the self-join's lineage twice; at runtime AQE's stage cache dedupes the two identical band-keyed Exchanges into one materialized decode+hash pass (ReusedExchange in the final adaptive plan — ImageNearDupSpec pins it)",
    "t34_bigram_logprob" -> "bigram-LM quality score: ONE (w1,w2)-keyed exchange for the corpus bigram stream (built narrowly via slice+arrays_zip — codegen'd, no lambdas), reused by the frequency aggregate AND the probability probe (ReusedExchange x2 in the final adaptive plan); the context denominator re-aggregates the vocabulary-sized frequency table, never the corpus",
    "s17_ann_pq" -> "PQ ANN: narrow per-subspace IvfCell encode -> integer-ADC coarse scan over SQ8-grid reconstructions (rnorm2 - 2*int_dot, bit-stable candidate boundary, float column pruned off the candidate side) -> broadcast candidate fetch + exact FloatCosine rerank",
    "t35_cdc_chunk_dedup" -> "content-defined chunking: ONE doc-keyed exchange feeds two stacked WindowExecs (trigram boundary lags + running chunk counter share the sort) AND the (doc_id,chunk) assembly via subset clustering keys; only narrow (chunk_hash,n_toks,doc_id) rows reach the final dedup shuffle — two exchanges total, plan-pinned",
    "t36_dsir_selection" -> "DSIR importance selection: BOTH hashed-gram LMs off ONE aggregate pass, 1-row totals broadcast back (never driver-baked), TakeOrderedAndProject partial top-k",
    "s18_video_neardup" -> "video near-dup: narrow frame build (payload dies scan-side), df-capped candidate generation off a shared fh-keyed Exchange (ubiquitous frames pair nothing), exact containment verify over candidate pairs only — the verify joins REUSE the same materialized fingerprint pass (ReusedExchange, spec-pinned)",
    "t37_bpe_token_count" -> "trained-BPE token accounting: merge table rides the task closure into the codegen bpe_count scalar — NO join, text off every exchange; (doc,word) counts map-side-combine, apply runs once per distinct word per doc",
    "t38_winnow_substring_dedup" -> "winnowed substring dedup: native winnow_prints keeps the stride-1 gram explosion AND the sliding min in one codegen pass (~2n/W prints reach the first exchange, no WindowExec); pairs via the df-capped two-phase form off a shared print-keyed Exchange (ReusedExchange, spec-pinned)",
    "t39_bpe_tokenize" -> "trained-BPE tokenize-for-export: scan -> generate -> bpe_tokens codegen scalar -> generate, ZERO exchanges — merge and id tables ride the task closure, tokenization parallelizes per input split with nothing global",
    "t40_quality_classifier" -> "trained hashed-ngram NB quality gate: ONE codegen scalar (nb_quality_score) whose 4096-Long weight table + bias ride the task closure — ZERO exchanges, scan-side map work; integer log-odds so the dump-time VALUES oracle re-derives scores exactly",
    "s19_ann_ivfpq" -> "IVF-PQ ANN: narrow cell assign + per-subspace residual PQ encode, integer-ADC scoring over PROBED cells only with the per-cell qnorm2 term carried, exact float rerank of the top-K only",
    "s20_cluster_balanced_sample" -> "cluster-balanced sampling: narrow fused-argmin cell assign, vectors DROPPED before the one cell-keyed exchange ((vec_id,cell) only), partial WindowGroupLimit caps each task at quota rows per cell",
    "t42_source_mix_alloc" -> "temperature mixing weights (alpha=1/2) + largest-remainder apportionment: corpus collapses to (source, n_tok) at the scan, ONE source-keyed exchange with map-side combine, the total/residual/rank windows run on the |sources|-row table — integer-exact end to end (sqrt is the only float op, correctly rounded by IEEE in both engines)",
    "t43_kneser_ney_logprob" -> "interpolated Kneser-Ney bigram scoring: ONE (w1,w2) staged exchange reused by frequency, probe, contexts, and continuations (type counts via an otherwise-less CASE so NullPropagation can't de-unify the staging); type total re-aggregates the vocab-scale ctx table — corpus rows cross exactly two exchanges",
    "s21_hard_negatives" -> "hard-negative mining (DPR-shape): query slice broadcast, ONE corpus scan, label exclusion in the JOIN CONDITION so positives die before any cosine is computed; per-query top-k window — the corpus-scale mining pass swaps candidates for the s07/s02 bucket joins with the same predicate",
    "t44_token_fertility" -> "tokenizer fertility/compression per language: both counters (trained bpe_doc_count + tokens_of size) in ONE codegen'd scan-side projection, text dies at the scan, |langs|-row aggregate combines map-side — zero joins, one exchange; ratios are one integer-sum division each (no float accumulation)",
    "t45_bm25_retrieval" -> "BM25 top-k retrieval (the sparse sibling of s21): query-term IN filter sits directly on the explode_outer (outer on purpose — a plain explode infers size/isnotnull below the staging projection and tokenizes 3x, spec-caught), so only matching postings reach the (doc,term) exchange; corpus stats are a 1-row narrow-scan broadcast; top-k is TakeOrderedAndProject",
    "s22_hard_negatives_ivf" -> "corpus-scale hard-negative mining: trained-IVF cell equi-join candidates (query side broadcast with its nprobe=4 probe cells — one is burned on the query's own same-label cluster), label exclusion IN the candidate join before any cosine, vectors pruned off the top-k exchange — s21's brute force demoted to recall oracle",
    "t46_rrf_fusion" -> "hybrid retrieval fusion: each branch keeps its own scale story (t45's postings-filtered exchange, s01's broadcast baseline), the fusion itself is a full-outer join of two k-row lists with integer floor-div RRF scores — no float sum at the cut boundary",
    "t47_unigram_token_count" -> "unigram-LM (SentencePiece) token accounting: Viterbi min-cost apply as ONE codegen scalar, trained piece vocab in the task closure, per-distinct-word memo — ZERO exchanges, text dies in the scan-side projection (the BpeDocCount contract, second tokenizer family)",
    "t48_source_dedup_report" -> "per-source dedup/contamination report: the existing s03 pair machinery (exact-collapse routing, band join, merge-scan verify) plus ONE |pairs|-scale post-aggregation over the exploded pair sides (near-dup docs and cross-source pairs together), so the pair table has one consumer and is never checkpointed; the exact-dup branch pre-aggregates per (sha256-key, source) cell map-side so the key-partitioned window runs over distinct cells, not documents — no new shuffle shapes",
    "t49_html_extract" -> "jusText-class HTML boilerplate extraction: block split, integer link-density/length classification, tag strip + entity unescape in ONE narrow projection over codegen'd regexp/array builtins — ZERO exchanges, the pre-dedup stage feeding t04/t16/t40",
    "p14_catalog_scan" -> "metastore-addressed read (the reference's hive_db.hive_table form): the ds= predicate resolves against catalog PARTITION METADATA at planning time — partitionFilters, not dataFilters, so exactly one partition's files are planned (the path-based twin is p01)",
  )

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 4 cores like the spec session, so PLANS.md matches what
    // PlanAuditSpec enforces on any machine
    val spark = graft.GraftSession.getOrCreate(cores = 4)

    val sections = headline.map { case (name, why) =>
      val plan = PlanText.formatted(graft.queries.Registry.queries(name)(spark, sf))
      s"""## $name — $why
         |
         |```
         |$plan```
         |""".stripMargin
    }
    val doc =
      s"""# Physical plans (generated by graft.tools.PlanDump at $sf)
         |
         |What to look for (enforced by PlanAuditSpec):
         |- `PushedFilters` / narrow `ReadSchema` on every scan
         |- `HashAggregate(partial) -> Exchange -> HashAggregate(final)` pairs
         |- `BroadcastHashJoin` for dimension sides; no `CartesianProduct`
         |- `TakeOrderedAndProject` for top-k (no global Sort)
         |- single `Exchange` per keyed aggregation
         |
         |Expression IDs (`#N`) and `plan_id`s are renumbered per plan in order of
         |first appearance, so a regenerated file diffs only where a plan changed.
         |
         |${sections.mkString("\n")}""".stripMargin
    Files.writeString(Paths.get("PLANS.md"), doc)
    println(s"wrote PLANS.md (${sections.size} queries)")
    spark.stop()
  }
}
