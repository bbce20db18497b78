package graft

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR at local[N] and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query executes its FULL plan via a noop-format write — `count()`
  * would let Catalyst collapse map-only plans into parquet-footer counts
  * and under-report real work. One tiny warm-up action first so JVM/codegen
  * warm-up is not billed to the first query.
  */
object Bench {

  /** Headline set: one representative per engine area (scan+derive,
    * broadcast join, shuffle join, pivot, window, explode, sessionize,
    * chi-squared kernel, exact dedup, MinHash LSH, ANN top-k, text quality). */
  val BenchSet: Seq[String] = Seq(
    "q_p12_derived",
    "q_j1_left_broadcast",
    "q_j2_inner_multikey",
    "q_a2_crosstab",
    "q_w5_cumsum",
    "q_u3_explode_wordcount",
    "q_e_sessionize",
    "q_m20_chi2",
    "q_d_exact",
    "q_d_minhash_banded",
    "q_s_cosine_topk",
    "q_t_quality",
    // round-2 operators: event-time joins + sketch path
    "q_e_asof",
    "q_e_range_join",
    "q_sk_heavy_hitters",
    // round-3 operators: LSH-banded embedding near-dup + the distributed
    // global-index positional join (previously a single-partition window)
    "q_d_embed_neardup",
    "q_j3_positional",
    // round-6 operators: single-scan TF-IDF (persisted tf diamond),
    // pointer-jumping connected-components canonicalization, and the
    // broadcast n-gram decontamination filter
    "q_t_tfidf",
    "q_d_dup_clusters",
    "q_d_decontaminate",
    // round-7 capstones: the end-to-end corpus-curation and survey-
    // inference compositions — the most realistic user workloads
    "q_pipeline_corpus",
    "q_pipeline_survey",
    // round-7 operators: semantic dedup (codegen'd quantizer) and
    // sequence packing (distributed prefix sum)
    "q_d_semdedup",
    "q_t_pack",
    // round-7 operators, benched since round 8 — every oracled operator
    // family now has a recorded number: incremental batch-vs-corpus dedup,
    // duplicated-span detection + scrubbing, bigram-LM perplexity, BPE
    // merge induction, image dHash near-dup
    "q_d_incremental",
    // round-8: the persisted-index lifecycle (index built once, probed by
    // two batches, grown by the accepted docs between them)
    "q_d_incremental_indexed",
    "q_d_dup_spans",
    "q_d_span_scrub",
    "q_t_perplexity",
    "q_t_bpe_merges",
    "q_mm_image_neardup",
    // round-8: the quantized-GD distillation family (transfer variant —
    // 20 iterations, one integer agg each) and the BPE encode half
    "q_t_quality_clf_transfer",
    "q_t_bpe_encode",
    "q_s_ivf_pq",
    "q_t_ppl_buckets",
    "q_d_decontaminate_scored",
    // round-8 capstone: learn BPE -> encode -> token-budget mix -> pack
    "q_pipeline_tokenize",
    "q_j_salted_adaptive",
    "q_t_pack_grouped",
    "q_d_embed_incremental",
    "q_t_html_strip",
    "q_sk_cms",
    // round-9 operators: DSIR importance resampling (dual bigram-LM
    // scoring in one pass), token-balanced sharding (global prefix sum),
    // cluster-balanced embedding sampling (quantizer + capped rank)
    "q_t_dsir",
    "q_p17_token_shards",
    "q_s_cluster_sample",
    "q_d_containment",
    "q_p18_shuffle",
    "q_t_pack_curriculum",
    // round-9 additions: Gopher rule gate + trigram diversity (map-side
    // text battery), temperature mix + reservoir sample (k-row broadcast
    // decisions), Bloom-prefiltered decontamination (runtime-filter shape)
    "q_t_gopher_rules",
    "q_t_diversity",
    "q_p19_temperature_mix",
    "q_p20_reservoir",
    "q_d_bloom_decon",
    // round-9: A-ES weighted sampling and embedding scalar quantization
    "q_p21_weighted_reservoir",
    "q_s_sq8",
    // round-9: event analytics (user_id-keyed funnels/retention), the
    // source-level overlap audit (shingle-keyed), the one-pass correlation
    // matrix, and the codegen'd char-entropy gate (map-only)
    "q_e_funnel",
    "q_e_retention",
    "q_d_corpus_overlap",
    "q_a13_corr_matrix",
    "q_t_entropy",
    // round-9: session roll-up, hard-negative mining, CDC chunk dedup
    "q_e_session_stats",
    "q_s_hard_negatives",
    "q_d_cdc_chunks",
    "q_s_knn_graph",
    "q_s_semantic_clusters",
    "q_p22_stratified_split",
    // round-9: trigram stupid-backoff scoring and the per-source card
    "q_t_trigram_sb",
    "q_pipeline_corpus_card",
    "q_t_quality_norm",
    "q_e_moving_avg",
    "q_j7_interval",
    "q_e_attribution",
    "q_e_asof_fwd",
    "q_t_boilerplate",
    // round-9: suffix-array-exact duplicated char spans (single gram-key
    // window shuffle) and the Morton-key layout computation
    "q_d_exact_spans",
    "q_d_exact_scrub",
    "q_p23_zorder",
    // round-9: the multi-join optimizer showcase (TPC-H Q3/Q5 shapes)
    "q_j8_tpch_q3",
    "q_j9_tpch_q5",
    "q_sk_hll_state",
    "q_s_graph_rank",
    // round-9: robust profiling (exact distributed medians, histogram,
    // exact quantile discretizer on the global index)
    "q_a14_mad_outliers",
    "q_a15_histogram",
    "q_m36_quantile_bins",
    "q_d_exact_spans_incr",
    "q_d_prefix_jaccard",
    "q_a16_rollup",
    "q_e_wow",
    "q_p24_expectations",
    "q_e_transitions",
    "q_d_snapshot_diff",
    "q_w6_grouped_topk",
    "q_p25_hilbert",
    // round-11: trained-PQ codebook induction (exact-integer Lloyd) and
    // incremental union-find cluster maintenance (root-contracted batch CC
    // + broadcast remap of the persisted index)
    "q_s_pq_train",
    "q_d_cc_incremental",
    // round-11: persisted IVF postings lifecycle (append vs frozen quantizer)
    // and the KMV/theta distinct sketch with set algebra
    "q_s_ivf_append",
    "q_sk_kmv_theta",
    // round-11: BM25 retrieval (inverted-postings broadcast plan),
    // calendar gap-fill (distributed grid + ffill window), blocked fuzzy
    // linkage (distinct-name canonicalization, 33x over record pairing)
    "q_t_bm25",
    "q_e_gapfill",
    "q_d_fuzzy_link",
    // round-11: PMI collocations (gram-keyed aggs + TakeOrdered) and
    // trailing-window burst detection (one keyed RANGE-frame pass)
    "q_t_pmi",
    "q_e_burst",
    // round-11: basket-keyed association rules, single-pass ANOVA, and
    // ColBERT-style MaxSim late interaction
    "q_a17_basket_lift",
    "q_m37_anova",
    "q_s_maxsim",
    // round-11: session-path mining and the SCD2 history build
    "q_e_paths",
    "q_e_scd2",
    // round-11: two-sample distribution tests (KS drift + Mann-Whitney U)
    // off one shared exact-integer value-counts pass
    "q_m38_ks",
    "q_m39_mwu",
    // round-11: BM25+dense reciprocal-rank fusion (integer 1e12 div
    // (60+rank) contributions — no float anywhere in the fusion)
    "q_s_rrf",
    // round-11: degree-oriented triangle counting over the kNN graph
    "q_s_triangles",
    // round-11: exact nearest-rank winsorization off the value-counts
    // pass, and the one-pass CUBE subtotal expansion
    "q_a19_winsorize",
    "q_a18_cube",
    // round-11: RAKE corpus keywords (map-side regex phrase extraction,
    // integer-micro deg/freq scoring)
    "q_t_rake",
    // round-11: classifier reliability table (quantized-weight scoring,
    // decile bins on the distributed prefix sum)
    "q_t_calibration",
    // round-11: categorical MI/NMI off one joint-counts pass
    "q_m40_mutual_info",
    // round-11: sequential-pattern support (session-keyed ordered pairs)
    "q_e_seqpat",
    // round-11: k-core peel over the mutual kNN graph
    "q_s_kcore",
    // round-11: two-proportion A/B z-test (user-collapsed conversions)
    "q_m41_ab_test",
    // round-11: grouped OLS trendlines off one sufficient-stats pass
    "q_m42_grouped_ols",
    // round-11: per-source tokenizer fertility audit (BPE encode rollup)
    "q_t_fertility",
    // round-11: positional-postings exact phrase search
    "q_t_phrase_search",
    // round-11: quantile mapping (drift remediation by rank matching)
    "q_m43_quantile_map",
    // round-11: visual duplicate clusters (dHash pairs + CC closure)
    "q_mm_image_clusters",
    // round-11: embedding-based benchmark decontamination
    "q_d_embed_decon",
    // round-11: within-session conversion funnel
    "q_e_session_funnel",
    // round-11: 2-D equi-width histogram (joint density grid)
    "q_a20_hist2d",
    // round-11: c-TF-IDF semantic-cluster labeling
    "q_s_cluster_labels",
    // round-12: versioned IVF lifecycle (create+append+probe both
    // snapshots), three-leg feature-fusion rerank, n-gram novelty
    // scoring, data-derived semantic-cluster threshold
    "q_s_ivf_versioned",
    "q_s_rerank",
    "q_t_novelty",
    "q_s_semantic_adaptive",
    // round-12: IR-metric evaluation of the engine's own ANN run, MMR
    // diversified top-k, DoReMi-flavored domain tilt
    "q_s_retrieval_eval",
    "q_s_mmr",
    "q_p26_doremi_tilt",
    // round-12: PSI drift monitor between corpus snapshots
    "q_m44_psi",
    // round-12: Cohen's kappa gate agreement + Poisson bootstrap bands
    "q_m45_kappa",
    "q_m46_bootstrap",
    // round-12: matryoshka two-stage retrieval (prefix-dim candidates)
    "q_s_matryoshka",
    // round-12: label-propagation communities and greedy k-center
    // coreset (graph family rides the shared KnnGraphCache checkpoint —
    // first family query in the run pays the one graph build)
    "q_s_lpa",
    "q_s_kcenter",
    // round-12: Kruskal-Wallis rank test and CUPED variance reduction
    "q_m47_kruskal",
    "q_m48_cuped",
    // round-12 batch 3: versioned embedding LSH index lifecycle,
    // BH-FDR drift sweep, Kish ESS, rank-biased overlap, Zipf fit,
    // PRF two-pass retrieval, UniMax waterfill
    "q_d_embed_versioned",
    "q_m49_bh_fdr",
    "q_m50_kish",
    "q_s_rbo",
    "q_t_zipf",
    "q_t_prf",
    "q_p27_unimax",
    // round-12: dedup saturation curve (per-batch + cumulative novelty)
    "q_d_saturation",
    // round-12: Gini concentration and Kaplan-Meier survival
    "q_m51_gini",
    "q_m52_km",
    // round-12: vocabulary coverage, CUSUM change point, log-rank
    "q_t_vocab_coverage",
    "q_e_cusum",
    "q_m53_logrank",
    // round-12: jackknife ratio-metric error bars
    "q_m54_jackknife",
    // round-12 batch 4: agreement/ranking statistics (Fleiss, AUC,
    // gains, Mann-Kendall/Theil-Sen, Bradley-Terry integer MM,
    // conformal bands, isotonic), Dawid-Skene all-integer EM,
    // Heaps-law fit, k-anonymity audit, LM-Dirichlet QL ranker,
    // LSH banding operating-point audit (diagnostic-tier: runs the
    // AllPairs truth AND an 8-hash sha256 minhash on purpose),
    // manifest-versioned gram index lifecycle
    "q_m55_fleiss", "q_m56_auc", "q_m57_gains", "q_m58_mann_kendall",
    "q_m59_bradley_terry", "q_m60_conformal", "q_m61_isotonic",
    "q_m62_dawid_skene", "q_t_heaps", "q_p28_kanon",
    "q_t_ql_dirichlet", "q_d_lsh_audit", "q_d_spans_versioned",
    // round-12 batch 5: experiment-design family — SMD balance,
    // post-stratified effect, SRM alarm, power sizing, mSPRT monitor
    "q_m63_smd", "q_m64_poststrat", "q_m65_srm", "q_m66_power",
    "q_m67_msprt", "q_m68_qte", "q_m69_did",
    // round-12: all-integer survey raking (IPF) and Krippendorff's
    // ragged-panel alpha
    "q_inf_raking", "q_m70_kripp_alpha", "q_m71_spearman",
    "q_m72_cochran_armitage",
    // round-12 batch 6: paired/continuous A/B companions — McNemar's
    // paired-gate test, Welch's t + Cohen's d, Brown-Forsythe spread
    // homogeneity
    "q_m73_mcnemar", "q_m74_welch_t", "q_m75_levene",
    // round-12 batch 6b: rank-based repeated measures + post-hoc —
    // Friedman/Kendall-W, Dunn pairwise after Kruskal-Wallis
    "q_m76_friedman", "q_m77_dunn",
    // round-12 batch 7: distribution-distance drift pair — W1
    // earth-mover per source, Jensen-Shannon unigram divergence
    "q_m78_wasserstein", "q_t_jsd",
    // round-12 batch 7b: association effect sizes (Cramer V / Theil U)
    // and Cliff's delta off the shared MWU sufficient statistic
    "q_m79_assoc", "q_m80_cliffs_delta",
    // round-12 batch 7c: cascade retrieval metric (ERR) and the EWMA
    // integer control chart with its streaming-state twin
    "q_s_err", "q_e_ewma",
    // round-12 batch 7d: graph-partition quality (LPA modularity) and
    // degree assortativity over the shared mutual kNN graph
    "q_s_modularity", "q_s_assort",
    // round-12 batch 8: forecast audit (Brier/Murphy decomposition)
    // and scale reliability (Cronbach alpha)
    "q_m81_brier", "q_m82_cronbach",
    // round-12 batch 8b: interpolated Kneser-Ney bigram scoring — the
    // filter-grade LM next to the add-k and stupid-backoff baselines
    "q_t_kneser_ney",
    // round-12 batch 8c: min-k% surprisal membership probe, Benford
    // first-digit forensics
    "q_t_mink", "q_m83_benford",
    // round-12 batch 8d: semi-hard triplet mining over the certified
    // brute-force candidates
    "q_s_triplets",
    // round-12 batch 8e: seasonal-naive DOW profile + Hampel outliers
    "q_e_seasonal",
    // round-12 batch 8f: HITS hubs/authorities (exact path counts)
    "q_s_hits",
    // round-12 batch 8g: Holt level+trend chart
    "q_e_holt",
    // round-12 batch 8h: TOST equivalence, Simpson flip guard,
    // Poisson dispersion index
    "q_m84_tost", "q_m85_simpson", "q_e_dispersion",
    // round-12 batch 8i: MCC agreement strength, lag-k ACF
    "q_m86_mcc", "q_e_autocorr",
    // round-12 batch 8j: Gwet AC1 prevalence-robust agreement
    "q_m87_gwet_ac1",
    // round-12 batch 8k: Cochran-Mantel-Haenszel stratified pool
    "q_m88_cmh",
    // round-13: perceptual media dedup (integer-DCT image pHash,
    // Haitsma-Kalker audio fingerprint + exact-key clip dedup,
    // frame-sampled video pHash)
    "q_mm_phash_neardup", "q_mm_audio_fp", "q_mm_audio_neardup",
    "q_mm_video_phash", "q_mm_binary_lake", "q_mm_tar_shards",
    "q_mm_silence_spans", "q_mm_image_decon", "q_mm_phash_clusters",
    "q_mm_audio_decon",
    // round-13: curation surface (broadcast-lexicon blocklist gate,
    // first-fail funnel report, curriculum ordering), scale ops
    // (embargoed temporal split, key-skew diagnostics), codegen'd JL
    // projection
    "q_t_blocklist", "q_p30_curation_funnel", "q_p32_curriculum",
    "q_e_embargo_split", "q_p31_skew_report", "q_s_jl_project",
    // round-14: unigram-LM tokenizer lifecycle + its pipeline capstone,
    // URL/domain curation entry, gopher funnel, training-objective prep
    // (span corruption, FIM, chat render), privacy t-closeness, batch
    // economics (padding waste, packing contamination)
    "q_t_unigram_lm", "q_t_unigram_encode", "q_pipeline_unigram",
    "q_t_url_norm", "q_p33_domain_caps", "q_p34_gopher_funnel",
    "q_t_span_corruption", "q_t_fim_split", "q_t_chat_render",
    "q_p35_tcloseness", "q_p36_padding_waste", "q_t_pack_contamination",
    "q_p37_shuffle_quality", "q_t_crop_pairs", "q_p38_kanon_generalize",
    // round-15: token-level loss masks (template x unigram encode),
    // likelihood-loss vocabulary pruning, best-fit-decreasing packing
    "q_t_chat_tokens", "q_t_unigram_prune", "q_t_pack_bestfit",
    "q_t_pack_bestfit_assign", "q_pipeline_sft",
    "q_t_pack_bestfit_masks",
    // round-16: per-stage fixed-overhead calibration probe — benched at
    // BOTH core counts so the cross-core scaling report can subtract the
    // scheduling/codegen floor instead of reading it as "no speedup"
    "q_p39_stage_floor")

  /** (1-minute, 5-minute) load averages from /proc/loadavg (-1 when unreadable). */
  private def loadAvg(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try {
        val f = src.mkString.split(" ")
        (f(0).toDouble, f(1).toDouble)
      } finally src.close()
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** Aggregate cpu ticks from /proc/stat's first line:
    * (user+nice, system+irq+softirq, idle, iowait, steal, total).
    * Loadavg missed round-8's contamination — co-tenant/cgroup pressure
    * showed up as SYSTEM time, not runnable-queue depth — so the artifact
    * stamps tick-fraction deltas that make that failure mode visible. */
  private def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        def at(i: Int) = if (f.length > i) f(i) else 0L
        Array(at(0) + at(1), at(2) + at(5) + at(6), at(3), at(4), at(7),
          f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => Array.fill(6)(-1L) }

  /** Per-query warm-machine reference seconds — MEASURED, not padded:
    * one TimeOne warm pass over the full BenchSet at sf0.1 on a quiet
    * machine (round 11; load1 0.15 at start, 95 queries in 417 s wall).
    * Replaces the former sweep-time-x3 backfill whose headroom let a
    * round-10 contention spike (q_s_semantic_clusters 95.8 s vs 9.9 s
    * real) escape the rerun defense by 3%. A run exceeding 3x its
    * reference (above a 5 s noise floor) is re-run once and the MIN
    * kept — real regressions reproduce, contention artifacts don't.
    * q_d_cc_incremental pins its ISOLATED TimeOne warm (11.5 s; its
    * in-sweep reading of 20.6 s was position noise). */
  private val RefSec: Map[String, Double] = Map(
    "q_p12_derived" -> 1.9, "q_j1_left_broadcast" -> 1.2,
    "q_j2_inner_multikey" -> 1.3, "q_a2_crosstab" -> 0.5,
    "q_w5_cumsum" -> 0.7, "q_u3_explode_wordcount" -> 0.4,
    "q_e_sessionize" -> 0.8, "q_m20_chi2" -> 0.5, "q_d_exact" -> 0.5,
    // q_d_minhash_banded: r16 remeasured (the r11 value was a faster host)
    "q_d_minhash_banded" -> 2.3, "q_s_cosine_topk" -> 0.4,
    "q_t_quality" -> 0.9, "q_e_asof" -> 0.8, "q_e_range_join" -> 0.6,
    "q_sk_heavy_hitters" -> 0.5, "q_d_embed_neardup" -> 1.4,
    "q_j3_positional" -> 1.6, "q_t_tfidf" -> 1.4, "q_d_dup_clusters" -> 1.6,  // r15 CC fast path + verify repartition
    "q_d_decontaminate" -> 1.0, "q_pipeline_corpus" -> 6.5,  // r16 diamond persists
    "q_pipeline_survey" -> 0.7, "q_d_semdedup" -> 0.8, "q_t_pack" -> 0.7,
    "q_d_incremental" -> 0.6, "q_d_incremental_indexed" -> 1.3,
    "q_d_dup_spans" -> 2.4, "q_d_span_scrub" -> 2.6, "q_t_perplexity" -> 1.4,
    // r16: driver-local BPE loop; media ImageIO + signature caches
    "q_t_bpe_merges" -> 0.7, "q_mm_image_neardup" -> 1.2,
    "q_t_quality_clf_transfer" -> 0.7, "q_t_bpe_encode" -> 1.4,  // r16
    "q_s_ivf_pq" -> 1.1, "q_t_ppl_buckets" -> 3.7,
    "q_d_decontaminate_scored" -> 1.1, "q_pipeline_tokenize" -> 2.1,  // r16 driver-local BPE loop
    "q_j_salted_adaptive" -> 0.6, "q_t_pack_grouped" -> 1.1,
    "q_d_embed_incremental" -> 1.2, "q_t_html_strip" -> 0.7,
    "q_sk_cms" -> 0.4, "q_t_dsir" -> 5.2, "q_p17_token_shards" -> 0.9,
    "q_s_cluster_sample" -> 0.6, "q_d_containment" -> 2.6,
    "q_p18_shuffle" -> 0.6, "q_t_pack_curriculum" -> 0.7,
    "q_t_gopher_rules" -> 0.8, "q_t_diversity" -> 1.2,
    "q_p19_temperature_mix" -> 0.4, "q_p20_reservoir" -> 0.3,
    "q_d_bloom_decon" -> 1.7, "q_p21_weighted_reservoir" -> 0.2,
    "q_s_sq8" -> 1.8, "q_e_funnel" -> 0.7, "q_e_retention" -> 0.7,
    "q_d_corpus_overlap" -> 2.3, "q_a13_corr_matrix" -> 0.3,
    "q_t_entropy" -> 0.4, "q_e_session_stats" -> 3.8,
    "q_s_hard_negatives" -> 0.3, "q_d_cdc_chunks" -> 0.9,
    "q_s_knn_graph" -> 6.0, "q_s_semantic_clusters" -> 0.5,  // r15 CC fast path
    "q_p22_stratified_split" -> 0.3, "q_t_trigram_sb" -> 1.9,
    "q_pipeline_corpus_card" -> 0.5, "q_t_quality_norm" -> 0.5,
    "q_e_moving_avg" -> 0.6, "q_j7_interval" -> 0.3,
    "q_e_attribution" -> 0.6, "q_e_asof_fwd" -> 0.6,
    "q_t_boilerplate" -> 1.8, "q_d_exact_spans" -> 1.5,
    "q_d_exact_scrub" -> 1.4, "q_p23_zorder" -> 0.8, "q_j8_tpch_q3" -> 0.8,
    "q_j9_tpch_q5" -> 1.2, "q_sk_hll_state" -> 0.8, "q_s_graph_rank" -> 6.7,
    // q_a14: r16 grouped GlobalIndex medians
    "q_a14_mad_outliers" -> 3.9, "q_a15_histogram" -> 0.6,
    "q_m36_quantile_bins" -> 1.4, "q_d_exact_spans_incr" -> 1.9,
    // r15 verify-join rewrite: prefix_jaccard 14.2 -> 6.9
    "q_d_prefix_jaccard" -> 6.9, "q_a16_rollup" -> 0.3, "q_e_wow" -> 0.4,
    "q_p24_expectations" -> 1.3, "q_e_transitions" -> 0.5,
    "q_d_snapshot_diff" -> 0.3, "q_w6_grouped_topk" -> 0.3,
    "q_p25_hilbert" -> 0.5, "q_s_pq_train" -> 2.7,  // r16 remeasured
    "q_d_cc_incremental" -> 4.4,  // r15 CC fast path
    "q_s_ivf_append" -> 2.4, "q_sk_kmv_theta" -> 1.7,
    "q_t_bm25" -> 2.4, "q_e_gapfill" -> 1.3, "q_d_fuzzy_link" -> 1.7,
    "q_t_pmi" -> 1.9, "q_e_burst" -> 1.1,
    "q_a17_basket_lift" -> 2.7, "q_m37_anova" -> 0.9,
    "q_s_maxsim" -> 0.6, "q_e_paths" -> 1.5, "q_e_scd2" -> 0.8,
    "q_m38_ks" -> 1.8, "q_m39_mwu" -> 1.4, "q_s_rrf" -> 1.9,
    "q_s_triangles" -> 8.8, "q_a19_winsorize" -> 2.5,
    "q_a18_cube" -> 0.4, "q_t_rake" -> 1.9, "q_t_calibration" -> 2.0,  // r16 combo fast path
    "q_m40_mutual_info" -> 3.1, "q_e_seqpat" -> 2.4,
    "q_s_kcore" -> 11.5, "q_m41_ab_test" -> 0.6,
    "q_m42_grouped_ols" -> 2.0, "q_t_fertility" -> 1.3,  // r16 driver-local BPE loop
    "q_t_phrase_search" -> 1.2, "q_m43_quantile_map" -> 2.9,
    // r15 CC fast path: image_clusters 6.4 -> 3.6
    // q_mm_image_clusters: r16 ImageIO + signature cache
    "q_mm_image_clusters" -> 1.6, "q_d_embed_decon" -> 1.0,
    "q_e_session_funnel" -> 2.9, "q_a20_hist2d" -> 1.0,
    "q_s_cluster_labels" -> 18.0,
    // round-12 additions: TimeOne warm, sf0.1, load1 ~4 (documented —
    // remeasure on a quiet window if they flag)
    "q_s_ivf_versioned" -> 3.8, "q_s_rerank" -> 2.7,
    "q_t_novelty" -> 1.0, "q_s_semantic_adaptive" -> 1.1,  // r16 distributed percentile cut
    // r15 lineage truncation: mmr 4.7 -> 2.6
    "q_s_retrieval_eval" -> 1.3, "q_s_mmr" -> 2.6,
    "q_p26_doremi_tilt" -> 1.4, "q_m44_psi" -> 1.4,
    "q_m45_kappa" -> 0.7, "q_m46_bootstrap" -> 0.6,
    "q_s_matryoshka" -> 0.9,
    // round-12 batch 2: TimeOne warm, sf0.1, load1 1.75; q_s_lpa's
    // reference covers the shared-graph build in case it runs first
    "q_s_lpa" -> 7.6, "q_s_kcenter" -> 2.1,
    "q_m47_kruskal" -> 0.8, "q_m48_cuped" -> 0.7,
    // round-12 batch 3: TimeOne warm, sf0.1, load1 1.56 (embed_versioned
    // and prf carry their cold index/double-pass cost margins)
    "q_d_embed_versioned" -> 4.5, "q_m49_bh_fdr" -> 2.3,  // r16 distributed BH
    "q_m50_kish" -> 0.4, "q_s_rbo" -> 1.3, "q_t_zipf" -> 1.0,
    "q_t_prf" -> 3.2, "q_p27_unimax" -> 1.2,  // r16 distributed waterfill
    "q_d_saturation" -> 0.9,
    "q_m51_gini" -> 1.4, "q_m52_km" -> 2.1,  // r16 distributed KM runnings
    "q_t_vocab_coverage" -> 1.1, "q_e_cusum" -> 1.1,
    "q_m53_logrank" -> 1.8,  // r16 distributed risk sets
    "q_m54_jackknife" -> 0.9,
    // round-12 batch 4: TimeOne warm, sf0.1, load1 ~2 (decaying sweep);
    // dawid_skene and lsh_audit measured AFTER their persist/AllPairs
    // optimizations
    "q_m55_fleiss" -> 0.7, "q_m56_auc" -> 0.5, "q_m57_gains" -> 1.3,  // r16 distributed above-counts
    "q_m58_mann_kendall" -> 1.1, "q_m59_bradley_terry" -> 0.5,
    "q_m60_conformal" -> 0.6, "q_m61_isotonic" -> 0.4,
    // q_m62: r16 combo fast path
    "q_m62_dawid_skene" -> 0.8, "q_t_heaps" -> 0.8,
    "q_p28_kanon" -> 0.3, "q_t_ql_dirichlet" -> 1.9,
    // r15 conv parse + single tokenize + shared truth shingles: 21.3 -> 7.5
    "q_d_lsh_audit" -> 7.5, "q_d_spans_versioned" -> 4.2,
    // round-12 batch 5: TimeOne warm, sf0.1, quiet machine
    "q_m63_smd" -> 1.4, "q_m64_poststrat" -> 1.8, "q_m65_srm" -> 0.4,
    "q_m66_power" -> 0.3, "q_m67_msprt" -> 0.6, "q_m68_qte" -> 2.0,
    "q_m69_did" -> 0.7, "q_inf_raking" -> 1.4,
    "q_m70_kripp_alpha" -> 2.2, "q_m71_spearman" -> 1.7,
    "q_m72_cochran_armitage" -> 1.4,
    // round-12 batch 6: TimeOne warm, sf0.1, quiet machine
    "q_m73_mcnemar" -> 0.5, "q_m74_welch_t" -> 1.3,
    "q_m75_levene" -> 2.9,
    "q_m76_friedman" -> 1.2, "q_m77_dunn" -> 2.7,  // r16 distributed midranks
    "q_m78_wasserstein" -> 1.4,  // r16 distributed cumsum+gap
    "q_t_jsd" -> 1.2,
    "q_m79_assoc" -> 2.4, "q_m80_cliffs_delta" -> 1.8,
    "q_s_err" -> 1.6, "q_e_ewma" -> 0.5,
    // measured with the session kNN-graph cache warm (the bench runs
    // the earlier graph family first, so the cache is always warm here)
    "q_s_modularity" -> 2.7, "q_s_assort" -> 0.5,
    "q_m81_brier" -> 1.1, "q_m82_cronbach" -> 0.8,
    "q_t_kneser_ney" -> 2.2,
    "q_t_mink" -> 2.5, "q_m83_benford" -> 1.8,
    "q_s_triplets" -> 3.0,
    "q_e_seasonal" -> 2.8,
    // measured with the session kNN-graph cache warm (see q_s_modularity)
    "q_s_hits" -> 1.9,
    "q_e_holt" -> 0.9,
    "q_m84_tost" -> 0.6, "q_m85_simpson" -> 0.7,
    "q_e_dispersion" -> 0.5,
    "q_m86_mcc" -> 0.5, "q_e_autocorr" -> 1.2,
    "q_m87_gwet_ac1" -> 0.8,
    "q_m88_cmh" -> 0.8,
    // round-13: TimeOne warm, sf0.1, quiet machine (load1 < 0.1)
    "q_mm_phash_neardup" -> 1.0, "q_mm_audio_fp" -> 0.4,  // r16 media fixes
    "q_mm_audio_neardup" -> 0.6, "q_mm_video_phash" -> 1.4,
    "q_mm_binary_lake" -> 2.9, "q_mm_tar_shards" -> 1.4,
    "q_mm_silence_spans" -> 0.3,
    "q_t_blocklist" -> 1.4, "q_p30_curation_funnel" -> 0.3,
    "q_p32_curriculum" -> 0.6, "q_e_embargo_split" -> 1.7,  // r16 distributed boundary cumsum
    "q_p31_skew_report" -> 0.5, "q_s_jl_project" -> 0.2,
    "q_mm_image_decon" -> 1.4, "q_mm_phash_clusters" -> 1.8,
    "q_mm_audio_decon" -> 1.1,
    // round-14: TimeOne warm, sf0.1, quiet machine; unigram family
    // remeasured in r15 after the compiled-Viterbi DP (was 9.0/9.6/9.7)
    "q_t_unigram_lm" -> 2.2, "q_t_unigram_encode" -> 2.8,
    "q_pipeline_unigram" -> 4.3, "q_t_url_norm" -> 0.3,
    "q_p33_domain_caps" -> 0.4, "q_p34_gopher_funnel" -> 0.5,
    "q_t_span_corruption" -> 1.3, "q_t_fim_split" -> 0.5,
    "q_t_chat_render" -> 0.7, "q_p35_tcloseness" -> 0.4,
    "q_p36_padding_waste" -> 0.8, "q_t_pack_contamination" -> 0.5,
    "q_p37_shuffle_quality" -> 1.8, "q_t_crop_pairs" -> 0.7,
    // r15: ROLLUP single-pass ladder cut q_p38 from 1.3 to ~0.4 warm
    "q_p38_kanon_generalize" -> 0.5,
    // r15 additions (TimeOne warm at sf0.1), remeasured after the
    // compiled-Viterbi DP (was 13.6/3.6/14.6 — the HOF fold carried a
    // per-JVM janino warm-up the compiled expression does not pay)
    "q_t_chat_tokens" -> 1.8, "q_t_unigram_prune" -> 1.2,
    "q_t_pack_bestfit" -> 1.7, "q_t_pack_bestfit_assign" -> 2.5,
    "q_pipeline_sft" -> 6.3, "q_t_pack_bestfit_masks" -> 3.5,
    // r16 calibration probe (TimeOne warm, sf-independent)
    "q_p39_stage_floor" -> 1.1)

  def main(args: Array[String]): Unit = {
    // every benched query must carry a measured reference, or the
    // min-of-two outlier defense silently doesn't apply to it — exactly
    // the queries whose numbers most need defending (round-9 verdict #3)
    val noRef = BenchSet.filterNot(RefSec.contains)
    require(noRef.isEmpty,
      s"BenchSet entries missing a RefSec reference: ${noRef.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Bench numbers recorded while leftover sbt/test JVMs still run are
    // contention artifacts, not engine cost. Wait (up to 10 min) for BOTH
    // the 1-min AND 5-min loads to drop below 2 before timing anything —
    // the 1-min average alone lags a process that is still winding down —
    // and ALWAYS stamp the start/end load into the JSON so contamination
    // is self-documenting.
    var (loadStart, load5Start) = loadAvg()
    val idleDeadline = System.nanoTime() + 600L * 1000000000L
    while ((loadStart > 2.0 || load5Start > 2.0) &&
           System.nanoTime() < idleDeadline) {
      System.err.println(
        f"[bench] load1 $loadStart%.2f / load5 $load5Start%.2f — waiting for idle machine (need both < 2)")
      Thread.sleep(5000)
      val l = loadAvg(); loadStart = l._1; load5Start = l._2
    }
    if (loadStart > 2.0 || load5Start > 2.0)
      System.err.println(f"[bench] WARNING: recording under load1 $loadStart%.2f / load5 $load5Start%.2f" +
        " — timings below overstate real cost")
    val ticksStart = cpuTicks()
    // r16 note: status-store retention caps (spark.sql.ui.
    // retainedExecutions etc.) were HYPOTHESIZED to explain the
    // residual in-bench position noise and tested with a capped vs
    // uncapped FULL bench on the same code: totals 371.4 vs 372.6 s,
    // per-position-third geomean ratios 1.04/0.94/1.02 — no effect, so
    // the caps are NOT shipped and the session config stays identical
    // to prior rounds (the earlier micro-batch "confirmation" was
    // confounded by load decaying from preceding sbt work — TimeOne
    // batches are only trustworthy on a quiet machine).
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")

    // warm up the session (parquet reader + codegen paths)
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // Calibration probe: a canonical lineitem aggregation, timed AFTER
    // warm-up and stamped in the JSON. Its cost is dominated by scan +
    // hash-agg throughput, so a contaminated environment shows up as a
    // calibration number far above the ~1 s a quiet machine records —
    // per-query timings can then be discounted with evidence instead of
    // being taken at face value.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calibStart = calibrate()

    def timeOnce(name: String): (Double, Boolean) = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        // release per-query caches so one query's shingle/minhash frames
        // don't occupy storage (or skew timings) for the queries after it
        finally spark.catalog.clearCache()
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    var reruns = List.empty[String]
    val results = BenchSet.map { name =>
      // r15 measurement fix (documented in OPTIMIZATION_r15.md): force a
      // GC BETWEEN queries, outside every timed region. Spark's
      // ContextCleaner only reclaims finished queries' broadcasts and
      // shuffle files when a JVM GC runs; with an 8 GB heap the debris
      // of preceding queries otherwise lands on successors — measured:
      // q_d_prefix_jaccard ran 11.4/8.0 s directly after two unrelated
      // queries vs 7.4/5.7 s isolated, decaying over repeats. The timed
      // region itself is unchanged (full plan via noop + clearCache),
      // so per-query numbers remain comparable and now measure the
      // query, not its predecessors' uncollected garbage.
      System.gc()
      // stamp the load right before the query: a polluted run becomes
      // machine-readable per query, not just per run (round-11 bench was
      // contention-polluted end to end — load1 4 → 16 — and the artifact
      // could only say so globally)
      val load1AtQuery = loadAvg()._1
      val (t1, ok1) = timeOnce(name)
      // Outlier defense: >3x the warm-machine reference (and above a 5 s
      // noise floor) → one re-run, keep the min. A genuine regression
      // reproduces on the re-run; a contention spike does not.
      val ref = RefSec(name) // total coverage enforced at startup
      val (t, ok) =
        if (ok1 && t1 > 3.0 * ref && t1 > 5.0) {
          System.err.println(
            f"[bench] $name%s took $t1%.1f s vs reference $ref%.1f s — re-running once")
          reruns ::= name
          val (t2, ok2) = timeOnce(name)
          val tMin = if (ok2) math.min(t1, t2) else t1
          // Round-11 failure mode: BOTH runs sat inside one contended
          // window, so min-of-two still overstated 8 queries by 3–15×.
          // When the min is still an outlier AND there is CONTENTION
          // EVIDENCE (runnable-queue depth > 2 now or at query start, or
          // a calibration probe that started ≥3× slow), spend a third
          // attempt — a real regression survives it, a loaded window
          // usually doesn't, and either way the load stamps make the
          // artifact self-describing.
          if (ok2 && tMin > 3.0 * ref && tMin > 5.0 &&
              (load1AtQuery > 2.0 || loadAvg()._1 > 2.0 ||
                calibStart > 3.0)) {
            System.err.println(
              f"[bench] $name%s still $tMin%.1f s under measured contention — third attempt")
            reruns ::= name
            val (t3, ok3) = timeOnce(name)
            if (ok3) (math.min(tMin, t3), true) else (tMin, true)
          } else if (ok2) (tMin, true) else (t1, ok1)
        } else (t1, ok1)
      // a failed query reports -1, not its partial elapsed time — a broken
      // query must not produce a plausible-looking number
      (name, if (ok) t else -1.0, ok, load1AtQuery)
    }
    val calibEnd = calibrate()
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val rerunJson = reruns.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query load1 at start: lets a reader discount exactly the
    // queries that ran under load instead of the whole artifact
    val loadPerQuery = results
      .map { case (k, _, _, l) => "\"" + k + "\":" + f"$l%.2f" }
      .mkString("{", ",", "}")
    val total = results.filter(_._3).map(_._2).sum
    val (loadEnd, load5End) = loadAvg()
    val dt = ticksStart.zip(cpuTicks()).map { case (a, b) => b - a }
    val totTicks = math.max(1L, dt(5))
    val (sysF, iowF, stealF) =
      if (ticksStart(0) < 0) (-1.0, -1.0, -1.0)
      else (dt(1).toDouble / totTicks, dt(3).toDouble / totTicks,
        dt(4).toDouble / totTicks)
    // full artifact first (per-query map + load stamps, ~9 KB with 200+
    // queries), then a COMPACT summary as the very last stdout line — the
    // driver's tail capture truncates long lines, so the machine-readable
    // summary must be short and last
    // built from small pieces: one flat f-interpolation this long
    // overflows scalac's CleanUp-phase stack
    val detail = Seq(
      f"""{"metric":"total_detail","value":$total%.3f,"unit":"sec"""",
      s""""queries":$qs""",
      s""""failed":$failed""",
      s""""reruns":$rerunJson""",
      s""""load1_per_query":$loadPerQuery""",
      f""""calib_start_sec":$calibStart%.3f""",
      f""""calib_end_sec":$calibEnd%.3f""",
      f""""cpu_sys_frac":$sysF%.3f""",
      f""""cpu_iowait_frac":$iowF%.3f""",
      f""""cpu_steal_frac":$stealF%.3f""",
      f""""load1_start":$loadStart%.2f""",
      f""""load5_start":$load5Start%.2f""",
      f""""load1_end":$loadEnd%.2f""",
      f""""load5_end":$load5End%.2f""",
      s""""sf":"$sfDir"}""").mkString(",")
    // the driver artifact keeps only a 2000-char stdout TAIL, which
    // truncates the per-query times out of every round's record (r14
    // verdict) — so ALSO land the full detail on disk, where cross-round
    // per-query regression diffs can actually read it
    val timesPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMES",
      "bench_times.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(timesPath),
        (detail + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] per-query times written to $timesPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $timesPath: $e")
    }
    println(detail)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size}%d,"n_failed":${results.count(!_._3)}%d,"failed":$failed%s,"cpu_steal_frac":$stealF%.3f,"load1_start":$loadStart%.2f,"load1_end":$loadEnd%.2f,"sf":"$sfDir%s"}""")
    spark.stop()
    if (results.exists(!_._3)) sys.exit(1)
  }
}
