package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}. Each query is forced with a count() so
  * the full plan (including writes-free aggregation) executes. */
object Bench {

  /** Representative slice of the inventory: one per operator family. */
  val headline: Seq[String] = Seq(
    "q_filter_project", "q_agg_groupby", "q_agg_distinct", "q_udaf_weighted",
    "q_join_broadcast", "q_join_sortmerge", "q_tpch_q3", "q_tpch_q5",
    "q_asof_join", "q_window_rank", "q_window_extras", "q_sort_topk",
    "q_set_ops", "q_scalar_math", "q_json", "q_events_sessionize",
    "q_graph_bfs", "q_graph_cc", "q_graph_bfs_big", "q_graph_cc_big",
    // r13: data-scale DFS pair — bounded exact replay (reduced
    // adjacency) and the any-scale distributed classification;
    // r14: + the residual settle (rule classes + certain-parent
    // reduction + residual replay, undecided fraction in-output)
    // (q_graph_dfs_reduce moved to benchExcluded in r16: once its
    // live-set derivation was session-staged, the per-rep remainder is
    // ~50 pointer-doubling supersteps on the 150-vertex fixture —
    // barrier latency, not data work)
    "q_graph_dfs_leaves_big", "q_graph_dfs_classes", "q_graph_dfs_residual",
    "q_text_stats", "q_text_tokens_bpe", "q_text_fingerprint",
    "q_dedup_exact", "q_dedup_simhash", "q_dedup_minhash", "q_dedup_ngram",
    "q_dedup_pipeline", "q_embed_topk", "q_embed_ivf",
    // round-2 operator families
    "q_tpch_q10", "q_events_funnel", "q_events_retention", "q_window_sliding",
    "q_dedup_editdist", "q_embed_kmeans", "q_graph_kcore",
    // round-3 operator families
    "q_tpch_q1", "q_tpch_q19", "q_text_chunks", "q_embed_lsh",
    // round-5 operator families
    "q_tpch_q8", "q_tpch_q21", "q_asof_exec", "q_asof_exec_bucketed",
    "q_dedup_simhash_near", "q_embed_recall", "q_embed_quant",
    // round-7 operator families: data-scale PageRank (superstep
    // overhead watch), LSH-bucketed embedding near-dup (reworked from
    // the label-join form), multi-probe IVF recall. Order note (r13):
    // the two sub-second entries run BEFORE the family's two heaviest
    // — q_sample_stratified and q_embed_ivf_multiprobe triggered
    // (and were exonerated) three rounds straight when scheduled
    // directly after pagerank_big + dedup_embed, whose churn is a
    // large multiple of their floors; membership is unchanged, only
    // the reps moved (the BenchSelection partition is order-free)
    "q_embed_ivf_multiprobe", "q_sample_stratified",
    "q_graph_pagerank_big", "q_dedup_embed",
    "q_text_decontaminate", "q_embed_rerank",
    "q_graph_triangles_big", "q_dedup_incremental", "q_text_lmscore",
    "q_pipeline_curation",
    // round-8 operator families: broadcast bloom runtime-filter join,
    // count-min sketch heavy hitters, per-edge jaccard link scoring,
    // SCD-2 interval build, exact repeated-span dedup, z-order layout
    "q_join_bloom", "q_sketch_cms", "q_graph_jaccard", "q_events_scd2",
    "q_dedup_substring", "q_layout_zorder",
    // wave-6 families: market-basket pair mining (lineitem self-join
    // on the basket key) and CDC latest-wins snapshot (max_by-style
    // partial+final struct agg)
    "q_basket_pairs", "q_cdc_snapshot",
    // wave-8: one-scan constraint suite + per-user outlier detection
    "q_quality_checks", "q_events_anomaly",
    // wave-9: product quantization ANN (codebook assign + ADC LUT)
    "q_embed_pq",
    // wave-10: bin-explode interval join, gaps-and-islands pattern
    // windows, broadcast-decomposed MERGE upsert, IVM partial-state
    // merge, bitmap exact distinct, prefix-max skyline, bounded-
    // explode rolling distinct, clickstream path mining
    "q_join_interval", "q_window_pattern", "q_merge_upsert",
    "q_agg_incremental", "q_agg_bitmap", "q_skyline",
    "q_events_rolling_distinct", "q_events_paths",
    // wave-11: native bitmap aggregate (ObjectHashAggregate path),
    // mergeable histogram quantiles, null-safe join, containment dedup
    "q_agg_bitmap_native", "q_agg_histo_quantile", "q_join_nullsafe",
    "q_dedup_containment",
    // wave-12: deterministic HLL (exact-oracled sketch), dense_rank
    // window distinct, payload-hash multimodal dedup
    "q_sketch_hll", "q_window_distinct", "q_multimodal_dedup",
    // wave-13: native Generator UDTF shingling; bitmap set algebra
    "q_udtf_ngrams", "q_agg_bitmap_intersect",
    // wave-14: growth accounting, collocation lift
    "q_events_growth", "q_text_lift",
    // wave-15: nearest-direction as-of, cohort matrix
    "q_asof_nearest", "q_events_cohort",
    // wave-16: data-scale degree distribution, vocabulary statistics
    "q_graph_degree_dist", "q_text_vocab",
    // round-9: the partsupp-derived TPC-H five (q9 is the heavy one —
    // lineitem × derived-partsupp two-key join; q2/q11/q16/q20 are
    // dimension-bound probes of the same derivation)
    "q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20",
    // round-11: semantic dedup (cluster-scoped pairwise — the cell
    // self-join is the scale watch), corpus-frequency boilerplate
    // (shingle df hash-agg + hash equi-join), token-budget sampling
    "q_dedup_semantic", "q_text_boilerplate", "q_sample_budget",
    // persisted-index ANN probe (staging memoized: reps time the probe)
    "q_embed_ivf_indexed", "q_embed_ivf_append", "q_embed_ivf_compact",
    // Welch A/B one-scan readout; per-user EWMA list fold
    "q_events_abtest", "q_window_ewma",
    // wave-18: forward-fill window, OHLC struct-extreme bars, +1/-1
    // concurrency sweep, one-scan column profiler, wedge-join link
    // prediction, integer-exact HITS
    "q_window_locf", "q_events_ohlc", "q_events_concurrency",
    "q_profile_table", "q_graph_linkpred", "q_graph_hits",
    // wave-19: bounded k-truss peel, winnowing fingerprints, blocked
    // entity resolution with the banded levenshtein
    "q_graph_ktruss", "q_text_winnow", "q_er_match",
    // wave-20: diagonal-pair square counting, merged-register HLL
    // rollup, MinHash est-vs-true accuracy readout (q_catalog_diff is
    // gate-only: it times temp-dir commit IO, like catalog_timetravel)
    "q_graph_squares", "q_sketch_hll_merge", "q_dedup_minhash_acc",
    // r13: the SemDeDup accuracy sibling (drop-rate vs tau curve)
    "q_dedup_semantic_acc",
    // r13 wave 13: SimHash est-vs-true accuracy over the band
    // candidates (the minhash_acc sibling)
    "q_dedup_simhash_acc",
    // wave-21: degree assortativity (exact power sums over the mirrored
    // edge ends). q_graph_harmonic stays gate-only: it shares
    // q_graph_closeness's all-roots superstep loop on the 25-vertex
    // tree (barrier-latency-bound, not data-bound — same reason).
    // q_sink_matrixv2 and q_stream_source_synth stay gate-only:
    // commit/trigger IO, not data throughput.
    "q_graph_assortativity",
    // wave-22: exact MAD (two engineered-parity median passes), LATERAL
    // decorrelated top-k, KMV sketch + union, bigram Laplace LM
    "q_agg_mad", "q_join_lateral", "q_sketch_kmv", "q_text_lmscore2",
    // wave-23: WebDataset-style payload shard packing; the extended
    // capstone (dedup -> quality -> boilerplate -> decontaminate ->
    // token budget -> shard layout, one composed query)
    "q_multimodal_shard", "q_pipeline_curation2",
    // wave-24: RFM quartile segmentation; anchor-exact window funnel
    "q_events_rfm", "q_events_window_funnel",
    // wave-25: mixture KL shift, bucket entropy, directed reciprocity
    "q_mix_kl", "q_agg_entropy", "q_graph_reciprocity",
    // wave-26: Gini concentration, langid confusion readout
    "q_agg_gini", "q_text_langid_acc",
    // clustering-quality purity readout; session bounce rate
    "q_embed_purity", "q_events_bounce",
    // eval-hygiene pair: split-leakage audit, per-source dup census
    "q_sample_leakage", "q_text_dupe_stats",
    // r12 wave: PII redaction scan (two-regex scrub + fingerprint),
    // deterministic epoch upsampling (explode row amplification),
    // data-card readout (argmax-lang + dup-census join), data-scale
    // 2-round label propagation on the staged mod-300 graph
    "q_text_pii", "q_mix_upsample", "q_pipeline_datacard", "q_graph_lpa_big",
    // hashing-trick featurizer (vocab-free token->bucket agg);
    // deterministic hash-argmin walks (3 superstep joins)
    "q_feature_hash", "q_graph_walks",
    // join-driven dynamic partition pruning over a year-partitioned
    // staged fact (write + pruned join timed together — the commit IO
    // is part of this entry's story like q_layout_zorder's)
    "q_join_dpp",
    // broadcast linear-classifier inference (one scan + dot fold)
    "q_embed_classify",
    // r13: DSIR hashed-ngram importance selection + the classifier
    // calibration readout
    "q_sample_dsir", "q_embed_classify_cal",
    // r13 wave 2: layered-DAG toposort (data-scale distinct + 7
    // supersteps), tombstone-masked ANN probe, blockhash payload
    // near-dup (per-char explode), DoReMi one-step reweight
    "q_graph_toposort", "q_embed_ivf_delete",
    "q_multimodal_phash", "q_multimodal_agree", "q_mix_doremi",
    // r13 wave 3: binned-KS drift readout, C4 heuristic filter census
    "q_events_ks", "q_text_c4_filters",
    // r13 wave 4: URL canonicalization dedup, Okapi BM25 scoring
    "q_dedup_url", "q_text_bm25",
    // r13 wave 5: SQL-standard REGR_* family from exact power sums
    "q_agg_regr",
    // r13 wave 6: ER clustering (match graph -> CC entity census)
    "q_er_cluster",
    // r13 wave 7: per-label centroid-shift drift monitor
    "q_embed_drift",
    // r13 wave 8: Newman-weighted bipartite projection (bounded
    // per-order fanout), per-user inter-arrival profile
    "q_graph_coproj", "q_events_interarrival",
    // r13 wave 9: rich-club coefficient on the staged mod-300 graph
    "q_graph_richclub",
    // r13 wave 10: exact MIPS retrieval, daily-count autocorrelation
    "q_embed_mips", "q_events_acf",
    // r13 wave 11: Zipf rank-frequency fit, seasonal-naive MASE readout
    "q_text_zipf", "q_events_forecast",
    // r13 wave 12: Theil-Sen robust trend vs OLS
    "q_agg_theilsen",
    // r13 wave 13: power-iteration top principal component
    "q_embed_pca",
    // r13 wave 13: Heaps'-law vocabulary-growth fit (the zipf sibling)
    "q_text_heaps",
    // r13 wave 13: Flesch-Kincaid readability grade per source
    "q_text_readability",
    // r13 wave 13: per-label centroid-distance z-score outlier probe
    "q_embed_outlier",
    // r13 wave 13: bow-tie decomposition (SCC core + two reachability
    // fixpoints over the directed fixture)
    "q_graph_bowtie",
    // r13 wave 13: winsorized/trimmed means (the q_agg_mad siblings)
    "q_agg_winsor",
    // r13 wave 13: pairwise source-distribution JSD matrix
    "q_text_jsd",
    // r13 wave 13: greedy k-center coreset selection (farthest-point)
    "q_sample_coreset",
    // r13 wave 13: Matryoshka prefix-dims retrieval recall
    "q_embed_matryoshka",
    // r13 wave 13: Holt double exponential smoothing + 3-step forecast
    "q_events_holt",
    // r13 wave 13: directed triad motif census (cyclic vs feed-forward)
    "q_graph_triads",
    // r13 wave 13: binary-segmentation changepoint on daily counts
    "q_events_changepoint",
    // r13 wave 13: Tukey-fence outlier census (the boxplot rule)
    "q_agg_tukey",
    // r13 wave 13: Spearman rank fidelity of the int8 prefilter
    "q_embed_spearman",
    // categorical-association readout (chi2 over the dimension grid)
    "q_agg_cramers",
    // bounded Luby MIS rounds on the staged mod-300 graph
    "q_graph_mis",
    // greedy maximal-matching rounds (edge-side symmetry breaking)
    "q_graph_matching",
    // event-time disorder profile (two-phase prefix max, no global sort)
    "q_events_disorder",
    // theta-sketch intersection (the set algebra HLL can't do)
    "q_sketch_kmv_intersect",
    // cross-source duplicate resolution by priority tier
    "q_dedup_priority",
    // Spark 4 VARIANT typed path access (parse once, binary encoding)
    "q_json_variant",
    // clipped n-gram precision over the banded candidate pairs
    "q_text_bleu",
    // ColBERT-style MaxSim late interaction (bounded query set)
    "q_embed_maxsim",
    // reciprocal-rank fusion of the exact and int8 rankers
    "q_embed_rrf",
    // Kaplan-Meier churn survival with censoring
    "q_events_survival",
    // CUSUM drift alarms over daily metric means
    "q_events_cusum",
    // Benford first-digit audit (fraud/fabrication screen)
    "q_agg_benford",
    // Markov removal-effect attribution (absorbing chain, 6 steps)
    "q_events_markov_attribution",
    // 2-approx vertex cover readout from the maximal matching
    "q_graph_vcover",
    // r14 wave: Katz centrality (dyadic beta=1/2, 4 unrolled steps)
    "q_graph_katz",
    // r14 wave: 1-bit binary-quantization retrieval (hamming prefilter)
    "q_embed_binary",
    // r14 wave: PMI collocation mining (integer-ppm ranking)
    "q_text_colloc",
    // r14 wave: per-stage curation yield funnel
    "q_pipeline_yield",
    // r14 wave: revenue concentration deciles (the 80/20 audit)
    "q_events_pareto",
    // r14 wave 2: Population Stability Index drift (the industry score)
    "q_events_psi",
    // r14 wave 2: binary-prefilter recall readout
    "q_embed_binary_recall",
    // r14 wave 2: IVF-PQ composed serving stack (FAISS IndexIVFPQ shape)
    "q_embed_ivfpq",
    // r14 wave 2: eval n-gram novelty / memorization-risk rate
    "q_text_novelty",
    // r14 wave 3: LPA community conductance (boundary quality)
    "q_graph_conductance",
    // r14 wave 3: weekly seasonal index (epoch-dow, integer ppm)
    "q_events_seasonal",
    // r14 wave 3: LSH S-curve audit (measured vs analytic per decile)
    "q_dedup_lsh_curve",
    // r14 wave 5: HHI concentration audit; type-token vocabulary ratio
    "q_agg_hhi", "q_text_ttr",
    // r15 wave: densest-subgraph batched peel on the data-scale
    // bipartite graph; exact-decimal batch perceptron training
    "q_graph_densest", "q_embed_perceptron",
    // r15 wave 2: content-defined chunking dedup (per-position window
    // hash); cell-bounded hard-negative mining
    "q_dedup_cdc", "q_embed_hardneg",
    // r15 wave 3: join-key skew census (the salt-decision readout);
    // deterministic training-order shuffle + mixture-balance audit;
    // k-anonymity census (the data-release governance gate)
    "q_profile_skew", "q_mix_shuffle", "q_privacy_kanon",
    // r16 wave: the PRODUCTION auto-knob paths of the three measured
    // fixed-knob scale envelopes (r15 verdict items 1-3) — corpus-
    // sized LSH planes, corpus-sized IVF cells, hash-sampled PCA.
    // They headline (not family-variant) because each is the path a
    // deployment actually runs; at fixture SFs the first reproduces
    // its fixed sibling's geometry exactly and the other two are
    // cheaper by construction.
    "q_dedup_embed_auto", "q_dedup_semantic_auto", "q_embed_pca_sampled",
    // r16 wave 2: l-diversity (kanon's homogeneity-attack sibling),
    // z-order data-skipping audit, sequence-packing audit, two-level
    // IVF (the past-4096-cells index layout)
    "q_privacy_ldiversity", "q_layout_skipping", "q_pack_sequences",
    "q_embed_ivf_2level",
    // r16 wave 3: incremental join-view maintenance (staged base view
    // + broadcast delta terms) and the oracle-able Bloom ingest
    // pre-filter with its auto-sized bit count
    "q_ivm_join", "q_dedup_bloom", "q_sample_neyman",
    // r16 wave 4: residual-encoded IVF-PQ (the FAISS default encoding)
    "q_embed_ivfpq_residual",
    // r16 wave 3b: the governance ladder's third rung
    "q_privacy_tcloseness",
    // r17: the two-level IVF with corpus-derived fanout
    // (autoTwoLevelFanout — r16 verdict item 5)
    "q_embed_ivf_2level_auto",
    // r17 wave 2: the graph-routed ANN paradigm (cell-bounded 5-NN
    // graph + greedy route) and capacity-balanced IVF assignment
    "q_embed_nsw", "q_embed_ivf_balanced",
    // r17 wave 2b: grid-bucketed spatial radius join
    "q_spatial_join",
    // r17 wave 2c: Merkle-style incremental integrity digests
    "q_catalog_integrity",
    // r17 wave 2d: DBSCAN on the spatial grid
    "q_spatial_dbscan",
    // r18: density-relative auto-radius DBSCAN (r17 verdict item 2),
    // beam-4 routed ANN (item 3), cap-enforced balanced IVF (item 5)
    "q_spatial_dbscan_auto", "q_embed_nsw_beam", "q_embed_ivf_balanced_iter",
    // r18 wave 2: metadata-filtered ANN with starvation-aware probe
    // widening, and sparse⊕dense RRF hybrid retrieval
    "q_embed_ivf_filtered", "q_hybrid_retrieval",
    // r19: the index-backed hybrid probe (staged postings + bound-
    // pruned exact dense probe), the fusion accuracy readout, and the
    // routed family's in-gate recall readout
    "q_hybrid_retrieval_indexed", "q_hybrid_ndcg", "q_embed_nsw_recall",
    // r19 wave 2b: batch routed serving (one scoring job per hop
    // amortized across the query batch)
    "q_embed_nsw_batch")
  // q_catalog_timetravel and q_stream_cdc stay gate-only: the former
  // times temp-dir commit IO, the latter is a streaming entry
  // (streaming entries never headline). q_graph_clustcoef is
  // fixture-sized (nation), like q_graph_triangles.
  // q_graph_closeness stays gate-only for the same superstep-latency
  // reason as SCC below: all-roots BFS on the 25-vertex tree is ~8
  // barrier-bound supersteps of millisecond-sized joins.
  // SCC (q_graph_scc, q_graph_scc_big) stays gate-only: its superstep
  // count is O(graph diameter) (~27 label fixpoint iterations on the
  // order-chain fixture), and at local[*] each superstep is
  // job-latency-bound — a headline entry would measure barrier
  // latency, not data throughput (measured 24.9 s at sf0.1 while the
  // data work per superstep is a 150k-row join). PLANS.md has the
  // cluster-scale story.

  /** The OTHER side of the bench-selection rule (BASELINE.md "Bench
    * selection rule"): every gate query that does NOT headline, with
    * the category that excludes it. BenchSelectionSpec asserts
    * headline ++ benchExcluded.keys partitions SparkEntry.queries
    * exactly, so a new gate entry MUST be classified — either it
    * headlines or it names its exclusion — and a heavy entry can never
    * silently drop out of the headline set. Categories:
    *  - "streaming":       micro-batch trigger/commit latency, not
    *                       data throughput (streaming never headlines)
    *  - "commit-io":       temp-dir commit/rename or tiny-format
    *                       roundtrip IO dominates (catalog, sinks,
    *                       source-format roundtrips)
    *  - "fixture-latency": input is fixed-size by construction (G1-G7
    *                       goldens, 25-vertex nation graphs) or the
    *                       cost is superstep barrier latency at
    *                       local[*] (SCC label fixpoints), so the
    *                       number measures scheduling, not operators
    *  - "family-variant":  a sibling already headlines the family's
    *                       cost profile and this member is sub-~0.1 s
    *                       planning-dominated at sf0.1 (scalar/window/
    *                       agg variants, the 10 scan-bound TPC-H
    *                       members next to the 12 headlined ones) */
  val benchExcluded: Map[String, String] = Map(
    "q_stream_asof" -> "streaming",
    "q_stream_cdc" -> "streaming",
    "q_stream_integrity" -> "streaming",
    "q_stream_dedup" -> "streaming",
    "q_stream_dedup_corpus" -> "streaming",
    "q_stream_ivm_join" -> "streaming",
    "q_stream_ivf_upsert" -> "streaming",
    "q_stream_postings_upsert" -> "streaming",
    "q_stream_psi" -> "streaming",
    "q_stream_enrich" -> "streaming",
    "q_stream_exactly_once" -> "streaming",
    "q_stream_hll" -> "streaming",
    "q_stream_hourly" -> "streaming",
    "q_stream_join" -> "streaming",
    "q_stream_join_full" -> "streaming",
    "q_stream_join_outer" -> "streaming",
    "q_stream_quantile" -> "streaming",
    "q_stream_scd2" -> "streaming",
    "q_stream_scd2_rocksdb" -> "streaming",
    "q_stream_session_native" -> "streaming",
    "q_stream_sessionize" -> "streaming",
    "q_stream_source_synth" -> "streaming",
    "q_stream_topn" -> "streaming",
    "q_catalog_diff" -> "commit-io",
    "q_catalog_timetravel" -> "commit-io",
    "q_catalog_vacuum" -> "commit-io",
    "q_sink_matrixv2" -> "commit-io",
    "q_source_corrupt" -> "commit-io",
    "q_source_csv" -> "commit-io",
    "q_source_evolution" -> "commit-io",
    "q_source_jsonl" -> "commit-io",
    "q_source_matrixv2" -> "commit-io",
    "q_source_orc" -> "commit-io",
    "q_source_partitioned" -> "commit-io",
    // r16 (r15 verdict item 4): with the reachability-restricted live
    // edge set session-staged, the entry's only data-scale component
    // (the orders derivation + depth-149 BFS) is out of the rep loop;
    // what reps time is 3 reduction rounds x (pointer-doubled depths +
    // 2^k jump tables) on a 150-vertex graph = ~50 driver-loop
    // supersteps of local[*] barrier latency (measured floor stuck at
    // ~4.6 s with near-zero data) — the closeness/SCC-fixpoint rule
    "q_graph_dfs_reduce" -> "fixture-latency",
    "q_graph_betweenness" -> "fixture-latency",
    "q_graph_bfs_bidir" -> "fixture-latency",
    "q_graph_bfs_multi" -> "fixture-latency",
    "q_graph_closeness" -> "fixture-latency",
    "q_graph_clustcoef" -> "fixture-latency",
    "q_graph_degree" -> "fixture-latency",
    "q_graph_dfs_leaves" -> "fixture-latency",
    "q_graph_diameter" -> "fixture-latency",
    "q_graph_eccentricity" -> "fixture-latency",
    "q_graph_harmonic" -> "fixture-latency",
    "q_graph_lpa" -> "fixture-latency",
    "q_graph_modularity" -> "fixture-latency",
    "q_graph_mst" -> "fixture-latency",
    "q_graph_pagerank" -> "fixture-latency",
    "q_graph_pagerank_graphx" -> "fixture-latency",
    "q_graph_ppr" -> "fixture-latency",
    "q_graph_ppr_multi" -> "fixture-latency",
    "q_graph_scc" -> "fixture-latency",
    "q_graph_scc_big" -> "fixture-latency",
    "q_graph_sssp" -> "fixture-latency",
    "q_graph_subtree_sum" -> "fixture-latency",
    "q_graph_tri_pervertex" -> "fixture-latency",
    "q_graph_triangles" -> "fixture-latency",
    "q_ref_g5_dfs_leaves" -> "fixture-latency",
    "q_ref_g7_bfs" -> "fixture-latency",
    "q_ref_g7_bfs_from3" -> "fixture-latency",
    "q_ref_g7_dfs_leaves" -> "fixture-latency",
    "q_agg_approx" -> "family-variant",
    "q_agg_bool" -> "family-variant",
    "q_agg_corr" -> "family-variant",
    "q_agg_cube" -> "family-variant",
    "q_agg_groupingsets" -> "family-variant",
    "q_agg_having" -> "family-variant",
    "q_agg_listagg" -> "family-variant",
    "q_agg_mode" -> "family-variant",
    "q_agg_moments" -> "family-variant",
    "q_agg_percentile" -> "family-variant",
    "q_agg_rollup" -> "family-variant",
    "q_agg_stats" -> "family-variant",
    "q_array_hof" -> "family-variant",
    "q_array_ops" -> "family-variant",
    "q_asof_forward" -> "family-variant",
    "q_collect" -> "family-variant",
    "q_crosstab" -> "family-variant",
    "q_date_spine" -> "family-variant",
    "q_dedup_cluster" -> "family-variant",
    "q_dedup_embed_cluster" -> "family-variant",
    "q_dedup_families" -> "family-variant",
    "q_embed_knn_join" -> "family-variant",
    "q_events_attribution" -> "family-variant",
    "q_events_hourly" -> "family-variant",
    "q_events_locf" -> "family-variant",
    "q_events_session_native" -> "family-variant",
    "q_events_transitions" -> "family-variant",
    "q_events_twa" -> "family-variant",
    "q_explode_embed" -> "family-variant",
    "q_histogram" -> "family-variant",
    "q_join_anti" -> "family-variant",
    "q_join_outer" -> "family-variant",
    "q_join_semi" -> "family-variant",
    "q_join_skew" -> "family-variant",
    "q_json_schema" -> "family-variant",
    "q_mix_temperature" -> "family-variant",
    "q_mix_weights" -> "family-variant",
    "q_multimodal_frames" -> "family-variant",
    "q_multimodal_hist" -> "family-variant",
    "q_multimodal_meta" -> "family-variant",
    "q_multimodal_resize" -> "family-variant",
    "q_observe" -> "family-variant",
    "q_pivot" -> "family-variant",
    "q_profile" -> "family-variant",
    "q_range_join" -> "family-variant",
    "q_regex_clean" -> "family-variant",
    "q_sample_split" -> "family-variant",
    "q_sample_weighted" -> "family-variant",
    "q_scalar_bits" -> "family-variant",
    "q_scalar_case" -> "family-variant",
    "q_scalar_date" -> "family-variant",
    "q_scalar_hash" -> "family-variant",
    "q_scalar_interval" -> "family-variant",
    "q_scalar_more" -> "family-variant",
    "q_scalar_null" -> "family-variant",
    "q_scalar_string" -> "family-variant",
    "q_scalar_try" -> "family-variant",
    "q_set_bag" -> "family-variant",
    "q_sql_recursive" -> "family-variant",
    "q_subquery" -> "family-variant",
    "q_subquery_corr" -> "family-variant",
    "q_text_bigrams" -> "family-variant",
    "q_text_utf8" -> "family-variant",
    "q_embed_norms" -> "family-variant",
    "q_sample_systematic" -> "family-variant",
    "q_udf_scalar" -> "family-variant",
    "q_udf_sql" -> "family-variant",
    "q_scalar_collation" -> "family-variant",
    "q_sql_params" -> "family-variant",
    "q_sql_pipe" -> "family-variant", // pipe markers strip at analysis: times the same scan+agg the agg family headlines
    "q_sql_exec_immediate" -> "family-variant", // dynamic statement inlines to the same scan+agg; also times DECLARE/SET VAR session-state round-trips


    "q_graph_coreness" -> "fixture-latency",
    "q_layout_compaction" -> "commit-io",
    "q_text_langid" -> "family-variant",
    "q_text_pack" -> "family-variant",
    "q_text_quality" -> "family-variant",
    "q_text_repetition" -> "family-variant",
    "q_text_tfidf" -> "family-variant",
    "q_tpch_q12" -> "family-variant",
    "q_tpch_q13" -> "family-variant",
    "q_tpch_q14" -> "family-variant",
    "q_tpch_q15" -> "family-variant",
    "q_tpch_q17" -> "family-variant",
    "q_tpch_q18" -> "family-variant",
    "q_tpch_q22" -> "family-variant",
    "q_tpch_q4" -> "family-variant",
    "q_tpch_q6" -> "family-variant",
    "q_tpch_q7" -> "family-variant",
    "q_union_all" -> "family-variant",
    "q_unpivot" -> "family-variant",
    "q_window_lag" -> "family-variant",
    "q_window_nth" -> "family-variant",
    "q_window_range_frame" -> "family-variant",
    "q_window_running" -> "family-variant")

  /** Per-query timing entries in any past artifact. The driver's
    * BENCH_r{N}.json wraps this program's stdout inside an escaped JSON
    * string field ("tail": "...\"q_x\":1.23..."), so every quote in the
    * embedded line is `\"` — the r10 parser required raw `"q_x":` and a
    * raw `/sf0.1"` scale marker, matched NOTHING in any driver artifact,
    * and the cross-round-min outlier trigger silently never armed
    * (pagerank_big's 19.4 s driver recording stood unexonerated a whole
    * round). The entry regex and the scale marker accept both forms. */
  private[graft] val qEntry = """\\?"(q_[A-Za-z0-9_]+)\\?":(-?\d+(?:\.\d+)?)""".r

  private[graft] def parseMins(txt: String): Seq[(String, Double)] =
    qEntry.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 >= 0).toSeq

  /** Per-floor spin constant entries in bench_minima_<sf>.json:
    * `"spinref_q_x":0.29` is the fixed-work [[spinProbe]] reading of
    * the window in which q_x's recorded minimum was set. The outlier
    * trigger divides current drift by (spin_now / spin_at_floor), so
    * a uniformly contended window (r13: every carried entry at ~1.65x
    * floors under a 1.63x spin ratio) no longer re-runs the whole
    * suite in isolation, and genuine regressions in QUIET windows
    * trigger at a tighter 1.5x. Keys deliberately do not start with
    * `q_` so [[parseMins]]'s entry regex can never mistake a spin
    * constant for a query minimum. */
  private[graft] val spinrefEntry =
    """"spinref_(q_[A-Za-z0-9_]+)":(\d+(?:\.\d+)?)""".r

  private[graft] def parseSpinrefs(txt: String): Map[String, Double] =
    spinrefEntry.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Idle [[spinProbe]] constant on the reference host (32 threads,
    * no contention): the fallback spin-at-floor for minima recorded
    * before spinrefs existed (r1–r13). Floors re-ratchet with real
    * spinrefs on every merge. */
  private[graft] val quietSpinRef = 0.29

  /** Best (minimum) recorded time per query at scale `sfName`, merged
    * across driver artifacts (BENCH_r*.json, escaped), this program's
    * own artifact (bench_out.json, raw), and the self-maintained
    * merged-minima file (bench_minima_<sf>.json — survives any future
    * change to the driver's artifact wrapping). Best-effort: a bench
    * must never fail on a malformed old artifact. */
  private[graft] def historicalMinima(sfName: String, dir: java.io.File): Map[String, Double] = {
    val artifacts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json") ||
        f.getName == "bench_out.json")
    val pairs = artifacts.toSeq.flatMap { f =>
      try {
        val txt = Files.readString(f.toPath)
        // only artifacts recorded at the SAME scale are comparable; the
        // sf dir appears raw (bench_out.json) or escaped (driver tail)
        if (!txt.contains("/" + sfName + "\"") &&
            !txt.contains("/" + sfName + "\\\"")) Seq.empty
        else parseMins(txt)
      } catch { case _: Throwable => Seq.empty }
    } ++ (try {
      val p = new java.io.File(dir, s"bench_minima_$sfName.json").toPath
      if (Files.exists(p)) parseMins(Files.readString(p)) else Seq.empty
    } catch { case _: Throwable => Seq.empty })
    pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  /** Fixed-work CPU-steal probe: every probe thread runs the same
    * xorshift spin (pure registers, no allocation, no memory traffic),
    * so on an UNCONTENDED host the wall time is a machine constant.
    * When the recorded value for a window reads well above the run's
    * own minimum, the host was stealing cycles during that window —
    * in-artifact evidence that a slow suite entry was scheduling
    * noise, not a plan regression (the r10/r11 pagerank_big argument,
    * previously narrative-only). Spawns `threads` threads so
    * contention on ANY core shows up, like a real barrier-bound
    * superstep would see it. ~0.15 s/probe on this host when idle. */
  @volatile private var spinSink: Long = 0L
  private[graft] def spinProbe(threads: Int): Double = {
    val iters = 150000000L
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val th = new Thread(() => {
        var x = i.toLong * 2654435761L | 1L
        var n = 0L
        while (n < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1
        }
        acc.addAndGet(x)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    spinSink = acc.get() // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Single-thread fixed-work spin (~0.1 s idle on this host): the
    * concurrent steal sampler's unit of work. One thread out of
    * `local[32]`, so sampling DURING a measured rerun distorts it by
    * at most 1/32 — while a host steal window inflates the sample
    * in-window, which is the evidence the single post-rerun probe of
    * r12 could not provide (its quiet reading 0.3 s AFTER a 22.9 s
    * rerun adjudicated nothing about the 22 s themselves). */
  private[graft] def spinOnce(): Double = {
    val iters = 150000000L
    var x = 88172645463325252L
    var n = 0L
    val t0 = System.nanoTime()
    while (n < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
    spinSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Concurrent steal sampler: a daemon thread records (offset s,
    * spin s) every ~1.5 s from construction until finish(). */
  private final class SpinSampler {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    @volatile private var stop = false
    private val t0 = System.nanoTime()
    private val th = new Thread(() => {
      try while (!stop) {
        Thread.sleep(1500)
        if (!stop) {
          val off = (System.nanoTime() - t0) / 1e9
          val d = spinOnce()
          buf.synchronized { buf += (off -> d) }
        }
      } catch { case _: InterruptedException => () }
    })
    th.setDaemon(true); th.start()
    def finish(): Seq[(Double, Double)] = {
      stop = true; th.interrupt(); th.join(5000)
      buf.synchronized { buf.toSeq }
    }
  }

  /** Stage-level wall trace of whatever runs while attached:
    * (stageId, submit offset s, duration s). For a slow pagerank
    * rerun this decomposes the fused-superstep segment — one shuffle
    * stage per superstep — so the artifact shows whether stage
    * compute or inter-stage gaps (scheduling, GC, steal) consumed the
    * window, without changing the measured plan the way per-superstep
    * materialization would. */
  private final class StageTrace
      extends org.apache.spark.scheduler.SparkListener {
    private val t0 = System.currentTimeMillis()
    private val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Double)]
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      // 4th field: the stage's summed task JVM-GC seconds — the r13
      // ktruss finding's missing datum. A 7 s stage with ~6 s of GC is
      // a dirty-JVM (old-gen pressure) event, not operator work; with
      // quiet spins it was previously indistinguishable from a real
      // plan regression inside the artifact.
      val gc = Option(si.taskMetrics).map(_.jvmGCTime / 1e3).getOrElse(0.0)
      for (s <- si.submissionTime; c <- si.completionTime)
        buf.synchronized { buf += ((si.stageId, (s - t0) / 1e3, (c - s) / 1e3, gc)) }
    }
    def snapshot(): Seq[(Int, Double, Double, Double)] =
      buf.synchronized { buf.sortBy(_._2).toSeq }
  }

  /** Per-execution summed task time (Σ executorRunTime over every task
    * completing while attached). packed lower bound = sum / cores: the
    * wall a PERFECTLY packed execution of the same task set could not
    * beat on this core count — the throughput-normalized yardstick the
    * superstep family needs (r17 verdict item 4: PagerankProbe showed
    * those entries TASK-CPU-bound at 76–88% packing, so their wall
    * drifts with host throughput even in quiet windows and wall-vs-
    * floor triggers fire on throughput, not plans). */
  private final class TaskTimeAgg
      extends org.apache.spark.scheduler.SparkListener {
    private val ms = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) ms.addAndGet(tm.executorRunTime)
    }
    def millis: Long = ms.get()
    def seconds: Double = ms.get() / 1e3
  }

  /** Wait for the async listener bus to deliver this execution's
    * task-end events: poll until the aggregate is stable across two
    * consecutive 50 ms checks (max 2 s) instead of a fixed sleep —
    * on a loaded host the old fixed 300 ms missed late events and
    * silently shrank the packed lower bound (r18 ADVICE; the bias
    * was conservative for exoneration but understated task volume
    * in the artifact). Untimed — runs between the wall measurement
    * and the listener removal. Returns whether the aggregate reached
    * stability before the 2 s cap (r19 ADVICE: a capped, still-moving
    * drain understates the packed lower bound — the caller records
    * unconverged drains in the artifact so an understated packed pair
    * is distinguishable from a converged one). */
  private def drainTaskEvents(agg: TaskTimeAgg): Boolean = {
    var prev = -1L
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 2000) {
      Thread.sleep(50); waited += 50
      val cur = agg.millis
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
    stable >= 2
  }

  /** The four superstep-family entries whose isolated-rerun trigger
    * gates on the PACK RATIO (wall / packed lower bound) instead of
    * floor drift — see [[TaskTimeAgg]]. */
  private[graft] val superstepFamily = Set("q_graph_pagerank_big",
    "q_graph_dfs_residual", "q_graph_lpa_big", "q_graph_dfs_leaves_big")

  /** Entries that record (wall, packed lower bound) pairs per suite
    * rep: the superstep four plus the other iterative / barrier-heavy
    * headliners whose wall drifts with host throughput even when
    * plans are unchanged (r18 verdict item 6 — the contended r18
    * close showed the same wall-vs-task-time gap on cc_big /
    * dfs_classes / ktruss / linkpred at 1.3–1.6× floors with clean
    * plans; recording the packed pair everywhere gives the
    * per-trigger verdicts their evidence without an isolated rerun). */
  private[graft] val packedFamily: Set[String] = superstepFamily ++ Set(
    "q_graph_cc_big", "q_graph_dfs_classes", "q_graph_ktruss",
    "q_graph_triangles_big", "q_graph_linkpred", "q_graph_bfs_big",
    "q_spatial_dbscan_auto", "q_embed_pca", "q_embed_pca_sampled")

  /** The per-trigger adjudication rule (r18 verdict item 4),
    * spec-pinned (BenchSelectionSpec): a floor trigger is EXONERATED
    * when its isolated best-of-3 lands within 1.25× the best-known
    * floor (the suite number was scheduling noise, not a regression)
    * OR its best suite rep sits within 1.2× its measured packed
    * lower bound (the wall is explained by task volume on this
    * host). A trigger with neither is "unexplained" — the honest
    * residue a reviewer must look at; a trigger whose isolated
    * reruns failed is "failed". Evaluated HERE and recorded
    * per-trigger in the artifact, so a contended close
    * self-adjudicates instead of leaning on BASELINE.md narration
    * (r18: 46 triggers, only 27 with in-artifact evidence). */
  private[graft] def adjudicate(floor: Double, isolatedBest: Double,
      packed: Option[(Double, Double)]): String =
    if (packed.exists { case (w, p) => p > 0 && w <= 1.2 * p })
      "exonerated_packed"
    else if (isolatedBest >= 0 && floor > 0 && isolatedBest <= 1.25 * floor)
      "exonerated_isolated"
    else if (isolatedBest < 0) "failed"
    else "unexplained"

  def main(args: Array[String]): Unit = {
    // optional regex arg: local iteration on a query subset ("q_join.*").
    // FULL-match anchored: "q_tpch_q1" selects exactly q_tpch_q1, not
    // q_tpch_q10..q19 (use "q_tpch_q1.*" for the family). The driver
    // passes no args, so the full headline always runs there.
    val only = args.headOption.map(_.r) // invalid regex: fail loudly here
    // a headline name absent from the inventory is a wiring bug (renamed
    // query, typo) — failing loudly beats silently benching fewer queries
    // and letting the smaller total read as a speedup
    val absent = headline.filterNot(SparkEntry.queries.contains)
    if (absent.nonEmpty) {
      System.err.println(s"[bench] headline names absent from SparkEntry.queries: " +
        absent.mkString(", "))
      sys.exit(2)
    }
    val selected = headline
      .filter(n => only.forall(_.pattern.matcher(n).matches))
    // an empty selection must not read as "bench passed instantly"
    System.err.println(s"[bench] ${selected.size}/${headline.size} headline queries selected")
    if (selected.isEmpty) {
      System.err.println(s"[bench] pattern '${args.headOption.getOrElse("<none>")}' " +
        "matched no headline query (full-match anchored — use 'q_tpch_q1.*' for a family)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // iterative operators (BFS/CC supersteps, dedup rounds) launch
      // many small jobs; the default 3 s locality wait lets one slow
      // task delay every barrier — the single biggest source of
      // run-to-run variance in the graph quartet (r4: 3.9x swing on
      // identical code). local[] has no data locality to wait for.
      .config("spark.locality.wait", "0")
      // superseded localCheckpoint blocks are reaped by the
      // ContextCleaner only when the JVM GCs; the default 30 min
      // periodic-GC interval is longer than the whole bench, so on a
      // small heap dead blocks from earlier queries would crowd the
      // unified memory region and force later queries' sorts/joins to
      // spill (the iterative operators now drop superseded
      // checkpoints eagerly — this catches the rest)
      .config("spark.cleaner.periodicGC.interval", "1min")
      // bound GraphX Pregel lineage (cc_big / bfs pregel cross-check):
      // read from SparkConf at context creation, dir supplied by
      // GraphAlgos.ensureGraphCheckpointDir
      .config("spark.graphx.pregel.checkpointInterval", "25")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: touch every table once (footer reads, codegen JIT)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    // untimed per-query warmup at the smallest scale factor: first
    // executions are dominated by Janino codegen compilation + JVM JIT
    // (measured 2-4x the steady-state time), which is a per-process cost,
    // not per-data — a 1000-executor production job pays it once and then
    // runs for hours. Warming on the sf0.001 sibling compiles the same
    // generated code against negligible data, so the timed runs below
    // measure data-proportional work. Timed runs still include planning.
    // sf0.01 preferred: the sf0.001 graphs/corpora are so small that the
    // iterative operators (GraphX supersteps, dedup signature loops) never
    // execute their hot loops enough times to reach C2-compiled steady
    // state — graph queries still measured ~2x steady-state after an
    // sf0.001-only warmup.
    // canonical-path compare: a trailing slash or symlink in
    // SPARK_GRAFT_SF_DIR must not let the "warmup" silently run every
    // query on the full timed dataset. Warm only on a scale SMALLER
    // than the timed one (largest such sibling) — the old
    // sf0.01-first preference warmed a timed sf0.001 run on ~10x the
    // timed data. When the timed dir IS the smallest scale, warm on
    // it directly: it is tiny, and a steady-state measurement beats a
    // cold-JIT one.
    val sfCanon = new java.io.File(sfDir).getCanonicalPath
    def sfOf(f: java.io.File): Double =
      scala.util.Try(f.getName.stripPrefix("sf").toDouble).getOrElse(Double.MaxValue)
    // self-warm ONLY when the timed dir is itself the smallest known
    // scale (sf0.001 — tiny, and steady-state beats cold-JIT there); a
    // big timed dir with no smaller sibling must SKIP warmup, not
    // silently run every query twice on the full dataset
    val selfWarmOk = sfOf(new java.io.File(sfCanon)) <= 0.001
    val warmDir = Seq("sf0.01", "sf0.001")
      .map(n => new java.io.File(new java.io.File(sfDir).getParentFile, n))
      .filter(f => f.isDirectory && f.getCanonicalPath != sfCanon &&
        sfOf(f) < sfOf(new java.io.File(sfCanon)))
      .sortBy(f => -sfOf(f))
      .headOption
      .getOrElse(if (selfWarmOk) new java.io.File(sfCanon)
                 else new java.io.File("/nonexistent"))
    if (warmDir.isDirectory) {
      val wd = warmDir.toString
      selected.foreach { name =>
        try SparkEntry.queries(name)(spark, wd).count()
        catch { case _: Throwable => }
      }
      // reap the warmup's dead checkpoint/cache blocks before any
      // timed run (ContextCleaner acts on GC'd weak refs; memoized
      // tables hold strong refs and survive)
      System.gc()
    }
    // a query that throws records -1 (sentinel), lands in "failed", and is
    // excluded from "total" — a fast failure must not look like a speedup.
    // Each query is timed as the MEDIAN of `reps` executions: the
    // iterative families (pointer-jumping CC, BFS supersteps) run many
    // small jobs, so a single GC pause or CPU-contention window inflates
    // one execution by multiples (BENCH_r04: 3.9x on identical code) —
    // a median absorbs one bad run and makes round-over-round deltas
    // reflect code, not scheduling luck.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // steal-probe calibration BEFORE the timed suite (see spinProbe)
    val spinPre = spinProbe(cpus.toInt)
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // packed-family suite reps also record (wall, packed bound)
    // pairs — the throughput-normalized evidence next to the spin
    // probe (r17 verdict item 4; widened to the whole iterative
    // family in r19 per r18 verdict item 6); the listener-bus drain
    // is untimed and paid only by family entries
    val packedReps =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
    // entries whose listener drain hit the 2 s cap still moving — their
    // recorded packed bound may be understated (r19 ADVICE: named in
    // the artifact, not silent)
    val drainUnconverged = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeOnceTracked(name: String): Double =
      if (!packedFamily(name)) timeOnce(name)
      else {
        val agg = new TaskTimeAgg
        spark.sparkContext.addSparkListener(agg)
        val w = try timeOnce(name) finally {
          // poll-until-stable (r18 ADVICE); capped-unconverged ⇒ record
          if (!drainTaskEvents(agg)) drainUnconverged += name
          spark.sparkContext.removeSparkListener(agg)
        }
        packedReps(name) =
          packedReps.getOrElse(name, Seq.empty) :+ ((w, agg.seconds / cpus.toInt))
        w
      }
    val results = selected.map { name =>
      // any failed rep fails the query (a crash must not hide behind two
      // clean runs' median) — and once one rep fails the outcome is
      // sealed, so remaining reps are skipped rather than re-paying a
      // slow failure path
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      var i = 0
      while (i < reps && !failed) {
        i += 1
        try times += timeOnceTracked(name)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); failed = true }
      }
      // true median: with an even rep count the upper-middle element alone
      // biases the reported time high — average the two central samples
      val median = if (failed) -1.0 else {
        val s = times.sorted
        val n = s.length
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      }
      val minT = if (failed) -1.0 else times.min
      // untimed, between queries: let the ContextCleaner reap this
      // query's dead checkpoint blocks so they never tax the next one.
      // The drain SLEEP matters as much as the gc: the isolated-rerun
      // protocol (gc + 200 ms) reliably lands chronic "outliers" back
      // at their floors, while the suite path gc'd and timed the next
      // query immediately — its first rep overlapped the async cleaner
      // still reaping a heavy predecessor's blocks. The r10-r12
      // repeat-trigger pair (q_sample_stratified,
      // q_embed_ivf_multiprobe: sub-second floors scheduled right
      // after the suite's two heaviest entries) is exactly the shape
      // that difference inflates — small floors, maximal inherited
      // churn. Same drain protocol both paths now.
      System.gc()
      Thread.sleep(200)
      (name, median, minT)
    }
    // Cross-round historical minima (same scale factor): the suite runs
    // under whatever CPU-steal window the host is in, so a query's suite
    // median can read multiples of its demonstrated steady state on
    // identical code (r8: pagerank_big 39.6 s vs 5.3 s min). Prior-round
    // artifacts carry the demonstrated minima; parse them (best-effort —
    // a bench must never fail on a malformed old artifact) so outliers
    // can be re-run in isolation below instead of standing unexplained.
    val sfName = new java.io.File(sfCanon).getName
    val minimaPath = Paths.get(s"bench_minima_$sfName.json")
    val histMin: Map[String, Double] = historicalMinima(sfName, new java.io.File("."))
    // spin constants recorded when each floor was set (r14): the
    // drift trigger below normalizes by the host-noise ratio between
    // NOW and floor time, so contended windows stop mass-triggering
    // isolated reruns and quiet windows trigger tighter
    val spinrefs: Map[String, Double] =
      try {
        if (Files.exists(minimaPath)) parseSpinrefs(Files.readString(minimaPath))
        else Map.empty
      } catch { case _: Throwable => Map.empty }
    def noiseRatio(n: String): Double =
      math.max(1.0, spinPre / spinrefs.getOrElse(n, quietSpinRef))
    // Isolated-rerun exoneration pass: any query whose suite median reads
    // > 2x its best-known minimum (this suite's min-of-reps, or the
    // cross-round minimum at this scale) gets one more timed execution
    // NOW, alone on a just-GC'd JVM — if the isolated time lands back at
    // steady state the artifact itself carries the proof that the suite
    // number was scheduling noise, not a regression.
    val bestKnown = results.collect { case (n, m, mn) if m >= 0 =>
      n -> math.min(mn, histMin.getOrElse(n, Double.MaxValue)) }.toMap
    // trigger on the suite MIN drifting past the cross-round minimum
    // too, not just the median vs best-known: r9 carried three entries
    // whose medians stayed under the trigger while their minima had
    // quietly doubled — those went unexonerated for a whole round.
    // r14: drift is spin-NORMALIZED (÷ noiseRatio) at a tighter 1.5x —
    // a uniformly contended window exonerates itself arithmetically
    // instead of through 27 isolated reruns (the r13 shape), while a
    // 1.6x code regression in a quiet window now fires where the old
    // raw-2.0x trigger stayed silent
    // r17 verdict item 4: a superstep-family entry whose BEST suite rep
    // sits ≤ 1.2× its own packed lower bound is exonerated
    // ARITHMETICALLY — the wall is explained by its measured task
    // volume on this host, so a floor breach is throughput, not a plan
    // regression, and the isolated rerun would prove nothing the
    // packed pair doesn't already. Past 1.2× packing the old drift
    // trigger applies unchanged (a genuinely stalled or regressed
    // superstep run still reruns).
    def packExonerated(n: String): Boolean =
      packedReps.get(n).exists(_.exists { case (w, p) => p > 0 && w <= 1.2 * p })
    // rawTriggers = every fired floor trigger, BEFORE the packed
    // suppression — the per-trigger verdict record below must cover
    // all of them (r18 verdict item 4)
    val rawTriggers = results.collect {
      case (n, med, mn) if med >= 0 &&
        (med > 1.5 * bestKnown(n) * noiseRatio(n) ||
          mn > 1.5 * histMin.getOrElse(n, Double.MaxValue) * noiseRatio(n)) => n }
    val outliers = rawTriggers
      .filter { n =>
        val keep = !packExonerated(n)
        if (!keep) {
          val (w, p) = packedReps(n).minBy { case (w0, p0) => w0 / math.max(p0, 1e-9) }
          System.err.println(f"[bench] $n floor-drift trigger suppressed: best rep " +
            f"$w%.3f s is ${w / p}%.2fx its packed bound $p%.3f s (task-volume-explained)")
        }
        keep
      }
    val medByName = results.collect { case (n, m, _) => n -> m }.toMap
    // r13 rerun protocol (r12 VERDICT item 1): the single rerun +
    // single AFTER-the-fact spin sample could not adjudicate a 22 s
    // window (r12: pagerank_big rerun 22.9 s, post-spin quiet — the
    // exoneration pass incriminated without proof either way). Each
    // outlier now gets BEST-OF-3 back-to-back executions with all
    // three recorded, a concurrent in-window steal sampler, and a
    // stage trace — the artifact carries enough to tell steal
    // (inflated in-window spins / inter-stage gaps) from regression
    // (all three reps slow with quiet spins and dense stages).
    val isoReps = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val isoSpinTraces = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
    val isoStages = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Int, Double, Double, Double)]]
    val isolated = outliers.map { name =>
      System.gc()
      Thread.sleep(200) // let the ContextCleaner drain before timing
      val sampler = new SpinSampler
      val trace = new StageTrace
      spark.sparkContext.addSparkListener(trace)
      val times = (1 to 3).map { _ =>
        try timeOnce(name) catch { case _: Throwable => -1.0 }
      }
      Thread.sleep(300) // listener bus is async; let events drain
      spark.sparkContext.removeSparkListener(trace)
      isoReps(name) = times
      isoSpinTraces(name) = sampler.finish()
      // keep the trace bounded: drop sub-10ms scheduling blips, cap
      // at 150 chronological entries per rerun triple
      isoStages(name) = trace.snapshot().filter(_._3 >= 0.01).take(150)
      val ok = times.filter(_ >= 0)
      val t = if (ok.size < times.size) -1.0 else ok.min
      // name the trigger that actually fired — a min-drift rerun
      // logged as a median breach points triage at the wrong signal
      val why =
        if (medByName(name) > 1.5 * bestKnown(name) * noiseRatio(name))
          f"suite median exceeded 1.5x best-known ${bestKnown(name)}%.3f s " +
            f"(spin-normalized x${noiseRatio(name)}%.2f)"
        else
          f"suite min exceeded 1.5x cross-round min ${histMin(name)}%.3f s " +
            f"(spin-normalized x${noiseRatio(name)}%.2f)"
      System.err.println(f"[bench] isolated rerun $name: best-of-3 $t%.3f s " +
        s"(reps ${times.map(v => f"$v%.3f").mkString("/")}; $why)")
      (name, t)
    }
    // Fresh-JVM probe (r13 VERDICT item 1c): a heavy GRAPH entry whose
    // ISOLATED best still reads above the normalized floor gets one
    // run in a brand-new JVM — empty old-gen, clean code cache, zero
    // suite history. The r13 ktruss investigation proved this one rep
    // adjudicates dirty-JVM inflation vs a real slowdown; recording it
    // in-artifact (with the child's actual heap + collector) also
    // answers whether the harness honors build.sbt's 16g default. The
    // allowlist is the barrier-heavy superstep family — the only
    // entries whose suite-position sensitivity has recurred.
    val freshCandidates = Seq("q_graph_pagerank_big", "q_graph_ktruss",
      "q_graph_dfs_classes", "q_graph_triangles_big", "q_graph_cc_big")
    val isoByName = isolated.toMap
    val freshJvm: Seq[(String, String)] = freshCandidates
      .filter(n => isoByName.get(n).exists(t => t < 0 ||
        t > 1.5 * histMin.getOrElse(n, Double.MaxValue) * noiseRatio(n)))
      .flatMap { n =>
        try {
          import scala.jdk.CollectionConverters._
          val jvmArgs = java.lang.management.ManagementFactory
            .getRuntimeMXBean.getInputArguments.asScala.toSeq
          val javaBin = new java.io.File(
            new java.io.File(System.getProperty("java.home"), "bin"), "java").toString
          val wd = if (warmDir.isDirectory) warmDir.toString else sfDir
          val cmd = Seq(javaBin, "-cp", System.getProperty("java.class.path")) ++
            jvmArgs ++ Seq("graft.BenchFreshRep", n, sfDir, wd)
          val pb = new ProcessBuilder(cmd: _*)
          // child stderr (Spark logs) flows to ours — a blocked pipe
          // must never deadlock the probe. stdout goes to a TEMP FILE,
          // not a pipe: readAllBytes on the pipe would block until the
          // child closes stdout, making waitFor's 15-minute timeout
          // dead code against a hung child (r14 ADVICE). With the file
          // redirect, waitFor-with-timeout is the only blocking call.
          pb.redirectError(ProcessBuilder.Redirect.INHERIT)
          val outFile = Files.createTempFile("freshrep_", ".out").toFile
          outFile.deleteOnExit()
          pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
          val proc = pb.start()
          val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
          if (!done) {
            proc.destroyForcibly()
            System.err.println(s"[bench] fresh-JVM probe for $n timed out; discarded")
          }
          // a killed child's partial FRESHREP line must never reach the
          // minima merge — only parse output from a clean exit
          val parsed =
            if (!done) None
            else Files.readString(outFile.toPath).linesIterator
              .find(_.startsWith("FRESHREP "))
              .map(l => n -> l.stripPrefix("FRESHREP ").trim)
          outFile.delete()
          parsed
        } catch { case e: Throwable =>
          System.err.println(s"[bench] fresh-JVM probe for $n failed: ${e.getMessage}")
          None
        }
      }
    freshJvm.foreach { case (n, j) =>
      System.err.println(s"[bench] fresh-JVM $n: $j") }
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale would
    // print 0,123 and break the JSON consumer
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, m, _) => (k, m) })
    val qsMin = obj(results.map { case (k, _, mn) => (k, mn) })
    val iso = obj(isolated)
    // all three rerun executions + the in-window spin samples + the
    // stage trace, verbatim: the decisive steal-vs-regression record.
    // None of these array-valued keys can collide with parseMins's
    // `"q_x":<number>` entry regex (the value opens with '[').
    def arr(vs: Seq[Double]) = vs.map(fmt).mkString("[", ",", "]")
    val isoRepsJson = isoReps
      .map { case (n, ts) => "\"" + n + "\":" + arr(ts) }.mkString("{", ",", "}")
    val isoSpinJson = isoSpinTraces.map { case (n, ss) =>
      "\"" + n + "\":" + ss.map { case (o, d) => "[" + fmt(o) + "," + fmt(d) + "]" }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val isoStagesJson = isoStages.map { case (n, st) =>
      "\"" + n + "\":" + st.map { case (id, o, d, gc) =>
        "[" + id + "," + fmt(o) + "," + fmt(d) + "," + fmt(gc) + "]" }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // post-suite steal probe + per-rerun in-window min/max summaries:
    // spins of identical fixed work bracket the run AND the rerun
    // windows, so artifact readers decide steal-vs-regression from data
    val spinPost = spinProbe(cpus.toInt)
    // "iso_" prefix keeps these keys out of parseMins's q_* entry regex:
    // a 0.15 s spin sample must never be mistaken for a query minimum
    val spin = obj(Seq("pre" -> spinPre, "post" -> spinPost) ++
      isoSpinTraces.toSeq.flatMap { case (n, ss) =>
        if (ss.isEmpty) Nil
        else Seq(s"iso_${n}_min" -> ss.map(_._2).min,
                 s"iso_${n}_max" -> ss.map(_._2).max) })
    // superstep-family (wall, packed-bound) pairs per suite rep — the
    // throughput-normalized record (r17 verdict item 4). Array values
    // can't collide with parseMins's `"q_x":<number>` regex.
    val packedJson = packedReps.map { case (n, rs) =>
      "\"" + n + "\":" + rs.map { case (w, p) =>
        "[" + fmt(w) + "," + fmt(p) + "]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // names whose drain hit the 2 s cap unconverged at least once —
    // their packed bounds may be understated (r19 ADVICE)
    val drainJson = drainUnconverged
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-trigger machine-readable verdicts (r18 verdict item 4):
    // every fired floor trigger carries its floor, its isolated best
    // (-1 = none/failed), its best packed pair (null = not recorded)
    // and the adjudicate() outcome, so the exonerated/unexplained/
    // failed partition is computed by the artifact itself. Object
    // values can't collide with parseMins's `"q_x":<number>` regex
    // (the value opens with '{').
    val isoForVerdict = isolated.toMap
    val triggerVerdicts: Seq[(String, String, String)] = rawTriggers.map { n =>
      val floor = bestKnown(n)
      val iso = isoForVerdict.getOrElse(n, -1.0)
      val packedBest = packedReps.get(n)
        .map(_.minBy { case (w0, p0) => w0 / math.max(p0, 1e-9) })
      val v = adjudicate(floor, iso, packedBest)
      val packedStr = packedBest
        .map { case (w, p) => "[" + fmt(w) + "," + fmt(p) + "]" }
        .getOrElse("null")
      (n, v, "{\"floor\":" + fmt(floor) + ",\"isolated\":" + fmt(iso) +
        ",\"packed\":" + packedStr + ",\"verdict\":\"" + v + "\"}")
    }
    val verdictJson = triggerVerdicts
      .map { case (n, _, o) => "\"" + n + "\":" + o }.mkString("{", ",", "}")
    val trigSummary = {
      val e = triggerVerdicts.count(_._2.startsWith("exonerated"))
      val u = triggerVerdicts.count(_._2 == "unexplained")
      val f = triggerVerdicts.count(_._2 == "failed")
      s"""{"total":${triggerVerdicts.size},"exonerated":$e,"unexplained":$u,"failed":$f}"""
    }
    // phase breakdown of the LAST pagerank execution in this JVM
    // (suite rep or isolated rerun — whichever ran last): staging scan
    // vs fused-superstep segment, the "where did the time go" record
    val prPhases = obj(graft.operators.Traversals.lastPageRankPhases.get())
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // any failure ⇒ total is null: a partial sum is SMALLER than a clean
    // run's, so emitting it would make a failing round look like a speedup
    // to anyone comparing totals across rounds
    val anyFailed = results.exists(_._2 < 0)
    val total =
      if (anyFailed) "null"
      else fmt(results.map(_._2).sum)
    // total_best: per-query best defensible time — min over this suite's
    // reps and any isolated rerun (still every query, same code, same
    // data; only the scheduling-noise component differs from "total")
    val isoMap = isolated.toMap
    val totalBest =
      if (anyFailed) "null"
      else fmt(results.map { case (n, _, mn) =>
        isoMap.get(n).filter(_ >= 0).map(math.min(_, mn)).getOrElse(mn) }.sum)
    // the suite JVM's actual limits, in-artifact: three rounds of
    // pagerank_big triage could not tell "driver harness ignores the
    // 16g default" from "genuine allocation pressure" because nothing
    // recorded the heap the bench REALLY ran with
    val heapMib = Runtime.getRuntime.maxMemory() / (1L << 20)
    val gcNames = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).mkString("+")
    }
    val freshJson = freshJvm
      .map { case (n, j) => "\"" + n + "\":" + j }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","heap_max_mib":$heapMib,"gc":"$gcNames","queries":$qs,"queries_min":$qsMin,"isolated":$iso,"isolated_reps":$isoRepsJson,"isolated_spin":$isoSpinJson,"isolated_stages":$isoStagesJson,"fresh_jvm":$freshJson,"spin":$spin,"packed":$packedJson,"drain_unconverged":$drainJson,"trigger_verdicts":$verdictJson,"triggers":$trigSummary,"pagerank_phases":$prPhases,"total_best":$totalBest,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the artifact line to a file: the r9 record was lost
    // because the capture wrapper kept only the tail of stdout and the
    // JSON head fell off — a bench whose record can vanish in transit
    // isn't a record. Best-effort (a read-only cwd must not fail the run).
    try Files.writeString(Paths.get("bench_out.json"), line + "\n")
    catch { case _: Throwable => () }
    // Merge this run's demonstrated per-query minima (best of reps and
    // any isolated rerun) into the per-scale minima file the histMin
    // parse above reads. Min-merge is subset-safe (a local regex-filtered
    // run only improves the entries it ran), and a stale minimum after a
    // legitimate slowdown only costs one extra isolated execution per
    // run — visible, not silent. Best-effort like bench_out.json.
    try {
      val prior = if (Files.exists(minimaPath))
        parseMins(Files.readString(minimaPath)).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      else Map.empty[String, Double]
      // a fresh-JVM probe's best is as demonstrated as a suite rep:
      // same code, same data, same host — only the JVM is clean
      // the regex already rejects the probe's -1 failure sentinel (no
      // minus sign in the pattern); the > 0 filter makes the contract
      // explicit — a failed or degenerate probe never sets a floor
      val freshBest: Map[String, Double] = freshJvm.flatMap { case (n, j) =>
        """"best":(\d+(?:\.\d+)?)""".r.findFirstMatchIn(j)
          .map(m => n -> m.group(1).toDouble).filter(_._2 > 0)
      }.toMap
      val current = results.collect { case (n, _, mn) if mn >= 0 =>
        n -> Seq(Some(mn), isoMap.get(n).filter(_ >= 0),
          freshBest.get(n)).flatten.min }
      val merged = (prior.toSeq ++ current).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
      // spinref maintenance: a floor this run just set/lowered gets
      // THIS window's spin constant; a standing floor keeps its
      // recorded spinref (pre-r14 floors backfill the documented
      // quiet constant so the normalization base is always explicit)
      val spinAtRun = math.min(spinPre, spinPost)
      val curByName = current.toMap
      val refs = merged.map { case (k, v) =>
        val lowered = curByName.get(k).exists(_ <= v) &&
          prior.get(k).forall(v < _)
        val ref =
          if (lowered) spinAtRun
          else spinrefs.getOrElse(k, quietSpinRef)
        s"spinref_$k" -> ref
      }
      Files.writeString(minimaPath,
        obj(merged.toSeq.sortBy(_._1) ++ refs.toSeq.sortBy(_._1)) + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
