#!/usr/bin/env python3
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (standard warm-run benchmarking, as in TPC power runs): each
query executes once untimed — paying one-time whole-stage-codegen compile,
plan analysis, and broadcast build for that query shape — then the
reported time is the MEDIAN of three timed executions (plan + execute +
collect): steady-state, and robust to single-sample host noise. On a
long-running cluster serving 100 TB, codegen compile of a query shape is
amortized across thousands of executions; the steady-state number is the
one that scales. Results are small aggregates so collect() is negligible.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hauser_spark.session import build_session  # noqa: E402

HEADLINE = [
    # -- new in round 11 --
    "sim_stale_probe_policy",
    "sim_rebuild_cadence_planner",
    # -- new in round 10 --
    "events_funnel_under_lateness",
    "sim_ivf_staleness_audit",
    "sim_index_misroute_decay",
    "events_watermark_policy_planner",
    # -- round 9 --
    "events_lateness_profile",
    "profile_snapshot_drift",
    "events_window_completeness",
    "sim_hard_negative_mining",
    "events_redelivery_ttl_planner",
    "sim_prototypicality_pruning",
    "events_lateness_sessionization_impact",
    "events_watermark_state_size",
    "events_reorder_buffer_curve",
    "events_keyed_state_size",
    "curation_dsir_ess",
    # -- round 8 --
    "dedup_passage_sweep",
    "dedup_cross_lingual",
    "curation_dataset_card",
    "decontam_eval_leaderboard",
    "profile_shuffle_plan",
    "mm_image_resize",
    "sim_semdedup_tau_sweep",
    "dedup_transitivity_audit",
    "curation_stage_order_whatif",
    "profile_join_cardinality_audit",
    "text_heaps_projection",
    "sample_allocation_variance",
    "graph_powerlaw_alpha",
    "stats_sample_size_planner",
    "mm_phash_threshold_sweep",
    "dq_freshness_slo",
    "events_funnel_window_sensitivity",
    "events_attribution_comparison",
    "profile_bloom_size_planner",
    "text_vocab_fertility_sweep",
    "decontam_ngram_size_sweep",
    "sim_cell_balance_audit",
    "dedup_bbit_minhash_audit",
    "sim_recall_at_k_sweep",
    "curation_dup_quality_contingency",
    "quality_filter_ablation_grid",
    "quality_length_threshold_sweep",
    "dedup_method_agreement",
    "sim_hubness_audit",
    "profile_compaction_planner",
    "stats_bh_fdr",
    "profile_salting_balance",
    "quality_eb_shrunk_rates",
    "profile_zorder_pruning_gain",
    "quality_rater_kappa",
    "profile_cross_column_ndv",
    "stats_sprt_monitor",
    "stats_srm_check",
    "profile_id_gap_islands",
    "stats_poisson_bootstrap_ci",
    "curation_dsir_weights",
    "stats_cuped_adjustment",
    "quality_calibration_curve",
    "text_tokenizer_fertility",
    "dedup_url_canonical_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_blocking_supplier",
    "top_parts_by_revenue",
    "events_sessionize",
    "events_asof_join",
    "events_type_hour_rollup",
    "events_user_stats",
    "w1_tumbling_windows",
    "text_quality_score",
    "text_lang_id",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_lsh_topk",
    "sim_embedding_near_dup",
    "mm_feature_summary",
    "sketch_kmv_distinct",
    "range_join_value_bands",
    "events_topk_per_user",
    "events_cube_day_type",
    "curation_summary",
    "bloom_semi_join_revenue",
    "events_sliding_windows",
    "sketch_cms_heavy_hitters",
    "merge_upsert_orders",
    "events_value_outliers",
    "events_gapfill_hourly",
    "sample_weighted_ht",
    "events_cohort_retention",
    "events_moving_avg_7d",
    "basket_pair_cooccurrence",
    "incremental_rollup_merge",
    "diff_table_reconcile",
    "events_activity_streaks",
    "sim_sq8_topk",
    "scd2_customer_versions",
    "events_touch_attribution",
    "dq_constraint_audit",
    "text_inverted_index",
    "events_rolling_distinct_7d",
    "sketch_kmv_join_cardinality",
    "scd2_point_in_time",
    "profile_table_columns",
    "profile_join_skew",
    "events_sequence_patterns",
    "events_transition_matrix",
    "sample_weighted_aes",
    "text_unigram_surprisal",
    "text_lr_quality_inference",
    "text_feature_hashing",
    "events_new_vs_returning",
    "sim_rrf_hybrid_topk",
    "sim_embedding_health",
    "dedup_incremental_minhash",
    "top_parts_with_other",
    "weekly_revenue_wow",
    "events_top_paths",
    "events_max_concurrency",
    "dedup_cross_source_contamination",
    "profile_ks_two_sample",
    "events_cusum_changepoint",
    "events_daily_trend",
    "events_dow_seasonality",
    "events_user_burstiness",
    "revenue_gini",
    "trimmed_mean_price",
    "abc_classification",
    "text_keep_rate_wilson",
    "text_zipf_fit",
    "f2_segment_filter",
    "decontam_benchmark_overlap",
    "decontam_mix_weights",
    "dedup_simhash_hamming",
    "sim_semantic_dedup_clusters",
    "decontam_concat_chunk_packing",
    "mm_format_sniff",
    "mm_byte_entropy",
    "dedup_substring_runs",
    "sim_ivf_recall_audit",
    "text_bm25_topk",
    "sample_split_leakage",
    "quality_gopher_rules",
    "quality_repetition_ratio",
    "quality_pii_scan",
    "quality_source_cap",
    "mm_image_decode",
    "sim_pq_adc_topk",
    "text_bigram_surprisal",
    "sketch_histogram_quantiles",
    "sim_matryoshka_topk",
    "events_session_funnel",
    "text_template_detection",
    "text_bpe_train",
    "sim_two_stage_rerank",
    "decontam_span_report",
    "corpus_report",
    "mm_audio_pcm_stats",
    "text_bpe_apply",
    "quality_vocab_oov",
    "mm_image_phash",
    "dedup_containment",
    "dedup_containment_lsh",
    "profile_correlation_matrix",
    "sample_dedup_aware",
    "dq_rowcount_drift",
    "sketch_rolling_distinct_7d",
    "sim_centroid_drift",
    "quality_lang_agreement",
    "curation_effective_tokens",
    "decontam_matrix",
    "events_feature_snapshot",
    "graph_pagerank",
    "graph_triangles_clustering",
    "graph_degree_histogram",
    "stats_chi_square_type_dow",
    "stats_mutual_information",
    "stats_bootstrap_ci_mean",
    "profile_fk_inclusion",
    "text_pmi_collocations",
    "quality_k_anonymity",
    "cdc_log_compaction",
    "sketch_theta_set_ops",
    "events_seasonal_decompose",
    "sim_dedup_threshold_sweep",
    "curation_shard_skew",
    "stats_ols_value_model",
    "stats_two_proportion_ztest",
    "mm_scene_cuts",
    "graph_label_propagation",
    "sim_kmeans_lloyd",
    "sketch_hll_distinct",
    "mm_audio_energy_flux",
    "quality_perplexity_filter_curve",
    "graph_kcore_peel",
    "part_skyline",
    "events_holt_forecast",
    "sketch_decayed_leaderboard",
    "sim_kmeanspp_init",
    "stats_did_analysis",
    "sample_balanced_class",
    "stats_mann_whitney_utest",
    "events_anomaly_mad_days",
    "events_revenue_acf",
    "graph_bfs_distances",
    "sim_label_margin_audit",
    "graph_nation_modularity",
    "profile_fd_discovery",
    "sim_ivf_ndcg_audit",
    "graph_degree_assortativity",
    "curation_best_of_cluster",
    "stats_spearman_corr",
    "text_distinctive_terms",
    "customer_rfm_segments",
    "events_theil_sen_trend",
    "text_token_dispersion",
    "text_readability",
    "text_ngram_novelty",
    "text_hapax_heaps",
    "text_ocr_garbage",
    "quality_charset_profile",
    "stats_benford_digit_test",
    "stats_kendall_tau_daily",
    "stats_ljung_box_revenue",
    "events_survival_km",
    "events_inter_arrival",
    "events_user_ltv_deciles",
    "dedup_minhash_error_audit",
    "curation_mixture_waterfill",
    "sample_systematic_hash",
    "profile_column_entropy",
    "bloom_fpr_audit",
    "graph_two_hop_reach",
    "mm_image_tile_contrast",
    "mm_audio_silence_runs",
    "sim_knn_classifier",
    "text_burrows_delta",
    "dq_value_conformance",
    "events_weekday_weekend_lift",
    "text_stopword_profile",
    "stats_runs_test_revenue",
    "profile_numeric_histogram",
    "sketch_linear_counting",
    "curation_lang_balance",
    "dedup_shingle_df_profile",
    "profile_psi_drift",
    "curation_temperature_resample",
    "dedup_levenshtein_band",
    "stats_jarque_bera",
    "events_user_entropy",
    "sim_silhouette_audit",
    "sketch_hll_daily_union",
    "stats_anova_oneway",
    "stats_hill_tail_index",
    "text_simpson_diversity",
    "profile_candidate_keys",
    "events_click_purchase_xcorr",
    "text_coverage_curve",
    "text_js_divergence",
    "events_conversion_lag",
    "stats_cohens_d_pairs",
    "dedup_cdc_chunks",
    "stats_levene_bf",
    "events_pareto_cuts",
    "sample_rate_audit",
    "sim_pca_power_iteration",
    "sim_nprobe_recall_sweep",
    "events_retention_decay_fit",
    "events_funnel_ttc",
    "stats_power_mde",
    "sample_group_kfold",
    "profile_decimal_audit",
    "sketch_quantile_merge_audit",
    "events_dau_wau_stickiness",
    "sim_centroid_shift_drift",
    "quality_mixture_shift",
    "dedup_band_tradeoff",
    "events_revenue_drawdown",
    "stats_theil_decomposition",
    "sample_neyman_allocation",
    "events_cohort_ltv_curve",
    "stats_kruskal_wallis",
    "stats_welch_ttest",
    "stats_gini_lorenz",
    "events_markov_entropy_rate",
    "graph_edge_embeddedness",
    "sketch_hll_precision_sweep",
    "decontam_minhash_fuzzy",
    "sample_ipf_raking",
    "profile_equi_depth_histogram",
    "stats_permutation_test",
    "events_segment_migration",
    "sim_pq_distortion_audit",
]


# Host-drift controls: stable plans that no round is expected to touch,
# spanning the whole runtime range (0.13 s .. 2.5 s).  A single
# multiplicative factor from sub-second scan controls overcorrects:
# every query carries a fixed per-run overhead floor (~0.1-0.2 s of
# py4j round-trips and scheduling) that does NOT speed up with the
# host, so when the host gets 1.4× faster a 0.3 s query only drops to
# ~0.25 s — dividing by the scan-control factor then reads unchanged
# sub-second plans as 20-40% "regressions" (round-5 artifact).  Drift
# is therefore modeled as a LINE, t_now ≈ floor + slope·t_ref, fit by
# Theil-Sen over the controls; the inverse map (t - floor)/slope
# converts a current timing into its reference-host equivalent.
#
# EPOCH RE-PIN (round 8): references are now the committed ROUND-7
# BENCH_FULL.json raw medians — normalized figures from round 8 on are
# r7-host equivalents, directly comparable to BENCH_r07's raw numbers
# (and to earlier rounds only through r7's own normalized map).  The
# round-5 pins had drifted two hosts away and the r7 fit bent: the six
# fast controls ran 0.57× r6 while the suite body ran 0.78×, Theil-Sen
# returned a physically-impossible NEGATIVE floor (−0.0983), and the
# inverse map inflated every sub-0.5 s query by up to ~40% (VERDICT r7
# what's-wrong #2).  Two structural fixes ride the re-pin: the fit
# clamps floor ≥ 0 (a negative overhead floor is always a mis-fit, not
# a measurement), and the control set gains four mid-range anchors
# (0.5-1.5 s — the old design had a 6-fast/2-mid/3-slow dumbbell whose
# floor estimate was hostage to the fast cluster).
_CONTROL_REFERENCE = {
    # fast scan/agg controls
    "q1_pricing_summary": 0.280,
    "q6_forecast_revenue": 0.134,
    "q18_large_orders": 0.477,
    "events_type_hour_rollup": 0.292,
    "q13_customer_distribution": 0.213,
    "events_user_stats": 0.386,
    # mid-range (join/verify/window heavy).  dedup_simhash_hamming was
    # dropped as a control in round 9: the pair-frame session memo
    # made it ~5× faster by design, so it no longer measures the host
    # (events_transition_matrix, untouched since r2, replaces it at the
    # same r7-pinned mid-range slot).
    "events_transition_matrix": 0.533,
    "events_sliding_windows": 0.524,
    # Swapped in after round 12, which made basket_pair_cooccurrence,
    # diff_table_reconcile, dedup_containment, sketch_theta_set_ops,
    # profile_join_cardinality_audit and customer_rfm_segments faster
    # by design.  Each replacement's module is unchanged since the
    # committed BENCH_FULL.json; its reference is that run's detrended
    # time mapped through the eight remaining controls' Theil-Sen fit
    # (floor 0.0, slope 0.9218).
    "trimmed_mean_price": 0.680,
    "q8_market_share": 0.721,
    "profile_id_gap_islands": 0.877,
    "sample_ipf_raking": 1.189,
    "profile_zorder_pruning_gain": 1.494,
    "stats_poisson_bootstrap_ci": 1.728,
}


# ---------------------------------------------------------------------------
# Interleaved micro-control (round 11, VERDICT r10 task 1).  Round 10
# established that the host throttles in MULTI-MINUTE WINDOWS: four
# full-bench runs on identical code spanned median-normalized-ratio
# 0.90-1.27, with 50-query positional medians ranging 0.79-1.46 WITHIN
# single runs — a time-VARYING speed no constant-factor (even Theil-Sen)
# control model can correct, which forced best-of-4 run selection.  The
# fix: a fixed ~0.1 s pure-compute probe (spark.range arithmetic — no
# parquet IO, no cache interaction, fully codegen'd, so it measures the
# host and nothing else) timed before the first query and after every
# CONTROL_EVERY queries.  Each query's raw time is then detrended by the
# control level AT ITS POSITION (linear interpolation between the two
# bracketing probe samples, relative to the run-median probe time) before
# the existing Theil-Sen reference mapping.  The two stages are
# complementary: the micro-control removes WITHIN-run throttling bands
# (multiplicative — frequency scaling hits py4j and executors alike);
# the pinned control set + floor/slope line maps the run LEVEL to the
# r7 reference host, floor-aware.
CONTROL_EVERY = 5

#: Quiet-host reference for one micro-control measurement (median of 8
#: median-of-3 samples on the round-11 quiet host: 0.112-0.138 s).  Only
#: used for the reported absolute probe level — the per-query factor is
#: relative to the RUN's own median, so a wrong pin cannot bias the map.
MICRO_CONTROL_REF = 0.125


def micro_control_time(spark) -> float:
    """One timed micro-control execution (median of 3): a fixed 48M-row
    integer hash/filter reduction across 32 partitions.  Pure executor
    CPU + one scheduling round-trip; deterministic plan, nothing cached."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 48_000_000, 1, 32).selectExpr(
            "count(if((id * 2654435761) % 1000003 < 500000, 1, NULL)) AS c"
        ).collect()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[1]


def micro_control_staged_time(spark) -> float:
    """One timed STAGED micro-control execution (median of 3): a fixed
    two-shuffle chain (range → groupBy(id % 4096) count → groupBy(cnt)
    count).  Round-11 forensics: a throttling band inflates multi-stage
    queries more than the single-stage CPU probe measures (scheduler
    latency is paid once per serial stage), so this probe tracks the
    SCHEDULING dimension.  RECORDING-ONLY for now — it rides in
    BENCH_FULL as `local_staged_factor` so round 12 can calibrate an
    amplification model against per-query shuffle counts (PLANS.md)
    before anything touches `queries_normalized`."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 8_000_000, 1, 32).selectExpr(
            "id % 4096 AS k"
        ).groupBy("k").count().groupBy("count").count().collect()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[1]


def local_control_factors(
    n_queries: int, samples: list[tuple[float, float]]
) -> list[float]:
    """Per-query within-run drift factor from interleaved micro-control
    samples.  ``samples`` is [(position, t_control)] where position is in
    query-index units (a sample taken after k queries has position k).
    Query i (executing between positions i and i+1) gets the control time
    linearly interpolated at i+0.5, divided by the run-median control
    time — so the factors are centered at ~1.0 and a throttling window
    shows up as a local band > 1.  Fewer than 2 samples → all 1.0."""
    if len(samples) < 2:
        return [1.0] * n_queries
    pts = sorted(samples)
    times = sorted(t for _, t in pts)
    mid = len(times) // 2
    med = (
        times[mid]
        if len(times) % 2
        else (times[mid - 1] + times[mid]) / 2
    )
    if med <= 0:
        return [1.0] * n_queries
    out = []
    for i in range(n_queries):
        x = i + 0.5
        # bracketing samples (clamped extrapolation at the ends)
        lo = max((p for p in pts if p[0] <= x), default=pts[0],
                 key=lambda p: p[0])
        hi = min((p for p in pts if p[0] >= x), default=pts[-1],
                 key=lambda p: p[0])
        if hi[0] == lo[0]:
            t = lo[1]
        else:
            w = (x - lo[0]) / (hi[0] - lo[0])
            t = lo[1] + w * (hi[1] - lo[1])
        out.append(round(max(t / med, 0.05), 4))
    return out


def control_drift_factor(timings: dict[str, float]) -> float | None:
    """Median(current/pinned) over the control queries present in
    ``timings``; None when fewer than three controls ran (narrowed
    runs that skip the controls can't estimate drift).  Kept for
    artifact continuity; ``drift_model`` is the better estimator."""
    ratios = sorted(
        timings[name] / ref
        for name, ref in _CONTROL_REFERENCE.items()
        if name in timings and ref > 0
    )
    if len(ratios) < 3:
        return None
    mid = len(ratios) // 2
    if len(ratios) % 2:
        return round(ratios[mid], 4)
    return round((ratios[mid - 1] + ratios[mid]) / 2, 4)


def drift_model(timings: dict[str, float]) -> tuple[float, float] | None:
    """Theil-Sen fit of current-host time against pinned reference time
    over the controls: returns ``(floor, slope)`` with
    ``t_now ≈ floor + slope · t_ref``.  Robust to one or two outlier
    controls (median of pairwise slopes / residuals); None when fewer
    than four controls ran or the fit degenerates (slope ≤ 0)."""
    pts = sorted(
        (ref, timings[name])
        for name, ref in _CONTROL_REFERENCE.items()
        if name in timings and ref > 0
    )
    if len(pts) < 4:
        return None
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
        if x2 != x1
    )
    if not slopes:
        return None
    slope = slopes[len(slopes) // 2]
    if slope <= 0:
        return None
    resid = sorted(y - slope * x for x, y in pts)
    floor = resid[len(resid) // 2]
    # Fit-sanity clamp, both directions.  A NEGATIVE floor is always a
    # mis-fit (VERDICT r7 what's-wrong #2: it inflated every sub-0.5 s
    # query by up to ~40%).  An INFLATED floor is the same pathology
    # mirrored (round-11: a throttle window landing on the fast controls
    # pushed floor to 0.30 s — more than the fastest control's entire
    # runtime — and normalized a 0.45 s query to 0.001 s).  The overhead
    # floor is physically a fraction of the fastest control, so when it
    # escapes [0, 0.6 * min(t_now)], re-fit the slope through the origin.
    if floor < 0 or floor > 0.6 * pts[0][1]:
        ratios = sorted(y / x for x, y in pts)
        slope = ratios[len(ratios) // 2]
        floor = 0.0
    return round(floor, 4), round(slope, 4)


def normalize_to_reference(
    dt: float, model: tuple[float, float]
) -> float:
    """Map a current-host timing to its reference-host equivalent via
    the inverse drift line, clamped at a millisecond."""
    floor, slope = model
    return round(max((dt - floor) / slope, 0.001), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod

    spark = build_session(app_name="hauser_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # untimed warmup: JVM codegen, parquet reader init, and file listing for
    # every table the headline queries touch — steady-state timings, the way
    # a long-running engine (or a cluster with a warm JVM) would run
    from hauser_spark.tables import load_table, optimize_layout

    # ingest-time layout compaction (idempotent): the driver's parquet is one
    # row group per table, which caps scan parallelism at 1 task; an engine
    # owns its at-rest layout, so compact into splittable row groups first.
    optimize_layout(sf_dir)

    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, t).count()
    load_table(spark, sf_dir, "nation").agg({"n_nationkey": "max"}).collect()

    # median of 3 timed runs per query: single-sample timings swing with
    # host noise (observed ±30% wholesale drift between otherwise
    # identical runs); the median is stable against one bad sample.
    # optional narrowing for pinned regression re-runs:
    #   SPARK_GRAFT_BENCH_QUERIES=q1_pricing_summary,dedup_minhash_lsh
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = (
        [q for q in HEADLINE if q in set(only.split(","))]
        if only
        else HEADLINE
    )

    timings: dict[str, float] = {}
    splits: dict[str, dict[str, float]] = {}
    total = 0.0
    # interleaved micro-control: warm + settle untimed, sample at
    # position 0, then after every CONTROL_EVERY queries and after the
    # last one.  TWO untimed rounds: the first compiles the probe shape,
    # the second absorbs post-warmup settling (GC of the table-warmup
    # garbage) — with one round the position-0 sample read 10-30% high
    # on a quiet host and over-deflated the first query window.
    micro_control_time(spark)
    micro_control_time(spark)
    micro_control_staged_time(spark)  # untimed warmup (staged probe)
    # narrowed runs pace ~3-4x fewer queries per minute of wall clock than
    # the full suite, so sample every 3 queries there to keep the probe's
    # TIME resolution comparable (a burst shorter than the sample spacing
    # smears onto its neighbors)
    every = 3 if len(headline) <= 30 else CONTROL_EVERY
    control_samples: list[tuple[float, float]] = [
        (0.0, micro_control_time(spark))
    ]
    staged_samples: list[tuple[float, float]] = [
        (0.0, micro_control_staged_time(spark))
    ]
    for idx, name in enumerate(headline):
        fn = qs[name]
        # Drop cached frames left by earlier queries (the LSH / SimHash
        # paths cache their signature frames per call and never
        # unpersist): accumulated entries churn the storage pool and
        # add up to ±40% noise on late queries. Clearing per query
        # keeps intra-query caching (each timed run builds and uses its
        # own cache) while isolating queries from each other.
        spark.catalog.clearCache()
        # Also release DEAD localCheckpoint blocks (measurement-
        # isolation fix, untimed): checkpoint RDD blocks are freed by
        # the ContextCleaner only after a JVM GC collects the dead RDD,
        # and the py4j finalizers that release the JVM reference only
        # run on a PYTHON gc pass — so a full run accumulated the dead
        # blocks of ~1200 query executions (measured: +20 MB per 5
        # checkpoint-carrying queries; 97 MB -> 11 MB after one
        # gc.collect() + System.gc()), churning the storage pool under
        # late queries exactly like the cached-frame leak above.  Both
        # collections happen OUTSIDE every timed region.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        fn(spark, sf_dir).collect()  # untimed: codegen compile for this shape
        # per-sample phase split (VERDICT r9 task 6, permanent): build =
        # the Python call constructing the DataFrame (py4j Column-tree
        # building plus any driver-synchronized rounds inside the
        # operator, e.g. Lloyd iterations), plan = forcing
        # queryExecution().executedPlan() (analysis + optimization;
        # collect reuses the cached QueryExecution), exec = collect.
        # Driver-side movers now self-explain instead of hiding inside
        # one opaque total.
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.collect()
            t3 = time.perf_counter()
            samples.append((t3 - t0, t1 - t0, t2 - t1, t3 - t2))
        dt, bsec, psec, xsec = sorted(samples)[1]
        timings[name] = round(dt, 3)
        splits[name] = {
            "build_ms": round(bsec * 1000, 1),
            "plan_ms": round(psec * 1000, 1),
            "exec_ms": round(xsec * 1000, 1),
        }
        total += dt
        if (idx + 1) % every == 0 or idx + 1 == len(headline):
            control_samples.append(
                (float(idx + 1), micro_control_time(spark))
            )
            # the staged probe costs ~0.5 s/sample (2 shuffle stages of
            # scheduling — the thing it measures), so it samples at a
            # third of the plain probe's rate; throttle bands are
            # multi-minute, well above its ~1 min resolution
            if (idx + 1) % (3 * every) == 0 or idx + 1 == len(headline):
                staged_samples.append(
                    (float(idx + 1), micro_control_staged_time(spark))
                )

    # Full per-query map → BENCH_FULL.json (committed with the round, so
    # regressions stay attributable query-by-query); stdout gets ONE
    # compact JSON line capped under the harness's 2000-char stdout-tail
    # capture — round 1's full line overflowed it and recorded as
    # unparseable, losing the TPC-H head.
    # stage 1: detrend each raw timing by the micro-control level at its
    # position (within-run throttling bands); stage 2: Theil-Sen map the
    # detrended map to the r7 reference host (run level + overhead floor)
    factors = local_control_factors(len(headline), control_samples)
    local_factor = {name: factors[i] for i, name in enumerate(headline)}
    staged_factors = local_control_factors(len(headline), staged_samples)
    local_staged = {
        name: staged_factors[i] for i, name in enumerate(headline)
    }
    flat = {
        name: round(dt / local_factor[name], 3)
        for name, dt in timings.items()
    }
    drift = control_drift_factor(flat)
    model = drift_model(flat)
    ctl_times = sorted(t for _, t in control_samples)
    mid = len(ctl_times) // 2
    ctl_med = (
        ctl_times[mid]
        if len(ctl_times) % 2
        else (ctl_times[mid - 1] + ctl_times[mid]) / 2
    ) if ctl_times else None
    full = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(headline),
        "per_query_mean_sec": round(total / len(headline), 3),
        "control_drift_factor": drift,
        "queries": timings,
        "query_splits": splits,
        "local_control_factor": local_factor,
        "local_staged_factor": local_staged,
        "queries_detrended": flat,
        "micro_control": {
            "every": every,
            "ref_sec": MICRO_CONTROL_REF,
            "run_median_sec": round(ctl_med, 4) if ctl_med else None,
            "samples": [
                [pos, round(t, 4)] for pos, t in control_samples
            ],
            "staged_samples": [
                [pos, round(t, 4)] for pos, t in staged_samples
            ],
        },
        # bench-control provenance (ADVICE r10): the pinned control set
        # changed in r9 (dedup_simhash_hamming -> events_transition_matrix)
        # and r10 (sim_kmeans_lloyd -> profile_join_cardinality_audit);
        # the replacement's reference was re-baselined in round 11 from a
        # fresh quiet-host measurement mapped through the other controls'
        # fit, replacing the r7 pin measured under a different regime.
        "control_set_changes": [
            "r9: dedup_simhash_hamming -> events_transition_matrix",
            "r10: sim_kmeans_lloyd -> profile_join_cardinality_audit "
            "(reference re-baselined r11)",
            "r11: text_bpe_train + graph_pagerank (both rewritten "
            "faster by design) -> customer_rfm_segments",
            "after r12: basket_pair_cooccurrence, diff_table_reconcile, "
            "dedup_containment, sketch_theta_set_ops, "
            "profile_join_cardinality_audit, customer_rfm_segments "
            "(all made faster by design in r12) -> trimmed_mean_price, "
            "q8_market_share, profile_id_gap_islands, sample_ipf_raking, "
            "profile_zorder_pruning_gain, stats_poisson_bootstrap_ci "
            "(references mapped from the r12 BENCH_FULL through the "
            "other eight controls' fit)",
        ],
    }
    if model:
        full["drift_floor_sec"] = model[0]
        full["drift_slope"] = model[1]
        # reference-host equivalents via the inverse drift line over the
        # DETRENDED map — directly comparable to BENCH_r07's raw values
        # (round-8 re-pin)
        full["queries_normalized"] = {
            name: normalize_to_reference(dt, model)
            for name, dt in flat.items()
        }
    elif drift:
        full["queries_normalized"] = {
            name: round(dt / drift, 3) for name, dt in flat.items()
        }
    # narrowed runs (SPARK_GRAFT_BENCH_QUERIES) must not clobber the
    # committed full map — they write a scratch file instead
    out_name = "BENCH_FULL.json" if not only else "BENCH_NARROWED.json"
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name),
        "w",
    ) as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print(build_summary_line(full))


def build_summary_line(full: dict, budget: int = 1900) -> str:
    """The ONE stdout line: summary fields plus as many slowest-first
    per-query entries as fit ``budget`` characters (the harness captures
    only the last 2000 chars of stdout — an overflowing line records as
    unparseable). Factored out so the budget contract is unit-tested."""
    summary = {k: full[k] for k in
               ("metric", "value", "unit", "sf", "n_queries",
                "per_query_mean_sec", "control_drift_factor",
                "drift_floor_sec", "drift_slope")
               if k in full}
    summary["queries_file"] = "BENCH_FULL.json"
    picked: dict[str, float] = {}
    for name, dt in sorted(full["queries"].items(), key=lambda kv: -kv[1]):
        trial = dict(summary)
        trial["queries"] = {**picked, name: dt}
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        picked[name] = dt
    summary["queries"] = picked
    return json.dumps(summary, separators=(",", ":"))


if __name__ == "__main__":
    main()
