"""Partition-count invariance: the exact-arithmetic design claims that
re-partitioning can never change an answer (decimal/integer
accumulation, integer iteration state, unique-order windows). This test
runs representative queries at 1 and at 48 shuffle partitions and
requires BIT-IDENTICAL results — the property that makes a 1000×
scale-out safe, checked directly instead of argued.
"""

from __future__ import annotations

import pytest

from boltzmannclean_spark.plans.registry import all_queries

# Exact-by-design queries spanning the determinism techniques:
# decimal sums, integer micro-unit iteration, integer argmin, running
# decimal totals, ordered-window islands.
INVARIANT_QUERIES = (
    "pricing_summary",
    "orders_abc_pareto",
    "graph_pagerank_bipartite",
    "embedding_nearest_centroid",
    "events_sessionize",
    # round-4 exact-arithmetic additions: wide-integer sufficient stats,
    # cents×µs weights, row_number-picked open/close, segmented
    # prefix-max frontier, bloom-pruned exact join, wedge counting,
    # hash-ring draws and md5 bucketing.
    "agg_corr_matrix",
    "ts_time_weighted_avg",
    "ts_ohlc_bars",
    "relational_skyline",
    "join_bloom_semireduction",
    "graph_triangle_count",
    "pairs_negative_sampling",
    "sample_train_test_split",
    "dedup_segments_exact",
    # round-5 exact-arithmetic additions: power-of-two EMA weights,
    # disjoint-interval PIT match, binned-overlap dedup+verify, md5
    # fold buckets, ntile with a total per-group order, conditional
    # per-term sums in fixed addition order.
    "window_ema_decay",
    "join_pit_scd2",
    "sessions_overlap_pairs",
    "sample_group_kfold",
    "agg_histogram_equidepth",
    "text_bm25_topk",
    "dq_join_key_skew",
    # round-5 session additions: hash-thresholded Poisson weights and
    # percentile_disc over replicate totals, four-exact-integer test
    # statistic, integer-cents MAE on a generated grid, row_number
    # islands, bottom-k sketch thetas, int64-div week buckets, and the
    # decimal-exact TPC-H chains (incl. countDistinct-based Q21).
    "sample_poisson_bootstrap",
    "stats_ab_test_proportions",
    "ts_seasonal_naive_eval",
    "events_gaps_islands_streaks",
    "agg_kmv_intersection_estimate",
    "events_cohort_ltv_curve",
    "dedup_blocked_editdist",
    "text_ngram_novelty",
    "tpch_q21_waiting_suppliers",
    "tpch_q08_market_share",
    # late round-5: day-partitioned endpoint sweep, bucket-size-only
    # banding sweep, fixed-order float entropy, grid-cell spatial join,
    # epoch-windowed reset sums.
    "events_peak_concurrency",
    "dedup_minhash_threshold_curve",
    "text_char_entropy",
    "join_geo_grid_distance",
    "window_reset_running_sum",
    # closing batch: closed-float stats over exact sums, md5-ranked
    # picks, discrete percentiles, bounded-frame medians, epoch buckets.
    "stats_ab_cuped_adjustment",
    "sample_balanced_downsample",
    "ts_median_interorder_gap",
    "orders_cohort_repeat_rate",
    "dq_primary_key_uniqueness",
    "window_rolling_median",
    "ts_weekday_hour_profile",
    "ts_hourly_autocorr_lag24",
    # round-6: exact int64 gap/duration arithmetic, frozen-codebook
    # integer assignment, shingle-diagonal islands, per-hex-digit
    # popcounts, peeling counts, within-cell IEEE cosines under
    # order-free max, and the analyze()-schema UDTF's label split.
    "ts_sla_downtime",
    "events_survival_risk_table",
    "graph_kcore_peel",
    "dedup_substring_run",
    "multimodal_phash_dedup",
    "similarity_ann_delta_assign",
    "dedup_semantic_semdedup",
    "udtf_analyze_dynamic",
    # round-6 closing batch: padded-key envelope picks, exact-decimal
    # digit extraction, IANA per-row conversions, hub-capped pair
    # weights, and the integer-requantized MICE iteration.
    "ts_downsample_minmax",
    "dq_benford_distribution",
    "func_convert_timezone",
    "graph_bipartite_projection",
    "impute_mice_chained",
    "stats_ab_did_uplift",
    # round-7: integer plurality labels under max_by (order-free),
    # survivor-chain stage counts, and the AES-ECB deterministic
    # roundtrip booleans.
    "graph_label_propagation",
    "pipeline_dedup_funnel",
    "func_crypto_aes",
    # round-8: canonical Q5's exact decimal revenue through the
    # locality-conditioned join, and the ANN recall audit (integer
    # overlap counts off two salted exact top-ks).
    "tpch_q05_local_supplier_volume",
    "similarity_ann_recall_eval",
    # round-8 x10-sweep fix: island sweep now totally ordered by
    # (s, e, o_orderkey), so duplicate intervals can never split an
    # island differently across partitionings.
    "intervals_merge_overlapping",
    # round-8 session 2: integer tertile cuts under ntile, the SPRT
    # prefix-scan boundary crossing, integer squared-distance kNN
    # ranks, capped-wedge common-neighbor counts, and the sequential
    # Holt recurrence inside applyInPandas (per-key state must not
    # depend on which executor owns the key).
    "curation_perplexity_buckets",
    "stats_sequential_sprt",
    "join_geo_knn_grid",
    "graph_linkpred_common_neighbors",
    "ts_holt_linear_smoothing",
    # round-9: x2-unit tied ranks, zero-MAD-dominant window flags,
    # decimal power sums, sign-pair trend state, integer milli
    # log-odds linkage scores, and the 1/ln micro weight table.
    "stats_mann_whitney_u",
    "window_hampel_filter",
    "stats_skewness_kurtosis_exact",
    "ts_mann_kendall_trend",
    "dedup_fellegi_sunter_score",
    "graph_linkpred_adamic_adar",
    # round-10: integer-numerator ECDF/rank statistics, packed-bigint
    # itemset keys, exact medians on value domains, watermark micros,
    # integer crossing ranks, LCG-relabeled replicas, fixpoint
    # recursion with per-step DISTINCT, and integer-micro TextRank.
    # (dq_distribution_psi is deliberately ABSENT: its final
    # (p-q)·ln(p/q) reduction is a float32-cast double sum — the
    # documented libm contract, stable in practice but not
    # exact-by-design under re-partitioning.)
    "stats_ks_two_sample",
    "stats_kruskal_wallis",
    "ts_theil_sen_slope",
    "dedup_sorted_neighborhood",
    "graph_clustering_coefficient",
    "text_rake_keywords",
    "text_apriori_cooccur",
    "stats_welch_ttest",
    "graph_linkpred_jaccard",
    "ts_changepoint_cusum",
    "curation_filter_attribution",
    "stats_brown_forsythe",
    "dq_freshness_lag",
    "events_pareto_concentration",
    "ts_lag_feature_matrix",
    "stats_permutation_test",
    "sql_recursive_cte_reachability",
    "ts_seasonal_residual_anomaly",
    "text_textrank_keywords",
    "stats_bh_fdr_permutation",
    "events_lorenz_gini",
    # round-11 exact-arithmetic additions: sharded prefix sum (pareto,
    # above, now runs through it), per-cell fixed-tree chi-square terms,
    # integer-sixths harmonic centrality, per-row fixed-tree PMI.
    "stats_chi_square_independence",
    "graph_harmonic_centrality",
    "text_collocations_pmi",
    # round-11 session 2: exact sufficient statistics (ANOVA components,
    # Spearman's integer covariance numerators, the SRM integer GOF
    # identity, per-user burstiness trees), closed-form integer
    # chunking, integer-micro Katz iterations. (stats_anova_oneway's
    # per-group components are fixed trees; its f_stat is the FLOAT
    # libm-absorbing sum — included because the 5-term sum is exact in
    # practice and pinned here intentionally, like chi2_f.)
    "stats_anova_oneway",
    "stats_spearman_rho",
    "stats_cramers_v",
    "stats_srm_check",
    "events_interarrival_burstiness",
    "chunk_sliding_windows",
    "graph_katz_centrality",
    # round-11 session 2, batch 2: exact integer medians/MAD and alarm
    # decisions, LCG block assignment with fixed-tree leave-one-out
    # means (ci_half_f is the FLOAT-absorbed 32-term sum, pinned like
    # chi2_f), zero-filled-grid integer correlation sums, exact
    # type/hapax counts.
    "dq_rowcount_anomaly",
    "stats_jackknife_ci_mean",
    "ts_lagged_cross_correlation",
    "text_lexical_diversity",
    # batch 3: bitmap partials OR associatively (exact at any split);
    # Wilson endpoints are fixed trees over exact (n, x).
    "agg_bitmap_exact_distinct",
    "stats_proportion_ci_wilson",
    # batch 4: deterministic md5 minhash/banding with min-id reps;
    # delta-method trees over exact arm sums.
    "dedup_incremental_batch",
    "stats_delta_method_ratio_ci",
    # batch 5: window-min fingerprints over unique (doc, pos) order;
    # integer-micro personalized teleport.
    "text_winnowing_overlap",
    "graph_personalized_pagerank",
    # batch 6: integer 2·cum ≥ total median decision, signed-integer
    # hash buckets, fixed-tree smoothed encodings.
    "agg_weighted_median",
    "ml_feature_hashing",
    "ml_target_encoding",
    # batch 7: all-integer band breach (m·x−s1)² > 4·(m·s2−s1²)·m;
    # unnormalized exact-integer HITS scores.
    "window_bollinger_breakout",
    "graph_hits_hubs_authorities",
    # batch 8: exact detrended SS decomposition (strength_f pinned like
    # chi2_f), CEIL-of-fixed-tree sample sizes, exact-cell G terms
    # (g_stat_f pinned like chi2_f).
    "ts_seasonal_strength",
    "stats_power_sample_size",
    "stats_g_test",
    # batch 9: deterministic time-split train/eval with exact counts.
    "events_markov_eval",
    # batch 10: per-pair IEEE cosine trees under the per-query top-k.
    "pairs_hard_negatives",
    # batch 11 (r14): exact bucket-offset global rank (the split must
    # not depend on physical layout — the whole point of deriving rank
    # from md5 order, not row position) and the IEEE-grid float sketch
    # (exact binning + integer merge at any partitioning).
    "sample_exact_split",
    "window_mergeable_quantiles_float",
    # frontier loops and HLL register merges: min-level closure under
    # DISTINCT/anti-join, order-free groupBy-MAX registers, exact
    # binary-fraction estimate sums and integer mass curves.
    "graph_bfs_levels",
    "graph_hyperball_reach",
    "graph_hyperball_saturation",
    # the shared shingle builders (functions/shingles.py): md5-string
    # minhash mins with min-id bucket reps, and integer capped-bigram
    # overlap counts; each Jaccard is one double division of integers.
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # the shared cosine builders (functions/vectors.py): per-pair IEEE
    # cosine trees, integer Lloyd cells and max_by cell picks under the
    # (cosine DESC, neighbor_id) per-query rank (pairs_hard_negatives,
    # batch 10 above, is the fifth query built on them).
    "similarity_cosine_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "similarity_ann_ivf_nprobe",
    "similarity_ann_nprobe_autotune",
)


@pytest.fixture(scope="module")
def registry():
    return all_queries()


def _rows(spark, registry, name, sf_dir, partitions):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        df = registry[name].spark_fn(spark, sf_dir)
        return [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_result_is_partition_count_invariant(spark, sf_dir, registry, name):
    a = _rows(spark, registry, name, sf_dir, 1)
    b = _rows(spark, registry, name, sf_dir, 48)
    assert len(a) == len(b), (name, len(a), len(b))
    # results carry their own ORDER BY; compare positionally and exactly
    for i, (ra, rb) in enumerate(zip(a, b)):
        assert ra == rb, (name, i, ra, rb)
