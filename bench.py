"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

That short line is the last stdout line. The full artifact (every
tier: headline, resident, extended, DuckDB oracles, scale curve,
bucketed q3) precedes it and is written to BENCH_FULL.json, the
drift baseline. Each query executes via the no-op sink so timing
covers the full distributed plan without driver-side
materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.plans.parity import duckdb_run, duckdb_views
from etl_data_ingestion_spark.session import DEFAULT_CPUS, get_spark

# Representative spread: scan-agg, selective join+topk, multi-join,
# scan-filter-agg, plus extension operators as they land.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "window_running_total",
    "agg_rollup_status_priority",
    "join_asof_purchase_view",
    "stream_tumbling_hourly",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_ivf_topk",
    "text_token_stats",
    "text_rolling_fingerprint",
    "subquery_correlated_avg_qty",
    "pipeline_training_data_curation",
]

# Tier policy: HEADLINE is FROZEN, so "value" means the same work in
# every artifact; a re-baseline (e.g. a HEADLINE query removed) bumps
# the metric name instead of silently changing the set. New operators
# enter EXTENDED when they land and STAY there (min-of-2 each,
# reported under "extended" with their oracle times: perf visibility
# without moving the baseline). EXTENDED is in landing order.
EXTENDED = [
    "similarity_pq_rerank",
    "join_bloom_pruned",
    "dedup_bloom_incremental",
    "multimodal_cdc_chunking",
    "agg_bitmap_exact_distinct",
    "agg_theta_sketch_setops",
    "timeseries_ewma_daily",
    "window_cumulative_distinct_users",
    "events_transition_matrix",
    "pipeline_dsir_weights",
    "graph_pagerank_bipartite",
    "dedup_end_to_end_canonical",
    "text_bigram_lm_perplexity",
    "multimodal_image_decode_real",
    "join_asof_nearest",
    "events_rfm_segmentation",
    "dedup_levenshtein_banded",
    "timeseries_resample_ohlc",
    "events_path_trigrams",
    "pipeline_pack_sequences_sharded",
    "events_attribution_last_touch",
    "events_interval_union_coverage",
    "warehouse_cdc_apply",
    "quality_column_expectations",
    "join_interval_overlap",
    "pipeline_shard_assignment",
    "agg_string_agg_ordered",
    "agg_weighted_median",
    "timeseries_anomaly_mad",
    "events_cohort_ltv",
    "multimodal_resize_real",
    "subquery_any_all_quantified",
    "pipeline_length_bucket_batching",
    "warehouse_snapshot_diff",
    "events_dau_wau_mau",
    "agg_winsorized_mean",
    "agg_quantile_histogram_rollup",
    "multimodal_video_frames_real",
    "dedup_repeated_lines_corpus",
    "text_zipf_slope",
    "quality_psi_drift",
    "dedup_url_canonical",
    "text_bpe_train_merges",
    "multimodal_spectrogram_real",
    "embedding_chunk_mean_pool",
    "scan_csv_permissive_corrupt",
    "text_compression_ratio",
    "pipeline_pack_binpack_ffd",
    "ml_kmeans_lloyd_exact",
    "multimodal_patch_embed_real",
    "text_bpe_apply_tokenize",
    "quality_ks_drift_test",
    "dedup_containment_quotes",
    "pipeline_naive_bayes_spam",
    "events_pattern_match_regex",
    "timeseries_holt_trend",
    "warehouse_incremental_moments",
    "join_geo_radius_grid",
    "scan_bucketed_join_zero_exchange",
    "pipeline_entity_resolution",
    "quality_k_anonymity",
    "similarity_index_persist_reuse",
    "stream_static_enrichment",
    "scalar_collation_group",
    "timeseries_lerp_fill",
    "agg_equi_depth_histogram",
    "timeseries_seasonal_decompose",
    "graph_triangle_count",
    "multimodal_image_ahash_dedup",
    "graph_link_prediction",
    "funnel_conversion_latency",
    "warehouse_zorder_skipping",
    "agg_welch_ttest",
    "multimodal_audio_vad_segments",
    "join_scd2_temporal",
    "agg_poisson_rate_anomaly",
    "pipeline_curriculum_buckets",
    "agg_higher_moments",
    "agg_ratio_delta_ci",
    "text_js_divergence_sources",
    "agg_gini_coefficient",
    "timeseries_cusum_changepoint",
    "agg_categorical_entropy_daily",
    "ml_auc_roc_exact",
    "ml_calibration_brier",
    "pipeline_weighted_sample_wor",
    "basket_association_rules",
    "pipeline_kfold_grouped",
    "ml_bootstrap_ci_poisson",
    "pipeline_contamination_curve",
    "timeseries_backtest_mape",
    "events_markov_stationary",
    "agg_benford_first_digit",
    "pipeline_filter_funnel_report",
    "text_heaps_vocab_growth",
    "events_peak_concurrency_daily",
    "agg_chi2_independence",
    "text_pmi_cooccurrence",
    "timeseries_max_drawdown",
    "text_bm25_topk",
    "ml_confusion_matrix_metrics",
    "ml_ndcg_at_k",
    "ml_precision_recall_curve",
    "pipeline_tokenizer_fertility",
    "similarity_range_search",
    "ml_cohen_kappa",
    "ml_gain_lift_deciles",
    "agg_ab_test_ztest",
    "timeseries_acf_lags",
    "timeseries_theil_sen",
    "agg_spearman_rank_corr",
    "events_session_gap_histogram",
    "text_hapax_legomena",
    "events_survival_curve",
    "events_markov_entropy_rate",
    "ml_brier_decomposition",
    "text_ngram_novelty",
    "text_source_vocab_jaccard",
    "ml_mcnemar_test",
    "ml_log_loss",
    "ml_kendall_tau_daily",
    "agg_mutual_information",
    "text_readability_flesch",
    "text_rake_keywords",
    "timeseries_sax_symbols",
    "graph_degree_distribution",
    "text_kneser_ney_bigram",
    "timeseries_bollinger_bands",
    "agg_abc_classification",
    "pipeline_source_cap_sample",
    "graph_kcore_peel",
    "ml_expected_calibration_error",
    "ml_average_precision",
    "ml_logreg_newton_probe",
    "timeseries_ljung_box",
    "agg_theil_inequality",
    "graph_assortativity",
    "events_bot_regularity",
    "timeseries_rolling_zscore_by_key",
    "agg_pareto_frontier",
    "timeseries_cross_correlation",
    "embedding_pca_power_iteration",
    "ml_item_item_cf",
    "text_tfidf_cosine_pairs",
    "agg_corr_matrix_daily",
    "timeseries_granger_lag1",
    "text_inverted_index_phrase",
    "embedding_matryoshka_agreement",
    "graph_community_modularity",
    "ml_feature_hash_collisions",
    "agg_countmin_width_sweep",
    "timeseries_dtw_distance",
    "scan_csv_multiline_quoted",
    "events_anova_weekday",
    "pandas_cogroup_reconcile",
    "subquery_not_in_null_semantics",
    "stream_outer_interval_join",
    "quality_date_gaps",
    "ml_isotonic_calibration_bins",
    "agg_hill_tail_index",
    "timeseries_periodogram_fixed",
    "ml_mann_whitney_u",
    "ml_price_elasticity_by_brand",
    "timeseries_hurst_rs",
    "agg_lorenz_curve_deciles",
    "window_gaps_islands_dates",
    "agg_kruskal_wallis",
    "agg_benjamini_hochberg_fdr",
    "timeseries_runs_test",
    "timeseries_pacf_durbin",
    "agg_cochran_armitage_trend",
    "ml_mrr_at_10",
    "ml_recall_at_10",
    "ml_ols_normal_equations",
    "text_oov_rate_cross_source",
    "graph_local_clustering_coeff",
    "graph_adamic_adar_topk",
    "graph_label_propagation_2round",
    "graph_hits_fixed_iter",
    "quality_unreferenced_parents",
    "dedup_savings_by_source",
    "pipeline_token_budget_waterfill",
    "events_attribution_position_based",
    "timeseries_variance_ratio",
    "timeseries_wow_growth",
    "events_churn_rate_weekly",
    "ml_simplified_silhouette",
    "scalar_higher_order_funcs",
    "pandas_map_in_arrow_tokens",
    "agg_levene_variance_homogeneity",
    "agg_jarque_bera_normality",
    "agg_cramers_v",
    "graph_ktruss_edge_support",
    "events_exp_gap_fit",
    "text_word_burstiness",
    "timeseries_spectral_entropy",
    "window_hampel_outliers",
    "agg_mann_kendall_trend",
    "agg_wilcoxon_signed_rank",
    "agg_robust_moments_octiles",
    "text_yule_k",
    "ml_ridge_normal_equations",
    "pipeline_neyman_allocation",
    "quality_l_diversity",
    "events_decayed_engagement",
    "agg_grubbs_outlier",
    "timeseries_var_expected_shortfall",
    "agg_hodges_lehmann_shift",
    "events_bounce_rate_by_entry",
    "quality_t_closeness",
    "pipeline_train_test_split_hash",
    "timeseries_ewma_crossover",
    "text_mattr_lexical_diversity",
    "ml_roc_curve_points",
    "agg_friedman_test",
    "agg_cronbach_alpha",
    "ml_decision_stump_gini",
    "timeseries_permutation_entropy",
    "graph_rich_club_coefficient",
    "agg_gumbel_block_maxima",
    "agg_cochran_q_test",
    "ml_fisher_lda_closed_form",
    "timeseries_sample_entropy",
    "quality_functional_dependencies",
    "timeseries_engle_granger_coint",
    "ml_jackknife_ratio_variance",
    "agg_capture_recapture_chapman",
    "ml_poisson_deviance",
    "text_burrows_delta",
    "timeseries_kpss_stationarity",
    "ml_loo_1nn_embedding_accuracy",
    "ml_empirical_bayes_shrinkage",
    "ml_conformal_interval_coverage",
    "ml_logrank_test",
    "agg_energy_distance_weekend",
    "agg_circular_hour_stats",
    "events_post_stratified_lift",
    "ml_xi_correlation",
    "agg_tail_dependence_extremes",
    "agg_partial_correlation",
    "ml_sprt_sequential_test",
    "events_cuped_adjusted_lift",
    "agg_lmoments_daily",
    "pipeline_dedup_threshold_curve",
    "agg_ledoit_wolf_shrinkage",
    "ml_power_analysis_two_prop",
    "timeseries_turning_points_test",
    "timeseries_peak_prominence",
    "agg_wasserstein_weekend",
    "agg_cramer_von_mises_weekend",
    "agg_durbin_watson_daily",
    "text_good_turing_estimates",
    "ml_km_survival_curve",
    "agg_bartlett_variance_test",
    "agg_herfindahl_concentration",
    "agg_poisson_overdispersion",
    "events_page_hinkley_drift",
    "agg_jonckheere_terpstra",
    "agg_cmh_stratified_test",
    "agg_mood_median_test",
    "similarity_ratio_margin",
    "pipeline_length_weight_ess",
    "text_yule_k_characteristic",
    "pipeline_weighted_priority_sample",
    "agg_bh_fdr_source_drift",
    "similarity_label_mmd_drift",
    "ml_cooks_distance_topk",
    "agg_mahalanobis_outliers",
    "agg_cohens_d_weekend",
    "agg_chow_break_daily",
    "agg_breusch_pagan_order_size",
    "text_distinct_ngram_diversity",
]


HERE = os.path.dirname(os.path.abspath(__file__))


def sample_interleaved(
    keys: list[str],
    run: Callable[[str], float | None],
    passes: int,
    retries: int = 0,
    done: Callable[[list[float]], bool] | None = None,
    warm: bool = True,
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Interleaved min-of-N: the one sampler behind every bench tier and
    tool. Returns ({key: min sample}, {key: all samples}).

    The host shows CPU contention in multi-minute bursts, and a single
    sample inside one can read 2-3x high; the minimum is the
    noise-robust estimator, and all samples are kept so a regression
    (all high) can be told from a burst (high min, wide spread).

    - An untimed warm pass (``warm``) runs every key once first: a
      query's first execution also pays its own codegen, broadcast
      threads and Python-worker start-up, which is per-process
      overhead, not plan cost.
    - Each of ``passes`` passes then takes one sample of every key in
      turn, so a burst lasting one pass poisons at most one sample per
      key instead of all samples of one key.
    - Up to ``retries`` extra passes re-sample only the keys whose max
      is >= 2x their min: a burst spanning every pass leaves the min
      itself poisoned, and clean keys don't pay for the retry.

    A key is skipped from the moment ``run`` returns None for it (timed
    out, or nothing to run; it is then absent from the mins) and once
    ``done(its samples)`` holds (e.g. a heavy oracle whose first sample
    already costs more than a second one would buy).
    """
    samples: dict[str, list[float]] = {k: [] for k in keys}
    dropped: set[str] = set()

    def live(k: str) -> bool:
        s = samples[k]
        return k not in dropped and not (s and done and done(s))

    def take(k: str, timed: bool = True) -> None:
        v = run(k)
        if v is None:
            dropped.add(k)
        elif timed:
            samples[k].append(v)

    if warm:
        for k in keys:
            take(k, timed=False)
    for _pass in range(passes):
        for k in keys:
            if live(k):
                take(k)
    for _retry in range(retries):
        flagged = [
            k
            for k in keys
            if live(k)
            and len(samples[k]) >= 2
            and max(samples[k]) >= 2 * min(samples[k])
        ]
        if not flagged:
            break
        for k in flagged:
            take(k)
    best = {k: min(s) for k, s in samples.items() if s and k not in dropped}
    return best, samples


def run_query(spark, name: str, sf_dir: str) -> float:
    """Seconds to build and run registry query ``name`` through the
    no-op sink (``registry.run``): the full distributed plan without
    driver-side materialization. The runner releases what the query
    persisted or checkpointed, so the next sample re-earns it."""
    return registry.run(spark, name, sf_dir, registry.NOOP).seconds


def time_spark(
    spark,
    names: list[str],
    sf_dir: str,
    passes: int,
    retries: int = 0,
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Registry-query timings through the sampler, in ms-rounded
    seconds."""
    return sample_interleaved(
        names,
        lambda n: round(run_query(spark, n, sf_dir), 3),
        passes,
        retries,
    )


def warm_up(spark, sf_dir: str, cpus: int) -> None:
    """Warm the JVM/codegen once with a cheap query so timings reflect
    steady-state execution, not first-call classloading; likewise spin
    up the Python/Arrow workers (numpy import per worker) so UDF-stage
    queries measure compute, not process forks."""
    from pyspark.sql.functions import pandas_udf

    run_query(spark, HEADLINE[0], sf_dir)
    ones = pandas_udf(lambda x: x * 0 + 1, "long")
    spark.range(0, cpus, 1, cpus).select(ones("id")).write.mode(
        "overwrite"
    ).format("noop").save()


def time_oracles(
    names: list[str], sf_dir: str, cpus: int
) -> tuple[dict[str, float | None], list[str]]:
    """Best-of-N DuckDB timings for each query's oracle SQL on the same
    parquet — the 2x perf gate is defined against these, so the artifact
    carries them instead of a reader re-timing them by hand.

    Samples are interleaved across queries like the Spark samples:
    back-to-back per-query sampling lets one contention burst poison
    every sample of the queries it covers and makes the comparable
    ratio flattering-but-wrong. There is no warm pass. Expensive
    oracles (first sample >= 5s, e.g. the exact-Jaccard minhash ground
    truth) get a single sample; cheap ones get best-of-3 plus up to 2
    adaptive retries.

    Queries with no registered oracle map to None; so do oracles
    interrupted by ``duckdb_run``'s timeout, which are also returned
    in the second element so the caller can list them as heavy."""
    con = duckdb_views(sf_dir, cpus)
    timed_out: set[str] = set()

    def run(name: str) -> float | None:
        sql = registry.ORACLES.get(name)
        if sql is None:
            return None
        r = duckdb_run(con, sql)
        if r is None:
            timed_out.add(name)
            return None
        return r[0]

    best, _ = sample_interleaved(
        names, run, passes=3, retries=2, done=lambda s: s[0] >= 5.0, warm=False
    )
    con.close()
    return (
        {n: round(best[n], 3) if n in best else None for n in names},
        sorted(timed_out),
    )


def resident_tier(spark, names: list[str], sf_dir: str) -> dict[str, float]:
    """The SAME frozen headline set re-timed with base-table scans
    persisted in executor memory — the warehouse serving posture, and
    the symmetric counterpart of DuckDB's best-of-N reading warm OS
    page cache. Reported separately (value_resident /
    ratio_total_comparable_resident); the cold-scan "value" remains
    the comparable. The headline tier has registered exactly the scans
    these queries read; they are pinned once, before the first sample,
    and stay pinned: the runner releases only what a query pinned."""
    from etl_data_ingestion_spark.catalog import drop_plan_cache, persist_scans

    try:
        persist_scans(spark)
        return time_spark(spark, names, sf_dir, passes=2, retries=2)[0]
    finally:
        drop_plan_cache(spark)


def drift_baseline(
    path: str, sf: float | None, cpus: int
) -> dict[str, dict[str, float]]:
    """Per-lane query timings of the previous full artifact at ``path``
    ("0.1-main": headline + extended; scale-curve lanes by label), or
    {} unless it was recorded at the same sf AND the same cpus: a query
    timed on another core count moved for that reason, not for a plan
    change."""
    try:
        with open(path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return {}
    if prev.get("sf") != sf or prev.get("cpus") != cpus:
        return {}
    main_q = {n: v.get("spark") for n, v in prev.get("extended", {}).items()}
    main_q.update(prev.get("queries", {}))
    lanes = {"0.1-main": main_q}
    lanes.update(
        (label, lane.get("queries", {}))
        for label, lane in prev.get("scale_curve", {}).items()
    )
    return lanes


def _lane_drift(cur: dict, prev_q: dict) -> tuple[list[str], float | None]:
    """Drift alarm for one lane: the queries in ``cur`` >=2x slower than
    in ``prev_q``, and the lane's median movement.

    A lane-wide shift (host contention moves every query alike) is not
    a plan regression, so a query is flagged only if it also moved >=2x
    RELATIVE to the lane median, and ran >=1s (sub-second jitter can't
    trip it). The median itself is reported so a reader can see the
    contention."""
    moves = {
        n: t / prev_q[n] for n, t in cur.items() if prev_q.get(n) and prev_q[n] > 0
    }
    if not moves:
        return [], None
    med = sorted(moves.values())[len(moves) // 2]
    flagged = [
        n for n, m in moves.items() if cur[n] >= 1.0 and m >= 2.0 and m >= 2.0 * med
    ]
    return flagged, round(med, 3)


def scale_curve_tier(
    spark, sf_dir: str, names: list[str], cpus: int, baseline: dict
) -> tuple[dict[str, dict], list[str]]:
    """The comparable headline subset re-run cold at the other scale
    factors, with DuckDB timed on the same files: the "floor amortizes
    at scale" claim as an artifact. sf0.01 is looked up next to
    ``sf_dir``; sf0.3 / sf1 are deterministic local fixtures
    (tools/gen_scale.py, .scaledata/). A lane whose fixture dir is
    absent is skipped and named on stderr. Each lane has its own
    drift alarm against the same lane of ``baseline`` (from
    drift_baseline), because a plan regression at scale shows there
    first. Returns (lanes, drift
    entries as "sf<label>:<query>")."""
    curve_dirs = [
        ("0.01", os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")),
        ("0.3", os.path.join(HERE, ".scaledata/sf0.3")),
        ("1", os.path.join(HERE, ".scaledata/sf1")),
    ]
    lanes: dict[str, dict] = {}
    drift: list[str] = []
    for label, cdir in curve_dirs:
        if not names:
            break
        if not os.path.isdir(cdir):
            print(f"bench: scale lane sf{label} skipped, no {cdir}", file=sys.stderr)
            continue
        c_timings, _ = time_spark(spark, names, cdir, passes=2)
        c_duck, c_to = time_oracles(names, cdir, cpus)
        c_comp = [n for n in names if c_duck[n] and c_duck[n] < 5.0]
        c_drift, c_med = _lane_drift(c_timings, baseline.get(label, {}))
        drift.extend(f"sf{label}:{n}" for n in c_drift)
        spark_total = sum(c_timings[n] for n in c_comp)
        duck_total = sum(c_duck[n] for n in c_comp)
        lanes[label] = {
            "drift_over_2x": sorted(c_drift),
            "lane_median_move": c_med,
            "spark_total": round(spark_total, 3),
            "duckdb_total": round(duck_total, 3),
            "ratio": round(spark_total / duck_total, 2) if c_comp else None,
            "n_queries": len(c_comp),
            "queries": c_timings,
            "duckdb": {n: c_duck[n] for n in names},
            "timed_out_oracles": c_to,
        }
    return lanes, drift


def bucketed_q3_tier(spark, sf_dir: str, sf: float | None) -> dict[str, dict]:
    """tpch_q3 timed with lineitem/orders on stock parquet scans and
    stored bucketed+sorted on orderkey (enable_bucketed_facts), the two
    arms interleaved: the documented 100 TB default layout, where the
    fact-fact shuffle is paid once at write time. The bucket WRITE is
    untimed (reported separately). Runs at ``sf_dir`` and, when
    present, .scaledata/sf1."""
    from etl_data_ingestion_spark import catalog

    qname = "tpch_q3_shipping_priority"
    bkt_dirs = [(str(sf), sf_dir)]
    sf1_dir = os.path.join(HERE, ".scaledata/sf1")
    if os.path.isdir(sf1_dir) and os.path.abspath(sf_dir) != os.path.abspath(sf1_dir):
        bkt_dirs.append(("1", sf1_dir))
    out: dict[str, dict] = {}
    for label, bdir in bkt_dirs:
        try:
            t0 = time.perf_counter()
            catalog.enable_bucketed_facts(spark, bdir, 32)
            write_sec = round(time.perf_counter() - t0, 3)

            def arm(key: str) -> float:
                # the tables are written once; re-enabling only routes
                if key == "bucketed":
                    catalog.enable_bucketed_facts(spark, bdir, 32)
                else:
                    catalog.disable_bucketed_facts(spark)
                return round(run_query(spark, qname, bdir), 3)

            best, _ = sample_interleaved(["bucketed", "stock"], arm, passes=3)
            out[label] = {
                "stock": best["stock"],
                "bucketed": best["bucketed"],
                "n_buckets": 32,
                "write_sec_untimed": write_sec,
            }
        finally:
            catalog.disable_bucketed_facts(spark)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    registry.load_all()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = DEFAULT_CPUS
    cpus_effective = spark.sparkContext.defaultParallelism

    names = [n for n in HEADLINE if n in registry.QUERIES]
    warm_up(spark, sf_dir, cpus)
    timings, samples = time_spark(spark, names, sf_dir, passes=3, retries=2)
    total = round(sum(timings.values()), 3)
    spread = {
        name: round(max(runs) - min(runs), 3) for name, runs in samples.items()
    }
    res_timings = resident_tier(spark, names, sf_dir)
    total_resident = round(sum(res_timings.values()), 3)

    ext_names = [n for n in EXTENDED if n in registry.QUERIES]
    ext_timings, _ = time_spark(spark, ext_names, sf_dir, passes=2)

    # DuckDB oracle timings + ratios: the perf gate is spark/duckdb on
    # identical parquet, so the artifact carries both sides. Timed
    # after the Spark passes so the JVM is idle during DuckDB runs.
    # The extended totals and worst-offender tables go into the SHORT
    # line too (an offender outside the frozen headline otherwise
    # hides); the full per-query map goes to BENCH_FULL.json.
    duck, timed_out = time_oracles(names + ext_names, sf_dir, cpus)
    ext_total = round(sum(ext_timings.values()), 3)
    ext_duck_total = round(
        sum(duck[n] for n in ext_names if duck[n]), 3
    )
    # worst-5 by ratio among NON-floor-dominated queries (oracle >=
    # 50ms — below that, Spark's fixed ~0.3s scheduling floor makes
    # every ratio read as tens-of-x regardless of plan quality) plus
    # worst-5 by absolute Spark seconds (catches offenders whose
    # oracle is also slow, e.g. shared quadratic work).
    ext_worst_ratio = dict(
        sorted(
            (
                (n, round(ext_timings[n] / duck[n], 1))
                for n in ext_names
                if duck[n] and duck[n] >= 0.05
            ),
            key=lambda kv: -kv[1],
        )[:5]
    )
    ext_worst_abs = dict(
        sorted(ext_timings.items(), key=lambda kv: -kv[1])[:5]
    )
    # Drift alarm: any extended/headline query >=2x slower than the
    # previous committed full artifact (same sf and cpus) is named in
    # BOTH artifacts, so the next shared-helper regression is caught
    # by mechanism, not luck.
    full_path = os.path.join(HERE, "BENCH_FULL.json")
    baseline = drift_baseline(full_path, sf, cpus)
    drift, med = _lane_drift(
        {**timings, **ext_timings}, baseline.get("0.1-main", {})
    )
    drift_lane_median: dict[str, float | None] = (
        {"0.1-main": med} if baseline else {}
    )
    ratio = {
        name: (round(timings[name] / duck[name], 2) if duck[name] else None)
        for name in names
    }
    # "comparable" excludes two classes, both still reported per-query
    # under "ratio"/"duckdb":
    # - heavy oracles (>=5s, or interrupted — interrupted ones carry a
    #   None timing but ARE listed here, plus under timed_out_oracles):
    #   ground truth computed by a different brute-force algorithm
    #   (minhash's exact-Jaccard all-pairs: 93s in DuckDB vs 2s Spark
    #   at sf0.1; times out entirely at sf>=0.3). Including them would
    #   flatter the total.
    # - contract oracles: the oracle only re-states a self-check bound
    #   (constant-ish SELECT), not equivalent work — its sub-ms time
    #   makes the ratio meaningless in the other direction.
    contract = {"similarity_ivf_topk", "similarity_pq_rerank"}
    heavy = [
        n
        for n in names
        if (duck[n] and duck[n] >= 5.0)
        or (n in timed_out and registry.ORACLES.get(n) is not None)
    ]
    comparable = [
        n for n in names if duck[n] and n not in heavy and n not in contract
    ]
    rtc = (
        round(
            sum(timings[n] for n in comparable)
            / sum(duck[n] for n in comparable),
            2,
        )
        if comparable
        else None
    )
    rtc_resident = (
        round(
            sum(res_timings[n] for n in comparable)
            / sum(duck[n] for n in comparable),
            2,
        )
        if comparable
        else None
    )

    scale_curve, lane_drift = scale_curve_tier(
        spark, sf_dir, comparable, cpus, baseline
    )
    drift.extend(lane_drift)
    drift_lane_median.update(
        (label, lane["lane_median_move"]) for label, lane in scale_curve.items()
    )
    if comparable:
        scale_curve["0.1"] = {
            "spark_total": round(sum(timings[n] for n in comparable), 3),
            "duckdb_total": round(sum(duck[n] for n in comparable), 3),
            "ratio": rtc,
            "n_queries": len(comparable),
        }

    bucketed_q3 = bucketed_q3_tier(spark, sf_dir, sf)

    summary = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "samples": samples,
            "spread": spread,
            "duckdb": {n: duck[n] for n in names},
            "ratio": ratio,
            "heavy_oracles": heavy,
            "timed_out_oracles": timed_out,
            "contract_oracles": sorted(contract & set(names)),
            "extended": {
                n: {
                    "spark": ext_timings[n],
                    "duckdb": duck[n],
                    "ratio": (
                        round(ext_timings[n] / duck[n], 2) if duck[n] else None
                    ),
                }
                for n in ext_names
            },
            "ratio_total_comparable": rtc,
            "extended_total": ext_total,
            "extended_duckdb_total": ext_duck_total,
            "extended_worst_ratio": ext_worst_ratio,
            "extended_worst_abs": ext_worst_abs,
            "drift_over_2x": sorted(drift),
            "drift_lane_median_move": drift_lane_median,
            "value_resident": total_resident,
            "queries_resident": res_timings,
            "ratio_total_comparable_resident": rtc_resident,
            "scale_curve": scale_curve,
            "bucketed_q3": bucketed_q3,
            "sf": sf,
            "cpus": cpus,
            "cpus_effective": cpus_effective,
        }
    )
    # Persist the FULL artifact (committed as the drift baseline and
    # the extended-tier record — stdout tail capture only keeps the
    # short line below).
    try:
        with open(full_path, "w") as fh:
            fh.write(summary + "\n")
    except OSError:
        pass
    # The full summary line is ~2600+ chars; the driver's tail capture
    # keeps only the final 2000, so it always clips. The LAST line is
    # therefore a short summary that survives any tail capture and
    # carries the per-query headline map that per-query comparisons
    # across runs key on (~550 chars; the line stays under 2000).
    short = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "ratio_total_comparable": rtc,
            "value_resident": total_resident,
            "ratio_resident": rtc_resident,
            "scale_curve": {
                k: v.get("ratio") for k, v in sorted(scale_curve.items())
            },
            "n_queries": len(names),
            "ext_total": ext_total,
            "ext_duckdb_total": ext_duck_total,
            "ext_n": len(ext_names),
            "ext_worst_ratio": ext_worst_ratio,
            "ext_worst_abs": ext_worst_abs,
            "drift_over_2x": sorted(drift),
            "sf": sf,
            "cpus": cpus,
            "cpus_effective": cpus_effective,
        }
    )
    sys.stdout.write("\n" + summary + "\n" + short + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
