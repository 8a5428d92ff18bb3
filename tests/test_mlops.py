"""ML-evaluation / dataset-construction operator tests: AUC against
a brute-force rank computation, calibration bin algebra, ES-sampling
weight bias, association-rule identities, and grouped-fold leakage."""

from __future__ import annotations

from collections import defaultdict

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_auc_matches_bruteforce_pairwise(spark, sf_dir):
    row = registry.QUERIES["ml_auc_roc_exact"](spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "value", "event_type"
    ).collect()
    import math

    def half_up(v):  # Spark/DuckDB ROUND, unlike Python's half-even
        return math.floor(v * 10 + 0.5) / 10

    pos = [half_up(r.value) for r in ev if r.event_type == "purchase"]
    neg = [half_up(r.value) for r in ev if r.event_type != "purchase"]
    neg_sorted = sorted(neg)
    import bisect

    credit = 0.0
    for s in pos:
        lo = bisect.bisect_left(neg_sorted, s)
        hi = bisect.bisect_right(neg_sorted, s)
        credit += lo + 0.5 * (hi - lo)
    want = credit / (len(pos) * len(neg))
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - want) < 1e-6


def test_calibration_bins_partition_events(spark, sf_dir):
    rows = registry.QUERIES["ml_calibration_brier"](spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_predicted <= 1.0
        assert 0.0 <= r.observed_rate <= 1.0
        assert abs(r.abs_gap - abs(r.mean_predicted - r.observed_rate)) < 2e-6


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    rows = registry.QUERIES["pipeline_weighted_sample_wor"](spark, sf_dir).collect()
    per_lang = defaultdict(list)
    for r in rows:
        per_lang[r.lang].append(r)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "n_chars"
    ).collect()
    mean_chars = defaultdict(list)
    for d in docs:
        mean_chars[d.lang].append(d.n_chars)
    # sampling is weight-proportional: across strata, the sampled mean
    # length should exceed the population mean in aggregate
    samp = [r.n_chars for rs in per_lang.values() for r in rs]
    pop = [c for cs in mean_chars.values() for c in cs]
    assert sum(samp) / len(samp) > sum(pop) / len(pop)
    for lang, rs in per_lang.items():
        assert len(rs) == len({r.doc_id for r in rs})  # no replacement
        assert [r.rnk for r in sorted(rs, key=lambda r: r.rnk)] == list(
            range(1, len(rs) + 1)
        )


def test_association_rules_identities(spark, sf_dir):
    rows = registry.QUERIES["basket_association_rules"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.pair_orders >= 25
        assert 0 < r.support <= 1
        assert 0 < r.confidence <= 1
        # lift = confidence / P(consequent) => lift * support_c = conf
        assert r.lift > 0
    # symmetric pair counts: a->b and b->a share pair_orders
    by_pair = {(r.antecedent, r.consequent): r.pair_orders for r in rows}
    for (a, b), c in by_pair.items():
        if (b, a) in by_pair:
            assert by_pair[(b, a)] == c


def test_kfold_grouped_audits_hold(spark, sf_dir):
    rows = registry.QUERIES["pipeline_kfold_grouped"](spark, sf_dir).collect()
    assert {r.fold for r in rows} <= set(range(5))
    for r in rows:
        assert r.coverage_ok and r.groups_disjoint


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = registry.QUERIES["ml_bootstrap_ci_poisson"](spark, sf_dir).collect()[0]
    assert row.n_replicates == 50
    assert row.ci_lo < row.ci_hi
    assert row.ci_contains_mean
    assert row.ci_lo <= row.mean_value <= row.ci_hi
    # CI width should be a small fraction of the mean at n~6k rows
    assert (row.ci_hi - row.ci_lo) < 0.5 * row.mean_value


def test_contamination_curve_decays_with_n(spark, sf_dir):
    rows = registry.QUERIES["pipeline_contamination_curve"](spark, sf_dir).collect()
    by_n = {r.n: r for r in rows}
    assert set(by_n) == {1, 2, 3}
    for r in rows:
        assert 0.0 <= r.contamination_rate <= 1.0
        assert r.shared_grams <= r.bench_grams
    # overlap can only decay (weakly) as n grows
    assert by_n[1].contamination_rate >= by_n[2].contamination_rate
    assert by_n[2].contamination_rate >= by_n[3].contamination_rate


def test_backtest_scores_are_consistent(spark, sf_dir):
    row = registry.QUERIES["timeseries_backtest_mape"](spark, sf_dir).collect()[0]
    assert row.n_days > 0
    assert row.mape_seasonal > 0 and row.mape_naive > 0
    skill = 1 - row.mape_seasonal / row.mape_naive
    assert abs(row.skill_vs_naive - skill) < 1e-4


def test_markov_stationary_is_a_distribution(spark, sf_dir):
    rows = registry.QUERIES["events_markov_stationary"](spark, sf_dir).collect()
    assert rows
    total = sum(r.stationary_prob for r in rows)
    assert abs(total - 1.0) < 1e-3
    for r in rows:
        assert 0.0 <= r.stationary_prob <= 1.0
    # 4 power-iteration steps on a dense small chain should converge
    assert rows[0].l1_residual < 0.05


def test_benford_digits_and_chi2(spark, sf_dir):
    rows = registry.QUERIES["agg_benford_first_digit"](spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_freq for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.expected_freq for r in rows) - 1.0) < 1e-3
    assert all(r.chi2_stat == rows[0].chi2_stat for r in rows)
    assert rows[0].chi2_stat >= 0


def test_filter_funnel_accounting(spark, sf_dir):
    row = registry.QUERIES["pipeline_filter_funnel_report"](spark, sf_dir).collect()[0]
    assert row.accounting_ok
    assert (
        row.drop_too_short
        + row.drop_low_alpha
        + row.drop_low_stopword
        + row.n_surviving
        == row.n_total
    )
    assert 0.0 <= row.survival_rate <= 1.0


def test_heaps_fit_is_sublinear_growth(spark, sf_dir):
    row = registry.QUERIES["text_heaps_vocab_growth"](spark, sf_dir).collect()[0]
    assert row.vocab_size <= row.total_tokens
    assert 0.0 < row.heaps_beta <= 1.05
    assert row.heaps_k > 0
    assert row.fit_r2 > 0.8  # smooth growth curve fits well


def test_peak_concurrency_bounds(spark, sf_dir):
    rows = registry.QUERIES["events_peak_concurrency_daily"](spark, sf_dir).collect()
    assert rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    import pyspark.sql.functions as F

    per_day = {
        r.day: r.n
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert 1 <= r.peak_concurrency <= per_day[r.day]


def test_chi2_independence_shape(spark, sf_dir):
    row = registry.QUERIES["agg_chi2_independence"](spark, sf_dir).collect()[0]
    assert row.dof == (row.n_types - 1) * (row.n_days - 1)
    assert row.chi2_stat >= 0
    assert row.n_days <= 7


def test_pmi_pairs_ordered_and_bounded(spark, sf_dir):
    rows = registry.QUERIES["text_pmi_cooccurrence"](spark, sf_dir).collect()
    assert rows
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r.term_a < r.term_b
        assert r.pair_docs >= 20


def test_max_drawdown_nonnegative(spark, sf_dir):
    row = registry.QUERIES["timeseries_max_drawdown"](spark, sf_dir).collect()[0]
    assert row.max_drawdown >= 0
    assert row.n_days > 0
    assert row.trough_day is not None
