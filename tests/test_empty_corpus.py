"""Empty-corpus robustness contracts.

Some bugs fire only when a whole intermediate relation is empty, which
no populated fixture exercises: the threshold-curve aggregates once
returned NULL where the oracle emits 0. tests/test_parity.py checks the
full registry against its oracles on 0-row base tables, with the
designed raises and the divergence below as its named exceptions; this
file pins the CONTRACTS behind that sweep's values, so a plan change
cannot silently regress them:

  1. summary queries emit the oracle's zero/NULL summary row (not
     zero rows, not NULL-where-0);
  2. per-row report queries emit zero rows (not all-NULL anchors);
  3. pure-contract domains (decile report) emit their full literal
     domain with vacuous TRUE;
  4. the engine-semantic ROLLUP/CUBE divergence the README documents
     (Spark emits no grand-total row over empty input; the SQL
     standard and DuckDB emit one) stays what the docs claim — if
     Spark ever changes this, the pin flips, and the README note and
     tests/test_parity.py's ENGINE_SEMANTIC_DIVERGENCES must be
     retired.
"""

from __future__ import annotations

import os

import pytest

from etl_data_ingestion_spark.plans import registry


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def _run(spark, name, empty_dir):
    return registry.QUERIES[name](spark, empty_dir).collect()


def test_summary_queries_emit_zero_row_not_nothing(spark, empty_dir):
    rows = _run(spark, "dedup_simhash", empty_dir)
    assert len(rows) == 1
    assert rows[0]["planted_total"] == 0
    assert rows[0]["planted_found"] == 0

    rows = _run(spark, "agg_durbin_watson_daily", empty_dir)
    assert len(rows) == 1
    assert rows[0]["n_days"] == 0
    assert rows[0]["dw_stat"] is None

    rows = _run(spark, "events_exp_gap_fit", empty_dir)
    assert len(rows) == 1
    assert rows[0]["n_gaps"] == 0


def test_boolean_selfchecks_vacuously_true(spark, empty_dir):
    row = _run(spark, "text_compression_ratio", empty_dir)[0]
    assert row["repeated_more_compressible"] is True
    assert row["ratios_in_range"] is True
    row = _run(spark, "agg_theta_sketch_setops", empty_dir)[0]
    assert (row["union_ok"], row["intersect_ok"], row["diff_ok"]) == (
        True,
        True,
        True,
    )


def test_report_queries_emit_no_anchor_rows(spark, empty_dir):
    assert _run(spark, "timeseries_holt_trend", empty_dir) == []
    assert _run(spark, "ml_roc_curve_points", empty_dir) == []
    assert _run(spark, "pipeline_filter_funnel_report", empty_dir) == []


def test_contract_domain_queries_emit_full_domain(spark, empty_dir):
    rows = _run(spark, "window_percentile_bucket_scalable", empty_dir)
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert all(r["size_within_2pct"] for r in rows)
    rows = _run(spark, "embedding_pca_power_iteration", empty_dir)
    assert len(rows) == 64
    assert all(r["loading"] is None for r in rows)


def test_rollup_engine_semantic_pin(spark, empty_dir):
    """The documented deviation's factual basis: Spark ROLLUP/CUBE
    over empty input emits zero rows (DuckDB emits the grand-total
    row). If this ever flips, retire the README note and
    tests/test_parity.py's ENGINE_SEMANTIC_DIVERGENCES."""
    empty = spark.read.parquet(os.path.join(empty_dir, "orders.parquet"))
    empty.createOrReplaceTempView("_empty_orders_pin")
    n = spark.sql(
        "SELECT o_orderstatus, count(*) c FROM _empty_orders_pin "
        "GROUP BY ROLLUP(o_orderstatus)"
    ).count()
    assert n == 0
    assert _run(spark, "agg_rollup_status_priority", empty_dir) == []
