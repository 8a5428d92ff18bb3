"""The oracle check in plans/parity.py: its canon and comparison without
Spark, then whole queries against their oracles on a non-default
layout (AQE off, 3 shuffle partitions) in a child session."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from etl_data_ingestion_spark.plans import parity, registry
from etl_data_ingestion_spark.session import tune_session

canon = parity.canon_cell
LONG = np.arange(2000.0)


@pytest.mark.parametrize("a, b", [
    (np.array([0.123456789012, 1.0]), np.array([0.1234567891, 1.0])),  # 10th digit
    (LONG, np.where(LONG == 1000.0, -1.0, LONG)),  # middle of a long array
    (0.0, 0),
])
def test_canon_tells_apart(a, b):
    assert canon(a) != canon(b)


@pytest.mark.parametrize("v, want", [
    (None, "∅"),
    (float("nan"), "∅"),
    (b"\x00\xff", "00ff"),
    (datetime.date(2024, 1, 2), "2024-01-02"),
    (datetime.datetime(2024, 1, 2, 3, 4, 5), "2024-01-02T03:04:05"),
    (np.array([1.5, None]), "[1.5,∅]"),
])
def test_canon_renders(v, want):
    assert canon(v) == want


def test_compare_reasons():
    want = pd.DataFrame({"k": [1, 2], "x": [0.5, None]})
    assert parity.compare(want[["x", "k"]], want) is None
    assert parity.compare(pd.DataFrame({"k": [2, 1], "x": [float("nan"), 0.5]}), want) is None
    assert parity.compare(want.rename(columns={"x": "y"}), want).startswith("columns")
    assert parity.compare(want.head(1), want) == "rows 1 != 2"
    reason = parity.compare(pd.DataFrame({"k": [1, 2], "x": [0.25, None]}), want)
    assert reason == "values differ, first: ('1', '0.25') != ('1', '0.5')"


# The analytics workload's nine queries, the other edge_build callers
# and the four builders that run under catalog.small_fact_aqe_gate, on
# a layout no builder was tuned for.
LAYOUT_QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q6_forecast_revenue",
    "window_running_total", "join_asof_purchase_view", "stream_tumbling_hourly",
    "subquery_correlated_avg_qty", "dedup_minhash_lsh", "graph_adamic_adar_topk",
    "graph_triangle_count", "graph_link_prediction", "graph_local_clustering_coeff",
    "graph_label_propagation_2round", "graph_ktruss_edge_support",
    "graph_kcore_peel", "ml_item_item_cf", "graph_assortativity", "dedup_end_to_end_canonical",
]
LAYOUT = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"}


@pytest.fixture(scope="module")
def layout(spark, sf_dir):
    registry.load_all()
    child = tune_session(spark.newSession())
    for k, v in LAYOUT.items():
        child.conf.set(k, v)
    con = parity.duckdb_views(sf_dir)
    yield child, con
    con.close()


@pytest.mark.parametrize("name", LAYOUT_QUERIES)
def test_query_matches_oracle_on_a_non_default_layout(spark, sf_dir, layout, name):
    child, con = layout
    parent = {k: spark.conf.get(k) for k in LAYOUT}
    before = child.conf.getAll
    v = parity.check(child, con, name, sf_dir)
    assert v.status == parity.OK, (v.detail, v.error)
    assert child.conf.getAll == before
    assert {k: spark.conf.get(k) for k in LAYOUT} == parent
