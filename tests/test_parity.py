"""The oracle check in plans/parity.py: its canon and comparison without
Spark, then whole queries against their oracles on a non-default
layout (AQE off, 3 shuffle partitions) in a child session, and the
small-fact-gated queries on an AQE-on caller, where the gate engages."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from etl_data_ingestion_spark import catalog
from etl_data_ingestion_spark.plans import parity, registry
from etl_data_ingestion_spark.session import child_session

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
# and the four builders planned on catalog.small_fact_session, on a
# layout no builder was tuned for.
GATED_QUERIES = [
    "graph_kcore_peel", "ml_item_item_cf", "graph_assortativity", "dedup_end_to_end_canonical",
]
LAYOUT_QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q6_forecast_revenue",
    "window_running_total", "join_asof_purchase_view", "stream_tumbling_hourly",
    "subquery_correlated_avg_qty", "dedup_minhash_lsh", "graph_adamic_adar_topk",
    "graph_triangle_count", "graph_link_prediction", "graph_local_clustering_coeff",
    "graph_label_propagation_2round", "graph_ktruss_edge_support", *GATED_QUERIES,
]
LAYOUT = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"}


@pytest.fixture(scope="module")
def con(sf_dir):
    registry.load_all()
    con = parity.duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def layout(spark):
    return child_session(spark, LAYOUT)


@pytest.mark.parametrize("name", LAYOUT_QUERIES)
def test_query_matches_oracle_on_a_non_default_layout(spark, sf_dir, con, layout, name):
    parent = {k: spark.conf.get(k) for k in LAYOUT}
    before = layout.conf.getAll
    v = parity.check(layout, con, name, sf_dir)
    assert v.status == parity.OK, (v.detail, v.error)
    assert layout.conf.getAll == before
    assert {k: spark.conf.get(k) for k in LAYOUT} == parent


@pytest.fixture(scope="module")
def adaptive(spark):
    """A tuned caller on the default layout (AQE on) that no gated
    builder has run on yet."""
    return child_session(spark, {})


@pytest.mark.parametrize("name", GATED_QUERIES)
def test_gated_query_matches_oracle_with_the_gate_engaged(sf_dir, con, adaptive, name):
    """On an AQE-on caller the gate plans on its own child session: the
    result still matches the oracle and the caller's conf is the same
    after the query's first call as before it."""
    assert adaptive.conf.get("spark.sql.adaptive.enabled") == "true"
    before = adaptive.conf.getAll
    v = parity.check(adaptive, con, name, sf_dir)
    assert v.status == parity.OK, (v.detail, v.error)
    assert adaptive.conf.getAll == before
    assert catalog._CHILDREN.get(adaptive), "the gate did not engage"
