"""The oracle check in plans/parity.py: its canon and comparison without
Spark, then every registered query against its oracle twice: on the
populated fixture in a child session with a layout no builder was
tuned for (AQE off, 3 shuffle partitions), and on 0-row base tables in
the tuned session, where the registry plans them on its one-partition
static child. Last, the small-fact-gated builders on an AQE-on
caller, where that gate engages. Every query leaves as many persisted
RDDs as it found: ``registry.run`` releases what it pinned. ``pytest
tests/test_parity.py -k <query>`` checks one query."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from etl_data_ingestion_spark import catalog
from etl_data_ingestion_spark.plans import parity, registry
from etl_data_ingestion_spark.session import child_session

registry.load_all()

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


# The four builders planned on catalog.small_fact_session.
GATED_QUERIES = [
    "graph_kcore_peel", "ml_item_item_cf", "graph_assortativity", "dedup_end_to_end_canonical",
]
LAYOUT = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"}
NAMES = [pytest.param(name, id=name) for name in registry.query_names()]

# On 0-row base tables (tools/gen_empty.py) a query matches its oracle,
# with these exceptions.
# Documented loud failures on degenerate input: query name -> text its
# raise must contain. A query enters only once its docstring states the
# contract: the ANN index builds (an index over an empty corpus has no
# meaningful self-check) and the bounded-corpus GEMM device (top-2
# margin undefined under 3 vectors), as in the README's
# degenerate-corpus exception list.
EXPECTED_RAISES: dict[str, str] = {
    "similarity_ivf_topk": "IVF quantizer requires a non-empty corpus",
    "similarity_index_persist_reuse": "IVF quantizer requires a non-empty corpus",
    "similarity_pq_rerank": "PQ codebook training requires a non-empty corpus",
    "similarity_topk_lsh": "requires a non-empty corpus to fit the LSH",
    "similarity_ratio_margin": "GEMM devices require >= 3 corpus vectors",
}
# Documented engine-semantic divergences (README "deliberate
# deviations"): Spark's ROLLUP/CUBE/GROUPING SETS emit NO rows over an
# empty input, where the SQL standard (and DuckDB) emit the grand-total
# row. Plain spark.sql does the same (tests/test_empty_corpus.py pins
# it), so it is the engine, not the plan shape; matching it would need a
# second scan or a persist on hot rollup plans.
ENGINE_SEMANTIC_DIVERGENCES: set[str] = {
    "agg_rollup_status_priority",
    "agg_cube_flag_status",
    "agg_grouping_id_rollup",
}


def persisted(spark) -> int:
    """Persisted RDDs on the session's context."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.fixture(scope="module")
def con(sf_dir):
    con = parity.duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def layout(spark):
    return child_session(spark, LAYOUT)


@pytest.mark.usefixtures("no_persisted")
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle_on_a_non_default_layout(spark, sf_dir, con, layout, name):
    parent = {k: spark.conf.get(k) for k in LAYOUT}
    before, rdds = layout.conf.getAll, persisted(spark)
    v = parity.check(layout, con, name, sf_dir)
    assert v.status == parity.OK, (v.detail, v.error)
    assert layout.conf.getAll == before
    assert {k: spark.conf.get(k) for k in LAYOUT} == parent
    assert persisted(spark) == rdds


@pytest.fixture(scope="module")
def empty_con(empty_dir):
    con = parity.duckdb_views(empty_dir)
    yield con
    con.close()


@pytest.mark.usefixtures("no_persisted")
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle_on_empty_tables(spark, empty_dir, empty_con, name):
    before, rdds = spark.conf.getAll, persisted(spark)
    v = parity.check(spark, empty_con, name, empty_dir)
    if name in EXPECTED_RAISES:
        assert (v.status, v.detail) == (parity.FAIL, "spark raised"), v
        assert EXPECTED_RAISES[name] in v.error
    elif name in ENGINE_SEMANTIC_DIVERGENCES:
        assert (v.status, v.rows, v.detail) == (parity.FAIL, 0, "rows 0 != 1"), v
    else:
        assert v.status == parity.OK, (v.detail, v.error)
    assert spark.conf.getAll == before
    assert persisted(spark) == rdds


@pytest.fixture(scope="module")
def adaptive(spark):
    """A tuned caller on the default layout (AQE on) that no gated
    builder has run on yet."""
    return child_session(spark, {})


@pytest.mark.usefixtures("no_persisted")
@pytest.mark.parametrize("name", GATED_QUERIES)
def test_gated_query_matches_oracle_with_the_gate_engaged(sf_dir, con, adaptive, name):
    """On an AQE-on caller the small-fact gate plans on its own child
    session: the result still matches the oracle, the caller's conf is
    the same after the query's first call as before it, and the
    persists the builder made on the child are released. The module's
    own builder runs, not the registry's gated one, which would plan on
    the one-partition child before the small-fact gate is reached."""
    assert adaptive.conf.get("spark.sql.adaptive.enabled") == "true"
    before, rdds = adaptive.conf.getAll, persisted(adaptive)
    v = parity.check(adaptive, con, name, sf_dir, registry.QUERIES[name].__wrapped__)
    assert v.status == parity.OK, (v.detail, v.error)
    assert adaptive.conf.getAll == before
    assert persisted(adaptive) == rdds
    assert catalog._CHILDREN.get(adaptive), "the gate did not engage"
