"""The catalog's front door: the per-session scan registry, resident
persistence, bucketed routing and the two AQE gates (small input,
small fact). Every
registry builder reads its tables through ``catalog.load_table``."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from operator import methodcaller

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrameWriter

from etl_data_ingestion_spark import catalog
from etl_data_ingestion_spark.session import child_session, tune_session

AQE = "spark.sql.adaptive.enabled"


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _copy_facts(spark, sf_dir, dst, lineitem_rows=None):
    """lineitem (optionally its first ``lineitem_rows`` rows) and orders
    of ``sf_dir`` under ``dst`` — enough for enable_bucketed_facts."""
    os.makedirs(dst)
    shutil.copyfile(
        catalog.table_path(sf_dir, "orders"), catalog.table_path(dst, "orders")
    )
    src = catalog.table_path(sf_dir, "lineitem")
    if lineitem_rows is None:
        shutil.copyfile(src, catalog.table_path(dst, "lineitem"))
    else:
        spark.read.parquet(src).limit(lineitem_rows).coalesce(1).write.parquet(
            catalog.table_path(dst, "lineitem")
        )
    return str(dst)


def _drop_tables(spark, tables):
    """Drop the bucketed catalog tables and delete their files."""
    for tbl in tables:
        loc = [
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
            if r.col_name == "Location"
        ]
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        for uri in loc:
            shutil.rmtree(uri.removeprefix("file:"), ignore_errors=True)


def test_resident_cache_weakref_keyed(spark, sf_dir):
    """persist_scans pins every scan the session registered;
    drop_plan_cache forgets and unpersists them."""
    catalog.drop_plan_cache(spark)
    try:
        a = catalog.load_table(spark, sf_dir, "nation")
        b = catalog.load_table(spark, sf_dir, "nation")
        assert a is b  # cached per live session object
        assert spark in catalog._SCANS
        assert catalog.persist_scans(spark) == 1
        assert a.is_cached
        catalog.drop_plan_cache(spark)
        assert spark not in catalog._SCANS
        assert not a.is_cached
        c = catalog.load_table(spark, sf_dir, "nation")
        assert c is not a
        assert not c.is_cached
    finally:
        catalog.drop_plan_cache(spark)


def test_registry_keys_on_effective_fan_out(spark, sf_dir):
    """parallel=True on a table the catalog never fans out returns the
    one registered scan instead of building a second, identical one."""
    s = tune_session(spark.newSession())
    assert catalog.load_table(s, sf_dir, "customer", True) is catalog.load_table(
        s, sf_dir, "customer"
    )
    assert len(catalog._SCANS[s]) == 1


def test_no_private_conf_key_steers_the_engine():
    """The engine reads and writes no conf of its own namespace: the
    session contract is session.SESSION_CONFS, nothing else."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(repo, "bench.py"), os.path.join(repo, "__spark_entry__.py")]
    for top in ("etl_data_ingestion_spark", "tools"):
        for root, _, files in os.walk(os.path.join(repo, top)):
            paths += [os.path.join(root, f) for f in files if not f.endswith(".pyc")]
    hits = []
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            hits += [
                f"{os.path.relpath(path, repo)}:{i}"
                for i, line in enumerate(fh, 1)
                if "spark.etl." in line
            ]
    assert hits == []


def test_only_session_py_writes_conf():
    """Session conf is written in one module: session.py
    (tune_session and child_session). Anything else that needs other
    confs runs on a child session."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_data_ingestion_spark",
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if ".conf.set(" in fh.read():
                        hits.append(os.path.relpath(path, pkg))
    assert hits == ["session.py"]


def test_operators_pin_through_the_catalog():
    """Builders persist and checkpoint only through catalog.cached and
    catalog.checkpointed, the calls a query scope records for release."""
    import re

    ops = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_data_ingestion_spark", "operators",
    )
    pin = re.compile(r"\.persist\(|\.cache\(|localCheckpoint\(")
    hits = []
    for f in sorted(os.listdir(ops)):
        if f.endswith(".py"):
            with open(os.path.join(ops, f), encoding="utf-8") as fh:
                hits += [f"{f}:{n}" for n, line in enumerate(fh, 1) if pin.search(line)]
    assert hits == []


def test_plan_cache_semantics(spark, sf_dir):
    """Scan registry: same plan object per (session, table);
    drop_plan_cache invalidates."""
    catalog.drop_plan_cache(spark)
    a = catalog.load_table(spark, sf_dir, "region")
    b = catalog.load_table(spark, sf_dir, "region")
    assert a is b
    catalog.drop_plan_cache(spark)
    c = catalog.load_table(spark, sf_dir, "region")
    assert c is not a


def test_table_reads_leave_session_conf_alone(spark, sf_dir):
    """Reading any table, with or without the scan fan-out, writes
    nothing to the session's conf: a tuned session already carries
    every conf a read depends on."""
    s = tune_session(spark.newSession())
    before = dict(s.conf.getAll)
    for name in catalog.TABLES:
        for parallel in (False, True):
            catalog.load_table(s, sf_dir, name, parallel)
    after = dict(s.conf.getAll)
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    assert changed == {}


def test_bucketed_reenable_routes_without_rewrite(spark, sf_dir, tmp_path, monkeypatch):
    """disable_bucketed_facts keeps the written tables, so a second
    enable routes load_table to them again without writing."""
    bdir = _copy_facts(spark, sf_dir, tmp_path / "sf")
    writes: list[str] = []
    orig = DataFrameWriter.saveAsTable

    def counted(self, name, *a, **kw):
        writes.append(name)
        return orig(self, name, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", counted)
    tables = catalog.enable_bucketed_facts(spark, bdir, n_buckets=4)
    try:
        assert len(writes) == 2
        catalog.disable_bucketed_facts(spark)
        li = catalog.load_table(spark, bdir, "lineitem")
        assert tables["lineitem"] not in _exec_plan(li)
        assert catalog.enable_bucketed_facts(spark, bdir, n_buckets=4) == tables
        assert len(writes) == 2
        li = catalog.load_table(spark, bdir, "lineitem")
        assert tables["lineitem"] in _exec_plan(li)
    finally:
        catalog.disable_bucketed_facts(spark)
        _drop_tables(spark, tables.values())


def test_bucketed_tables_keyed_by_absolute_dir(spark, sf_dir, tmp_path):
    """Two sf dirs with the same basename get their own bucketed
    tables: enabling the second must not overwrite the first's."""
    x = _copy_facts(spark, sf_dir, tmp_path / "x" / "sf0.001", lineitem_rows=50)
    y = _copy_facts(spark, sf_dir, tmp_path / "y" / "sf0.001", lineitem_rows=70)
    tables = set()
    try:
        tables |= set(catalog.enable_bucketed_facts(spark, x, n_buckets=4).values())
        tables |= set(catalog.enable_bucketed_facts(spark, y, n_buckets=4).values())
        assert catalog.load_table(spark, x, "lineitem").count() == 50
        assert catalog.load_table(spark, y, "lineitem").count() == 70
    finally:
        catalog.disable_bucketed_facts(spark)
        _drop_tables(spark, tables)


def test_small_fact_aqe_gate_unknown_paths_keep_aqe_on(spark, tmp_path):
    """The gate treats non-local URIs / missing paths / 0-byte walks
    as unknown/LARGE and hands back the caller's own session, AQE on
    (os.walk yields nothing for s3://, and reading that as 'tiny
    input' would turn AQE off at cluster scale)."""
    empty = tmp_path / "lineitem.parquet"
    empty.mkdir()
    for bogus in ("s3://bucket/prefix", "/nonexistent/path", str(tmp_path)):
        assert catalog.small_fact_session(spark, bogus, "lineitem") is spark
    assert spark.conf.get(AQE) == "true"


def test_gate_v2_sizes_partitions_from_footprint(spark, sf_dir):
    """The gate's child plans statically with shuffle partitions sized
    from the fact footprint (~4 MiB/partition, floor 8, NEVER above
    the caller's), one child per (caller, count); a caller with AQE
    already off keeps its own session; no caller conf is written."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.getAll
    fact = os.path.join(sf_dir, "lineitem.parquet")
    fact_bytes = (
        os.path.getsize(fact)
        if os.path.isfile(fact)
        else sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(fact)
            for f in fs
        )
    )
    derived = min(int(spark.conf.get(key)), max(8, fact_bytes // (4 << 20)))
    child = catalog.small_fact_session(spark, sf_dir, "lineitem")
    assert child is not spark
    assert child.conf.get(AQE) == "false"
    assert child.conf.get(key) == str(derived)
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"
    assert catalog.small_fact_session(spark, sf_dir, "lineitem") is child
    narrow = child_session(spark, {key: "3"})
    assert catalog.small_fact_session(narrow, sf_dir, "lineitem").conf.get(key) == "3"
    static = child_session(spark, {AQE: "false"})
    assert catalog.small_fact_session(static, sf_dir, "lineitem") is static
    assert spark.conf.getAll == before


def test_drop_plan_cache_drops_the_gate_children(spark, sf_dir):
    """drop_plan_cache forgets the caller's gate children and their
    scans; the next gated call builds a new child."""
    caller = child_session(spark, {})
    child = catalog.small_fact_session(caller, sf_dir, "lineitem")
    catalog.load_table(child, sf_dir, "lineitem")
    assert child in catalog._SCANS
    catalog.drop_plan_cache(caller)
    assert caller not in catalog._CHILDREN and child not in catalog._SCANS
    assert catalog.small_fact_session(caller, sf_dir, "lineitem") is not child


def test_registry_gate_decision(spark, sf_dir, empty_dir):
    """A registered query builds on a cached one-partition static child
    when the caller's AQE is on and the sf dir's tables total at most
    GATE_BYTES_PER_PARTITION (sf0.001, 0-row tables), and on the
    caller otherwise (sf0.1, an AQE-off caller). The caller's conf is
    never written; the gated frame runs without AdaptiveSparkPlan,
    the module's own builder on the caller with it."""
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    before = spark.conf.getAll
    child = catalog.small_input_session(spark, sf_dir)
    assert child is not spark
    assert child.conf.get(AQE) == "false"
    assert child.conf.get("spark.sql.shuffle.partitions") == "1"
    assert catalog.small_input_session(spark, sf_dir) is child
    assert catalog.small_input_session(spark, empty_dir) is child
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    assert catalog.small_input_session(spark, sf01) is spark
    static = child_session(spark, {AQE: "false"})
    assert catalog.small_input_session(static, sf_dir) is static
    q1 = registry.QUERIES["tpch_q1_pricing_summary"]
    gated, direct = q1(spark, sf_dir), q1.__wrapped__(spark, sf_dir)
    assert sorted(gated.collect()) == sorted(direct.collect())
    assert "AdaptiveSparkPlan" not in _exec_plan(gated)
    assert "AdaptiveSparkPlan" in _exec_plan(direct)
    assert spark.conf.getAll == before


def test_gate_child_is_made_once_under_concurrent_calls(spark, sf_dir):
    """Threads that gate one caller at the same time, more of them than
    cores, all get the one cached child."""
    caller = child_session(spark, {})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(
                pool.map(
                    lambda _: catalog.small_input_session(caller, sf_dir), range(8), timeout=120
                )
            )
    finally:
        sys.setswitchinterval(interval)
        children = catalog._CHILDREN.get(caller, {})
        catalog.drop_plan_cache(caller)
    assert len({id(s) for s in got}) == 1
    assert list(children.values()) == [got[0]]


# The builders planned on catalog.small_fact_session, with their Spark
# jobs per query at sf0.001 on a second call (first-read
# jobs are not counted), the builder's own eager jobs included. At
# sf0.001 the registry plans them on the one-partition child of
# catalog.small_input_session.
GATED_JOBS = {
    "graph_kcore_peel": 6,
    "ml_item_item_cf": 2,
    "graph_assortativity": 4,
    "dedup_end_to_end_canonical": 17,
}


def test_gated_builders_leave_the_caller_adaptive(spark, sf_dir, monkeypatch):
    """While a gated builder reads its tables the caller's AQE stays
    on, and the frame it returns, collected after it returned, runs a
    non-adaptive plan."""
    from etl_data_ingestion_spark.operators import dedup, graph, mlops
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    seen = []
    for mod in (graph, mlops, dedup):

        def recording(*args, _real=mod.load_table, **kwargs):
            seen.append(spark.conf.get(AQE))
            return _real(*args, **kwargs)

        monkeypatch.setattr(mod, "load_table", recording)
    for name in GATED_JOBS:
        seen.clear()
        df = registry.QUERIES[name](spark, sf_dir)
        assert seen and set(seen) == {"true"}, (name, seen)
        df.collect()
        assert "AdaptiveSparkPlan" not in _exec_plan(df), name
        spark.catalog.clearCache()


@pytest.mark.usefixtures("no_persisted")
def test_gated_jobs_per_query(spark, sf_dir):
    """Each gated query runs a fixed number of Spark jobs, counted by
    registry.run on its second run: an eager job that slips back into a
    builder, or a child session that re-reads a schema per call, fails
    here."""
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    jobs = {}
    for query in GATED_JOBS:
        registry.run(spark, query, sf_dir, methodcaller("collect"))
        jobs[query] = registry.run(spark, query, sf_dir, methodcaller("collect")).jobs
    assert jobs == GATED_JOBS


def _stored_rdds(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.usefixtures("no_persisted")
def test_run_keeps_the_resident_scans(spark, sf_dir):
    """registry.run releases only what its query pinned: the scans
    persist_scans pinned stay cached and stored after a headline query
    and a query that persists its own intermediates."""
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    session = child_session(spark, {})  # a scan registry of its own
    planned = catalog.small_input_session(session, sf_dir)  # where the queries build
    try:
        registry.run(session, "tpch_q3_shipping_priority", sf_dir, registry.NOOP)
        assert catalog.persist_scans(session) == 3
        scans = list(catalog._SCANS[planned].values())
        stored = _stored_rdds(session)
        for name in ("tpch_q3_shipping_priority", "agg_theil_inequality"):
            registry.run(session, name, sf_dir, registry.NOOP)
        assert all(df.is_cached for df in scans)
        assert all(df.storageLevel != StorageLevel.NONE for df in scans)
        assert stored <= _stored_rdds(session)
    finally:
        catalog.drop_plan_cache(session)


@pytest.mark.usefixtures("no_persisted")
def test_run_releases_only_what_it_cached(spark, sf_dir):
    """A builder's cached() relation is released after the run, unless
    the CacheManager already held its plan before the run: that entry
    stays in place."""
    from etl_data_ingestion_spark.plans import registry

    def nation(s, d):
        return s.read.parquet(catalog.table_path(d, "nation"))

    def build(s, d):
        return catalog.cached(nation(s, d)).groupBy("n_regionkey").count()

    collect = methodcaller("collect")
    registry.run(spark, "cached_probe", sf_dir, collect, build)
    assert nation(spark, sf_dir).storageLevel == StorageLevel.NONE

    held = catalog.cached(nation(spark, sf_dir))  # outside the run's scope
    held.count()
    try:
        stored = _stored_rdds(spark)
        registry.run(spark, "cached_probe", sf_dir, collect, build)
        assert held.storageLevel != StorageLevel.NONE
        assert _stored_rdds(spark) == stored
    finally:
        held.unpersist()


def test_each_test_body_runs_in_a_query_scope():
    """conftest's autouse release_pins: builders a test calls directly
    record their pins, which are released when the test ends."""
    assert catalog._PINNED.get() is not None
