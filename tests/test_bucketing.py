"""Bucketed-table co-located join: the shuffle-elimination receipt.

PLANS.md claims "with bucketed tables on the join key, both exchanges
disappear" — this test writes orders/lineitem bucketed by the join
key and proves the sort-merge join plan contains ZERO shuffle
exchanges. At 100 TB this is the difference between re-shuffling two
fact tables per join and reading pre-co-located buckets."""

from __future__ import annotations

import io
import contextlib

import pytest

from etl_data_ingestion_spark.catalog import load_table


@pytest.fixture()
def bucketed_tables(spark, sf_dir):
    # tables land in the default warehouse dir (spark-warehouse/,
    # gitignored): spark.sql.warehouse.dir is a static conf
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("li_bucketed")
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("orders_bucketed")
    yield spark.table("li_bucketed"), spark.table("orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li, orders = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        # and the result is right
        n = joined.count()
        expected = li.count()  # every lineitem has its order
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_sink_joins_without_shuffle(spark, sf_dir):
    """BucketedWarehouseSink: two appends land bucketed; a self-join
    on the bucket key (dedup-by-load_id shape) plans with no Exchange."""
    from etl_data_ingestion_spark.ingest.sinks import BucketedWarehouseSink

    spark.sql("DROP TABLE IF EXISTS wh_bucketed")
    sink = BucketedWarehouseSink("wh_bucketed", ["l_orderkey"], n_buckets=4)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    n1 = sink.write([("file_a", li)])["file_a"]
    n2 = sink.write([("file_b", li.limit(100))])["file_b"]
    t = spark.table("wh_bucketed")
    assert t.count() == n1 + n2
    assert set(t.columns) == {"l_orderkey", "l_quantity", "_load_id"}

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = t.filter("_load_id = 'file_a'")
        b = t.filter("_load_id = 'file_b'")
        j = a.join(b, "l_orderkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP TABLE IF EXISTS wh_bucketed")


def test_partitioned_scan_prunes(spark, sf_dir):
    """scan_partitioned_pruning's layout claim: a filter on the
    partition column appears as PartitionFilters on the scan, and the
    pruned read touches one partition directory, not five."""
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["scan_partitioned_pruning"](spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "1-URGENT" in plan  # the pushed partition predicate
    # the partition predicate must live in PartitionFilters, not in
    # row-level PushedFilters (absent/empty when nothing else pushes)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("1-URGENT" not in l for l in pushed)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("1-URGENT" in l for l in part_lines)


def test_bucketed_facts_catalog_mode(spark, sf_dir):
    """enable_bucketed_facts routes load_table to the bucketed
    tables, the registered q3 plan loses every shuffle Exchange
    (only the customer BroadcastExchange remains), results match the
    stock plan exactly, and disable restores stock scans."""
    from etl_data_ingestion_spark.catalog import (
        disable_bucketed_facts,
        enable_bucketed_facts,
        load_table,
    )
    from etl_data_ingestion_spark.plans import registry

    registry.load_all()
    q3 = registry.QUERIES["tpch_q3_shipping_priority"]
    stock_rows = [tuple(r) for r in q3(spark, sf_dir).collect()]

    tables = enable_bucketed_facts(spark, sf_dir, n_buckets=4)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        # routed to the catalog table, not the raw parquet path
        assert tables["lineitem"] in _plan(li)
        plan = _plan(q3(spark, sf_dir))
        shuffles = [
            ln
            for ln in plan.splitlines()
            if "Exchange" in ln and "Broadcast" not in ln
        ]
        assert shuffles == [], f"unexpected shuffle Exchanges: {shuffles}"
        assert [tuple(r) for r in q3(spark, sf_dir).collect()] == stock_rows
    finally:
        disable_bucketed_facts(spark)
    assert tables["lineitem"] not in _plan(
        load_table(spark, sf_dir, "lineitem")
    )


def test_bench_bucketed_arms_switch_routing(spark, sf_dir, monkeypatch, tmp_path):
    """bench.bucketed_q3_tier's two arms alternate load_table between
    the bucketed tables and stock parquet, so a switch that stops
    routing fails here rather than silently timing stock twice."""
    import bench
    from etl_data_ingestion_spark.catalog import load_table

    monkeypatch.setattr(bench, "HERE", str(tmp_path))  # no sf1 lane
    routed: list[bool] = []

    def fake_run_query(spark_, name, bdir):
        routed.append("lineitem_bucketed_" in _plan(load_table(spark_, bdir, "lineitem")))
        return 0.1

    monkeypatch.setattr(bench, "run_query", fake_run_query)
    out = bench.bucketed_q3_tier(spark, sf_dir, 0.001)
    # warm pass + 3 interleaved passes, bucketed arm first
    assert routed == [True, False] * 4
    assert out["0.001"]["stock"] == out["0.001"]["bucketed"] == 0.1
    assert "lineitem_bucketed_" not in _plan(load_table(spark, sf_dir, "lineitem"))
