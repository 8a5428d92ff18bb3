"""Wave-13 tests: Python third opinions for the NOT-IN null trap,
the left-outer interval join histogram, and the date-gap detector —
plus the streaming face of the outer join (watermarked NULL emission)
driven against a real stream with a watermark-advancing sentinel."""

from __future__ import annotations

import datetime
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_not_in_null_semantics_matches_python(spark, sf_dir):
    li = [
        r.l_suppkey
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_suppkey")
        .collect()
    ]
    excl = {
        r.s_suppkey
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet").collect()
        if r.s_suppkey % 4 == 1
    }
    [row] = registry.QUERIES["subquery_not_in_null_semantics"](
        spark, sf_dir
    ).collect()
    # the trap: a NULL in the list empties naive NOT IN entirely
    assert row.naive_not_in_rows == 0
    assert row.null_safe_rows == sum(1 for k in li if k not in excl)
    assert row.total_rows == len(li)
    assert row.excluded_rows == sum(1 for k in li if k in excl)
    assert row.excluded_rows > 0, "fixture must exercise the exclusion"


def test_outer_interval_join_matches_python(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    views = defaultdict(list)
    for r in rows:
        if r.event_type == "view":
            views[r.user_id].append(r.ts)
    hist: Counter = Counter()
    for r in rows:
        if r.event_type != "purchase":
            continue
        lo = r.ts - datetime.timedelta(minutes=30)
        n = sum(1 for t in views[r.user_id] if lo <= t <= r.ts)
        hist[n] += 1
    expect = sorted(hist.items())
    got = [
        (r.n_views, r.n_purchases)
        for r in registry.QUERIES["stream_outer_interval_join"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect
    assert hist[0] > 0, "outer-only bucket must be non-empty"


def test_date_gaps_matches_python(spark, sf_dir):
    dates = {
        r.o_orderdate.date()
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderdate")
        .distinct()
        .collect()
    }
    epoch = datetime.date(1970, 1, 1)
    present = {
        d for d in dates if ((d - epoch).days % 50) != 7
    }
    lo, hi = min(dates), max(dates)
    expected = {
        lo + datetime.timedelta(days=i) for i in range((hi - lo).days + 1)
    }
    missing = sorted(expected - present)
    [row] = registry.QUERIES["quality_date_gaps"](spark, sf_dir).collect()
    assert row.n_expected_days == len(expected)
    assert row.n_present_days == len(present)
    assert row.n_missing_days == len(missing)
    assert row.first_missing == missing[0].isoformat()
    assert row.last_missing == missing[-1].isoformat()
    assert len(missing) > 0, "planted gaps must fire the detector"


def test_stream_left_outer_join_emits_unmatched(spark, sf_dir, tmp_path):
    """The streaming face: a watermarked LEFT OUTER stream-stream
    join must emit NULL-view rows for view-less purchases once the
    watermark passes — proven by appending a far-future sentinel
    view that advances the watermark past every join window, then
    comparing against the batch outer join."""
    from etl_data_ingestion_spark.streaming import (
        purchase_view_interval_join_outer,
    )

    batch = load_table(spark, sf_dir, "events")
    # sentinels on BOTH sides: the global watermark is the MIN across
    # the two withWatermark operators, so advancing only the view
    # side leaves the max-ts purchase's window unprovably open (its
    # own side's watermark trails it) — observed as exactly one
    # missing outer row before the purchase sentinel was added
    mx = batch.agg(
        F.max("ts").alias("mts"), F.max("event_id").alias("mid")
    )
    sentinel = mx.select(
        (F.col("mid") + 1).alias("event_id"),
        (F.col("mts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).unionByName(
        mx.select(
            (F.col("mid") + 2).alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-2).cast("long").alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    src = str(tmp_path / "outer_src")
    full = batch.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).unionByName(sentinel)
    # ONE file -> one data micro-batch; the outer rows then flush in
    # the no-data batch Spark triggers after the watermark advances
    # (file-source ordering is arbitrary, so multiple batches could
    # process the sentinel FIRST and late-drop everything else)
    full.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(full.schema).parquet(src)
    joined = purchase_view_interval_join_outer(
        stream.filter("event_type = 'purchase'"),
        stream.filter("event_type = 'view'"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("outer_join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("outer_join_out").collect()
    expected = purchase_view_interval_join_outer(
        full.filter("event_type = 'purchase'"),
        full.filter("event_type = 'view'"),
    ).collect()
    # the sentinel purchase itself can never flush (nothing advances
    # the watermark past it) — compare real rows only
    key = lambda rows: {
        (r["p_id"], r["v_id"]) for r in rows if r["p_user"] >= 0
    }
    got_pairs, exp_pairs = key(got), key(expected)
    assert any(v is None for _, v in exp_pairs), "batch must have unmatched"
    assert got_pairs == exp_pairs
