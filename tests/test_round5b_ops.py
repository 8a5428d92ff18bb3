"""Round-5 second-wave operator tests: last-touch attribution
semantics (strictly-earlier touch, lookback expiry), interval-union
coverage identities, CDC supersession/deletion, expectation
discrimination, interval-overlap join vs a naive theta join, and
shard-assignment manifest invariants."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_attribution_tie_and_lookback(spark):
    # synthetic micro-fixture: a same-ts touch must NOT get credit
    # (strictly earlier), a 4-day-old touch is outside the 3-day
    # lookback, a fresh view gets the credit
    t0 = dt.datetime(2020, 1, 10, 12, 0, 0)
    rows = [
        # u1: view 1h before purchase -> attributed to view
        (1, t0, 1, "view", 1.0, None),
        (2, t0 + dt.timedelta(hours=1), 1, "purchase", 10.0, None),
        # u2: click at the SAME instant as purchase -> unattributed
        (3, t0, 2, "click", 1.0, None),
        (4, t0, 2, "purchase", 20.0, None),
        # u3: touch 4 days earlier -> outside lookback -> unattributed
        (5, t0 - dt.timedelta(days=4), 3, "view", 1.0, None),
        (6, t0, 3, "purchase", 40.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["touch_type"]: (r["n_purchases"], r["attributed_value"])
            for r in registry.QUERIES["events_attribution_last_touch"](
                spark, d
            ).collect()
        }
    assert out["view"] == (1, 10.0)
    assert out["unattributed"] == (2, 60.0)
    assert "click" not in out


def test_interval_union_coverage_identities(spark, sf_dir):
    row = registry.QUERIES["events_interval_union_coverage"](
        spark, sf_dir
    ).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert row["n_users"] == n_users
    # islands are between 1 per user (all merged) and 1 per event
    assert n_users <= row["n_islands"] <= n_events
    # coverage: each island covers >= one 30-min interval, and the
    # union can never exceed the sum of raw interval lengths
    assert row["covered_hours"] >= row["n_islands"] * 0.5 - 0.01
    assert row["covered_hours"] <= n_events * 0.5 + 0.01
    assert row["longest_hours"] >= 0.5


def test_cdc_apply_supersession(spark, sf_dir):
    out = registry.QUERIES["warehouse_cdc_apply"](spark, sf_dir)
    rows = {r["c_custkey"]: r for r in out.collect()}
    cust = {
        r["c_custkey"]: r["c_acctbal"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    for k, bal in cust.items():
        if k % 10 == 0:
            assert k not in rows  # seq-2 delete wins over seq-1 update
        elif k % 10 == 5:
            assert rows[k]["applied_seq"] == 2  # second update wins
            assert abs(rows[k]["acctbal"] - round(bal + 200, 2)) < 1e-6
        elif k % 5 == 0:
            assert rows[k]["applied_seq"] == 1
            assert abs(rows[k]["acctbal"] - round(bal + 100, 2)) < 1e-6
        else:
            assert rows[k]["applied_seq"] == 0
            assert abs(rows[k]["acctbal"] - round(bal, 2)) < 1e-6
    for k in cust:
        if k % 13 == 0:
            assert rows[k + 2000000]["acctbal"] == 1000.0


def test_expectations_discriminate(spark, sf_dir):
    rows = {
        r["check_name"]: r
        for r in registry.QUERIES["quality_column_expectations"](
            spark, sf_dir
        ).collect()
    }
    assert len(rows) == 6
    # fixture reality: quantity/returnflag/shipdate/price conform...
    for name in (
        "quantity_range",
        "returnflag_values",
        "shipdate_not_null",
        "extendedprice_positive",
    ):
        assert rows[name]["passed"], name
    # ...but the deliberately-tight discount bound (0.08 < real max
    # 0.10) FAILS, and the synthetic generator really does emit
    # duplicate (orderkey, linenumber) pairs — both failures prove
    # the checker distinguishes
    assert not rows["discount_range"]["passed"]
    assert rows["discount_range"]["n_violations"] > 0
    assert not rows["orderline_unique"]["passed"]


def test_interval_overlap_matches_naive_theta(spark, sf_dir):
    grid = registry.QUERIES["join_interval_overlap"](spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    iv = orders.select(
        "o_totalprice",
        F.col("o_orderdate").alias("o_start"),
        (
            F.col("o_orderdate")
            + (F.col("o_orderkey") % 20) * F.expr("INTERVAL 1 DAY")
        ).alias("o_end"),
    )
    promos = spark.range(26).select(
        F.col("id").cast("int").alias("promo_id"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.col("id") * 90 * F.expr("INTERVAL 1 DAY")
        ).alias("p_start"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + (F.col("id") * 90 + 45) * F.expr("INTERVAL 1 DAY")
        ).alias("p_end"),
    )
    naive = (
        iv.crossJoin(promos)
        .filter(
            (F.col("o_start") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("o_end"))
        )
        .groupBy("promo_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    got = {r["promo_id"]: (r["n_orders"], r["revenue"]) for r in grid.collect()}
    want = {
        r["promo_id"]: (r["n_orders"], r["revenue"]) for r in naive.collect()
    }
    assert got == want  # grid bucketing neither drops nor double-counts


def test_shard_assignment_manifest(spark, sf_dir):
    rows = registry.QUERIES["pipeline_shard_assignment"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert {r["shard"] for r in rows} == set(range(16))
    total_chars = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r["total_chars"] for r in rows) == total_chars


def test_string_agg_deterministic_under_partitioning(spark, sf_dir):
    out = registry.QUERIES["agg_string_agg_ordered"](spark, sf_dir).collect()
    assert len(out) == 5  # five regions
    for r in out:
        parts = r["nations"].split("|")
        assert parts == sorted(parts)  # in-aggregate order pinned
        assert len(parts) == r["n_nations"]


def test_weighted_median_crossing_property(spark, sf_dir):
    rows = registry.QUERIES["agg_weighted_median"](spark, sf_dir).collect()
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/nation.parquet"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "s_acctbal", (1 + F.col("s_suppkey") % 5).alias("wt"))
        .collect()
    )
    by_nation = {}
    for r in sup:
        by_nation.setdefault(r["n_name"], []).append((r["s_acctbal"], r["wt"]))
    for out in rows:
        vals = sorted(by_nation[out["nation"]])
        tot = sum(w for _, w in vals)
        # median property: weight at-or-below >= half, at-or-above >= half
        m = out["weighted_median_bal"]
        below = sum(w for v, w in vals if v <= m)
        above = sum(w for v, w in vals if v >= m)
        assert below * 2 >= tot and above * 2 >= tot


def test_mad_robust_to_planted_outlier(spark):
    # MAD of a set with one extreme outlier stays small (robustness),
    # while stddev would explode: verified on a micro-fixture
    import tempfile, os, datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    vals = [10.0] * 20 + [10.5] * 20 + [9.5] * 20 + [100000.0]
    rows = [
        (i, t0, i, "click", v, None) for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = registry.QUERIES["timeseries_anomaly_mad"](spark, d).collect()
    r = out[0]
    assert r["median_value"] == 10.0
    assert r["mad"] == 0.5
    assert r["n_outliers"] == 1  # exactly the planted extreme


def test_cohort_ltv_monotone(spark, sf_dir):
    rows = registry.QUERIES["events_cohort_ltv"](spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], []).append(
            (r["age_weeks"], r["cum_revenue"], r["cum_ltv_per_user"])
        )
    for cohort, curve in by_cohort.items():
        curve.sort()
        revs = [c[1] for c in curve]
        assert revs == sorted(revs)  # cumulative revenue monotone
        ltvs = [c[2] for c in curve]
        assert ltvs == sorted(ltvs)


def test_resize_real_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    rows = registry.QUERIES["multimodal_resize_real"](spark, sf_dir).collect()
    assert len(rows) == 150
    for r in rows[:20]:
        d = r["doc_id"]
        w, h = 8 + d % 8, 4 + d % 4
        ch = 1 if d % 2 == 0 else 3
        img = np.array(
            [
                [
                    [(d * 7 + y * 3 + x * 5 + c * 11) % 256 for c in range(ch)]
                    for x in range(w)
                ]
                for y in range(h)
            ],
            dtype=np.int64,
        )
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(6) * w) // 6
        assert r["resized_sum"] == int(img[np.ix_(ys, xs)].sum())
        assert (r["thumb_w"], r["thumb_h"], r["channels"]) == (6, 4, ch)


def test_any_all_rewrite_matches_bruteforce(spark, sf_dir):
    rows = {
        r["nation"]: r
        for r in registry.QUERIES["subquery_any_all_quantified"](
            spark, sf_dir
        ).collect()
    }
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").collect()
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    }
    by_nat = {}
    for c in cust:
        by_nat.setdefault(c["c_nationkey"], []).append(c["c_acctbal"])
    want_all, want_any = {}, {}
    for s in sup:
        n = nat[s["s_nationkey"]]
        vals = by_nat.get(s["s_nationkey"], [])
        # quantified semantics, brute force: ALL vacuous on empty set
        if all(s["s_acctbal"] > v for v in vals):
            want_all[n] = want_all.get(n, 0) + 1
        if any(s["s_acctbal"] > v for v in vals):
            want_any[n] = want_any.get(n, 0) + 1
    for n, r in rows.items():
        assert r["beats_all"] == want_all.get(n, 0), n
        assert r["beats_any"] == want_any.get(n, 0), n


def test_length_bucket_bounds(spark, sf_dir):
    rows = registry.QUERIES["pipeline_length_bucket_batching"](
        spark, sf_dir
    ).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        # pow2 buckets and the >= 0.5 padding-efficiency bound
        assert r["bucket"] & (r["bucket"] - 1) == 0
        assert r["pad_efficiency"] > 0.5
        assert r["real_tokens"] <= r["padded_tokens"]
        assert r["n_batches"] >= 1


def test_snapshot_diff_reconciles(spark, sf_dir):
    r = registry.QUERIES["warehouse_snapshot_diff"](spark, sf_dir).collect()[0]
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    keys = [c["c_custkey"] for c in cust]
    assert r["removed"] == sum(1 for k in keys if k % 17 == 0)
    assert r["added"] == sum(1 for k in keys if k % 23 == 0)
    assert r["changed"] == sum(
        1 for k in keys if k % 9 == 0 and k % 17 != 0
    )
    assert (
        r["added"] + r["removed"] + r["changed"] + r["unchanged"]
        == len(keys) + r["added"]
    )


def test_dau_wau_mau_invariants(spark, sf_dir):
    rows = registry.QUERIES["events_dau_wau_mau"](spark, sf_dir).collect()
    assert rows
    by_day = {r["day"]: r for r in rows}
    for r in rows:
        # DAU <= WAU <= MAU, and stickiness in (0, 1]
        assert r["dau"] <= r["wau"] <= r["mau"]
        assert 0 < r["stickiness"] <= 1
    # WAU on a given day >= DAU of any covered prior day in the data
    days = sorted(by_day)
    if len(days) >= 2:
        assert by_day[days[1]]["wau"] >= by_day[days[0]]["dau"]


def test_winsorized_mean_damps_tail(spark, sf_dir):
    rows = registry.QUERIES["agg_winsorized_mean"](spark, sf_dir).collect()
    for r in rows:
        assert r["p05"] <= r["p95"]
        # clipping can only pull the mean toward the center band
        assert r["p05"] <= r["winsorized_mean"] <= r["p95"]
        assert r["n_clipped"] >= 0


def test_quantile_rollup_contract_holds(spark, sf_dir):
    rows = registry.QUERIES["agg_quantile_histogram_rollup"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        # the one-bucket-width error contract must actually hold
        assert r["p50_within_bucket"] and r["p90_within_bucket"]
        assert 0 <= r["est_p50"] <= r["est_p90"] <= 512
