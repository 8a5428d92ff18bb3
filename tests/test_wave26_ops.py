"""Wave-26 tests: l-diversity, decayed engagement, Grubbs, VaR/ES."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.plans import registry

from tests.helpers import daily_cents_sql

registry.load_all()


def test_l_diversity_matches_python(spark, sf_dir):
    c = {
        r.c_custkey: (
            r.c_nationkey,
            math.floor(r.c_acctbal / 2000),
            r.c_mktsegment,
        )
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    cls_rows = defaultdict(int)
    cls_sens = defaultdict(set)
    for r in (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_orderpriority")
        .collect()
    ):
        if r.o_custkey in c:
            k = c[r.o_custkey]
            cls_rows[k] += 1
            cls_sens[k].add(r.o_orderpriority)
    per_nation = defaultdict(lambda: [0, 0, 0, 99])
    for k in cls_rows:
        nat = k[0]
        e = per_nation[nat]
        e[0] += 1
        l = len(cls_sens[k])
        if l < 3:
            e[1] += 1
            e[2] += cls_rows[k]
        e[3] = min(e[3], l)
    got = {
        r.c_nationkey: (
            r.n_classes,
            r.n_violating_classes,
            r.n_exposed_rows,
            r.min_l,
            r.l3_diverse,
        )
        for r in registry.QUERIES["quality_l_diversity"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(per_nation)
    for nat, (nc, nv, ne, ml) in per_nation.items():
        assert got[nat] == (nc, nv, ne, ml, ml >= 3), nat


def test_decayed_engagement_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", "CAST(CAST(ts AS TIMESTAMP) AS LONG) AS t")
        .collect()
    )
    tmax = max(r.t for r in rows)
    per = defaultdict(lambda: [0, 0])
    for r in rows:
        d9 = math.floor(
            0.5 ** ((tmax - r.t) / 86400.0 / 7.0) * 1e9 + 0.5
        )
        per[r.user_id][0] += 1
        per[r.user_id][1] += d9
    top = sorted(per.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    got = registry.QUERIES["events_decayed_engagement"](
        spark, sf_dir
    ).collect()
    assert [(r.user_id, r.n_events) for r in got] == [
        (u, v[0]) for u, v in top
    ]
    for r, (u, v) in zip(got, top):
        assert abs(r.engagement_score - v[1] / 1e9) < 2e-6, u


def test_grubbs_matches_python(spark, sf_dir):
    daily = daily_cents_sql(spark, sf_dir)
    ys = [y for _, y in daily]
    n, s = len(ys), sum(ys)
    q = sum(y * y for y in ys)
    best = min(daily, key=lambda dy: (-abs(n * dy[1] - s), dy[0]))
    g = (abs(n * best[1] - s) / n) / math.sqrt((q - s * s / n) / (n - 1))
    row = registry.QUERIES["agg_grubbs_outlier"](spark, sf_dir).collect()[0]
    assert row.n_days == n
    assert row.suspect_day == str(best[0])
    assert row.suspect_revenue_cents == best[1]
    assert abs(row.g_stat - g) < 2e-6


def test_var_es_matches_python(spark, sf_dir):
    daily = daily_cents_sql(spark, sf_dir)
    ys = [y for _, y in daily]
    diffs = [b - a for a, b in zip(ys, ys[1:])]
    n = len(diffs)
    sd = sorted(diffs)
    var95 = sd[max(0, math.ceil(0.05 * n) - 1)]
    tail = [d for d in diffs if d <= var95]
    es = sum(tail) / len(tail)
    row = registry.QUERIES["timeseries_var_expected_shortfall"](
        spark, sf_dir
    ).collect()[0]
    assert (row.n_diffs, row.var95_cents, row.n_tail) == (
        n,
        var95,
        len(tail),
    )
    assert abs(row.es95_cents - es) < 0.011


def test_hodges_lehmann_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "date_trunc('week', ts) AS w",
            "CASE WHEN dayofweek(ts) IN (1, 7) THEN 0.0 ELSE value END AS wdv",
            "CASE WHEN dayofweek(ts) IN (1, 7) THEN value ELSE 0.0 END AS wev",
        )
        .groupBy("w")
        .agg({"wdv": "sum", "wev": "sum"})
        .collect()
    )
    ds = [
        math.floor(r["sum(wdv)"] * 100 + 0.5)
        - math.floor(r["sum(wev)"] * 100 + 0.5)
        for r in rows
    ]
    walsh = sorted(
        ds[i] + ds[j] for i in range(len(ds)) for j in range(i, len(ds))
    )
    nw = len(walsh)
    hl2 = walsh[max(0, math.ceil(0.5 * nw) - 1)]
    row = registry.QUERIES["agg_hodges_lehmann_shift"](
        spark, sf_dir
    ).collect()[0]
    assert (row.n_weeks, row.n_walsh_averages, row.hl_shift_2x_cents) == (
        len(ds),
        nw,
        hl2,
    )


def test_bounce_rate_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "user_id",
            "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE) AS t",
            "event_id",
            "event_type",
        )
        .collect()
    )
    by_u = defaultdict(list)
    for r in rows:
        by_u[r.user_id].append((r.t, r.event_id, r.event_type))
    sessions = []
    for evs in by_u.values():
        evs.sort()
        cur = []
        prev = None
        for t, _, et in evs:
            if prev is not None and t - prev <= 1800:
                cur.append(et)
            else:
                if cur:
                    sessions.append(cur)
                cur = [et]
            prev = t
        sessions.append(cur)
    per_entry = defaultdict(lambda: [0, 0])
    for sess in sessions:
        e = per_entry[sess[0]]
        e[0] += 1
        e[1] += 1 if len(sess) == 1 else 0
    got = {
        r.entry_type: (r.n_sessions, r.n_bounces)
        for r in registry.QUERIES["events_bounce_rate_by_entry"](
            spark, sf_dir
        ).collect()
    }
    assert got == {k: tuple(v) for k, v in per_entry.items()}
