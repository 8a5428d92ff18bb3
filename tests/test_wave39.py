"""Device tests for the wave-39 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_bartlett_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    groups = defaultdict(list)
    for r in orders:
        groups[r.o_orderpriority].append(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    sse = 0.0
    wlog = 0.0
    sinv = 0.0
    for v in groups.values():
        n = len(v)
        s, ss = sum(v), sum(x * x for x in v)
        si2 = (n * ss - s * s) / n / (n - 1)
        sse += (n - 1) * si2
        wlog += math.floor(math.log(si2) * 1e9 + 0.5) * (n - 1)
        sinv += 1.0 / (n - 1)
    num = (nn - k) * math.floor(
        math.log(sse / (nn - k)) * 1e9 + 0.5
    ) / 1e9 - wlog / 1e9
    c = 1 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1))
    chi2 = num / c
    out = registry.QUERIES["agg_bartlett_variance_test"](
        spark, sf_dir
    ).collect()[0]
    assert out.n_groups == k and out.n_orders == nn
    assert abs(out.bartlett_chi2 - math.floor(chi2 * 1e6 + 0.5) / 1e6) < 2e-6
    assert out.bartlett_chi2 >= 0.0


def test_herfindahl_matches_bruteforce(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").collect()
    sup = {
        r.s_suppkey: r.s_nationkey
        for r in load_table(spark, sf_dir, "supplier").collect()
    }
    rev = defaultdict(lambda: defaultdict(int))
    for r in li:
        rev[sup[r.l_suppkey]][r.l_suppkey] += math.floor(
            r.l_extendedprice * 100 + 0.5
        )
    rows = registry.QUERIES["agg_herfindahl_concentration"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(rev)
    for row in rows:
        per = rev[row.nation]
        tot = sum(per.values())
        hhi = sum(v * v for v in per.values()) / (tot * tot)
        top4 = sum(
            v for v, _ in sorted(
                ((v, k) for k, v in per.items()),
                key=lambda p: (-p[0], p[1]),
            )[:4]
        )
        assert row.n_suppliers == len(per)
        assert abs(row.hhi - math.floor(hhi * 1e6 + 0.5) / 1e6) < 1e-9
        assert abs(row.cr4 - math.floor(top4 / tot * 1e6 + 0.5) / 1e6) < 1e-9
        # HHI lower bound 1/n (uniform), CR4 >= HHI-implied floor
        assert row.hhi >= 1.0 / row.n_suppliers - 1e-6
        assert row.cr4 <= 1.0 + 1e-9


def test_overdispersion_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    per = defaultdict(int)
    for r in orders:
        per[r.o_orderdate] += 1
    cs = list(per.values())
    n = len(cs)
    s, ss = sum(cs), sum(c * c for c in cs)
    mean = s / n
    s2 = (n * ss - s * s) / n / (n - 1)
    d = s2 / mean
    out = registry.QUERIES["agg_poisson_overdispersion"](
        spark, sf_dir
    ).collect()[0]
    assert out.n_days == n
    assert abs(out.mean_orders_per_day
               - math.floor(mean * 1e4 + 0.5) / 1e4) < 1e-9
    assert abs(out.dispersion_index
               - math.floor(d * 1e6 + 0.5) / 1e6) < 1e-9
    assert abs(out.dispersion_chi2
               - math.floor((n - 1) * d * 1e4 + 0.5) / 1e4) < 1e-9


def test_page_hinkley_matches_bruteforce(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    daily = defaultdict(float)
    for r in ev:
        daily[r.ts.date()] += r.value
    days = sorted(daily)
    ys = [math.floor(daily[d] * 100 + 0.5) for d in days]
    n, s = len(ys), sum(ys)
    best_gap, best_day = -1, None
    prefix, running_min = 0, None
    for t, (d, y) in enumerate(zip(days, ys), start=1):
        prefix += y
        nm = n * prefix - t * s
        running_min = nm if running_min is None else min(running_min, nm)
        gap = nm - running_min
        if gap > best_gap:
            best_gap, best_day = gap, d
    out = registry.QUERIES["events_page_hinkley_drift"](
        spark, sf_dir
    ).collect()[0]
    assert out.n_days == n
    assert out.detection_day == best_day.isoformat()
    assert abs(out.ph_stat_dollars
               - math.floor(best_gap / n / 100 * 1e4 + 0.5) / 1e4) < 1e-9
