"""Device tests for the wave-42 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_cooks_distance_matches_bruteforce(spark, sf_dir):
    import datetime

    orders = load_table(spark, sf_dir, "orders").collect()
    day = defaultdict(int)
    for r in orders:
        d = r.o_orderdate
        if isinstance(d, datetime.datetime):
            d = d.date()
        day[d] += math.floor(r.o_totalprice * 100 + 0.5)
    pts = sorted(
        ((d - datetime.date(1970, 1, 1)).days, y, d.isoformat())
        for d, y in day.items()
    )
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    sxx_c = sxx - sx * sx / n
    xbar = sx / n
    a = (sy - b * sx) / n
    s2 = (syy - a * sy - b * sxy) / (n - 2)
    scored = []
    for x, y, d in pts:
        e = y - a - b * x
        h = 1.0 / n + (x - xbar) * (x - xbar) / sxx_c
        d6 = math.floor(e * e * h / (2.0 * s2 * (1 - h) * (1 - h)) * 1e6 + 0.5)
        scored.append((-d6, d, y, e))
    scored.sort()
    out = registry.QUERIES["ml_cooks_distance_topk"](spark, sf_dir).collect()
    assert len(out) == 20
    for row, (negd6, d, y, e) in zip(out, scored[:20]):
        assert row.day == d
        assert row.revenue_cents == y
        assert abs(row.cooks_d - (-negd6) / 1e6) < 2e-6
        assert abs(
            row.residual_dollars - math.floor(e / 100.0 * 100 + 0.5) / 100
        ) < 1e-9


def test_mahalanobis_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    feat = defaultdict(lambda: [0, 0])
    for r in orders:
        f = feat[r.o_custkey]
        f[0] += 1
        f[1] += math.floor(r.o_totalprice * 100 + 0.5)
    n = len(feat)
    sx = sum(v[0] for v in feat.values())
    sy = sum(v[1] for v in feat.values())
    sxx = sum(v[0] * v[0] for v in feat.values())
    sxy = sum(v[0] * v[1] for v in feat.values())
    syy = sum(v[1] * v[1] for v in feat.values())
    mx, my = sx / n, sy / n
    cxx = (n * sxx - sx * sx) / n / n
    cxy = (n * sxy - sx * sy) / n / n
    cyy = (n * syy - sy * sy) / n / n
    det = cxx * cyy - cxy * cxy
    scored = []
    for ck, (x, y) in feat.items():
        dx, dy = x - mx, y - my
        d2 = (dx * dx * cyy - 2 * dx * dy * cxy + dy * dy * cxx) / det
        scored.append((-math.floor(d2 * 1e6 + 0.5), ck, x, y))
    scored.sort()
    out = registry.QUERIES["agg_mahalanobis_outliers"](spark, sf_dir).collect()
    assert len(out) == 20
    for row, (negd6, ck, x, y) in zip(out, scored[:20]):
        assert row.custkey == ck
        assert row.n_orders == x
        assert row.spend_cents == y
        assert abs(row.mahalanobis_d2 - (-negd6) / 1e6) < 2e-6
