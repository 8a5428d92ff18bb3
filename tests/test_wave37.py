"""Device tests for the wave-37 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    d = defaultdict(float)
    for r in ev:
        d[r.ts.date()] += r.value
    return [math.floor(v * 100 + 0.5) for _, v in sorted(d.items())]


def test_turning_points_matches_bruteforce(spark, sf_dir):
    out = registry.QUERIES["timeseries_turning_points_test"](
        spark, sf_dir
    ).collect()[0]
    ys = _daily(spark, sf_dir)
    n = len(ys)
    turns = sum(
        1
        for i in range(1, n - 1)
        if (ys[i] > ys[i - 1] and ys[i] > ys[i + 1])
        or (ys[i] < ys[i - 1] and ys[i] < ys[i + 1])
    )
    assert out.n_days == n
    assert out.n_turning_points == turns
    exp = 2.0 * (n - 2) / 3
    z = (turns - exp) / math.sqrt((16.0 * n - 29) / 90)
    assert abs(out.expected - math.floor(exp * 1e4 + 0.5) / 1e4) < 1e-9
    assert abs(out.z_score - math.floor(z * 1e4 + 0.5) / 1e4) < 1e-9


def test_peak_prominence_matches_bruteforce(spark, sf_dir):
    """Strict peaks, nearest-higher boundaries (series end when no
    higher ground), saddle minima, top-5 by (prominence, day)."""
    rows = registry.QUERIES["timeseries_peak_prominence"](
        spark, sf_dir
    ).collect()
    ev = load_table(spark, sf_dir, "events").collect()
    d = defaultdict(float)
    for r in ev:
        d[r.ts.date()] += r.value
    days = sorted(d)
    ys = [math.floor(d[k] * 100 + 0.5) for k in days]
    n = len(ys)
    peaks = []
    for i in range(1, n - 1):
        if not (ys[i] > ys[i - 1] and ys[i] > ys[i + 1]):
            continue
        hl = max(
            (j for j in range(i) if ys[j] > ys[i]), default=-1
        )
        hr = min(
            (j for j in range(i + 1, n) if ys[j] > ys[i]), default=n
        )
        min_l = min(ys[hl + 1 : i])
        min_r = min(ys[i + 1 : hr])
        prom = ys[i] - max(min_l, min_r)
        peaks.append((prom, days[i].strftime("%Y-%m-%d"), ys[i]))
    peaks.sort(key=lambda p: (-p[0], p[1]))
    assert len(rows) == min(5, len(peaks))
    for row, (prom, day, h) in zip(rows, peaks[:5]):
        assert row.day == day
        assert abs(row.height_dollars - h / 100) < 1e-9
        assert abs(row.prominence_dollars - prom / 100) < 1e-9
        # prominence can never exceed height above the global min
        assert prom <= h - min(ys)
