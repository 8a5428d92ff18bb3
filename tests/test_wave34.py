"""Device tests for the wave-34 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _daily_xyz(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0.0])
    for r in ev:
        d = r.ts.date()
        a = agg[d]
        if r.event_type == "view":
            a[0] += 1
        elif r.event_type == "purchase":
            a[1] += 1
        elif r.event_type == "click":
            a[2] += 1
        a[3] += r.value
    return {
        d: (x, y, z, math.floor(v * 100 + 0.5))
        for d, (x, y, z, v) in agg.items()
    }


def test_xi_matches_bruteforce_and_detects_dependence(spark, sf_dir):
    """Peer-inclusive ranks, x-then-day sort, the exact walk sum —
    and xi(y, y) would be ~1 (sanity of the rank device)."""
    out = registry.QUERIES["ml_xi_correlation"](spark, sf_dir).collect()[0]
    daily = _daily_xyz(spark, sf_dir)
    rows = [(d, v[0], v[3]) for d, v in daily.items()]
    n = len(rows)
    ys = sorted(y for _, _, y in rows)
    rank = {d: sum(1 for v in ys if v <= y) for d, _, y in rows}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    sdr = sum(
        abs(rank[order[i + 1][0]] - rank[order[i][0]])
        for i in range(n - 1)
    )
    xi = 1.0 - 3.0 * sdr / (n * 1.0 * n - 1)
    assert out.n_days == n
    assert abs(out.xi_coefficient - snap(xi, 6, math.floor)) < 1e-9
    # device sanity: a perfectly dependent series gives xi near 1
    perfect = sorted(range(1, n + 1))
    sdr_p = sum(
        abs(perfect[i + 1] - perfect[i]) for i in range(n - 1)
    )
    assert 1.0 - 3.0 * sdr_p / (n * n - 1) > 0.8


def test_tail_dependence_matches_bruteforce(spark, sf_dir):
    out = registry.QUERIES["agg_tail_dependence_extremes"](
        spark, sf_dir
    ).collect()[0]
    daily = _daily_xyz(spark, sf_dir)
    xs = sorted(v[0] for v in daily.values())
    ys = sorted(v[3] for v in daily.values())
    n = len(xs)

    def pdisc(vals, p):
        return vals[math.ceil(p * n) - 1]

    qxh, qyh = pdisc(xs, 0.9), pdisc(ys, 0.9)
    qxl, qyl = pdisc(xs, 0.1), pdisc(ys, 0.1)
    nx_hi = sum(1 for v in daily.values() if v[0] > qxh)
    nj_hi = sum(1 for v in daily.values() if v[0] > qxh and v[3] > qyh)
    nx_lo = sum(1 for v in daily.values() if v[0] < qxl)
    nj_lo = sum(1 for v in daily.values() if v[0] < qxl and v[3] < qyl)
    assert out.n_days == n
    assert (out.n_upper_cond, out.n_upper_joint) == (nx_hi, nj_hi)
    assert (out.n_lower_cond, out.n_lower_joint) == (nx_lo, nj_lo)
    if nx_hi:
        assert abs(
            out.lambda_upper - math.floor(nj_hi / nx_hi * 1e4 + 0.5) / 1e4
        ) < 1e-9


def test_partial_correlation_matches_bruteforce(spark, sf_dir):
    """The partial r equals the residual-correlation identity."""
    out = registry.QUERIES["agg_partial_correlation"](spark, sf_dir).collect()[
        0
    ]
    daily = _daily_xyz(spark, sf_dir)
    xs = [v[0] for v in daily.values()]
    ys = [v[1] for v in daily.values()]
    zs = [v[2] for v in daily.values()]
    n = len(xs)

    def pearson(a, b):
        sa, sb = sum(a), sum(b)
        sab = sum(x * y for x, y in zip(a, b))
        saa = sum(x * x for x in a)
        sbb = sum(x * x for x in b)
        return (n * sab - sa * sb) / (
            math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
        )

    rxy, rxz, ryz = pearson(xs, ys), pearson(xs, zs), pearson(ys, zs)
    part = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz * rxz) * (1 - ryz * ryz)
    )
    assert out.n_days == n
    assert abs(out.r_view_purchase - snap(rxy, 6, math.floor)) < 2e-6
    assert abs(out.r_partial_given_clicks - snap(part, 6, math.floor)) < 2e-6


def test_sprt_walk_and_decision(spark, sf_dir):
    """The snapped-increment walk, the Wald boundaries, and the
    first-crossing decision rule."""
    out = registry.QUERIES["ml_sprt_sequential_test"](spark, sf_dir).collect()[
        0
    ]
    ev = load_table(spark, sf_dir, "events").collect()
    s, t = Counter(), Counter()
    for r in ev:
        d = r.ts.date()
        t[d] += 1
        if r.event_type == "purchase":
            s[d] += 1
    days = sorted(t)
    l1 = math.log(0.21 / 0.19)
    l0 = math.log(0.79 / 0.81)
    a9 = math.floor(math.log(0.95 / 0.05) * 1e9 + 0.5)
    b9 = math.floor(math.log(0.05 / 0.95) * 1e9 + 0.5)
    c9 = 0
    cross = None
    for d in days:
        c9 += math.floor((s[d] * l1 + (t[d] - s[d]) * l0) * 1e9 + 0.5)
        if cross is None and (c9 >= a9 or c9 <= b9):
            cross = (d, "accept_h1" if c9 >= a9 else "accept_h0")
    assert out.n_days == len(days)
    assert abs(out.final_llr - snap(c9 / 1e9, 6, math.floor)) < 1e-9
    if cross is None:
        assert out.decision == "continue"
        assert out.crossing_day is None
    else:
        assert out.decision == cross[1]
        assert out.crossing_day == cross[0].strftime("%Y-%m-%d")
