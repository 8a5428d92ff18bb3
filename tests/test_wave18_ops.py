"""Wave-18 tests: independent Python mirrors (third opinion beside
the DuckDB oracles) for Kruskal-Wallis, BH-FDR, the runs test, PACF,
and the Cochran-Armitage trend test."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_kruskal_wallis_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderpriority AS g", "o_totalprice AS p")
        .collect()
    )
    vals = [(r.g, math.floor(r.p * 100 + 0.5)) for r in rows]
    byv = Counter(v for _, v in vals)
    # tie-averaged ranks (1-based)
    ar = {}
    cum = 0
    for v in sorted(byv):
        t = byv[v]
        ar[v] = (2 * cum + t + 1) / 2.0
        cum += t
    rg: dict = defaultdict(lambda: [0, 0.0])
    for g, v in vals:
        rg[g][0] += 1
        rg[g][1] += ar[v]
    n = len(vals)
    # mirror the engines' N-normalized snapped-term device exactly
    e100 = sum(
        math.floor((2 * R) * 1.0 * (2 * R) / ng / n * 100 + 0.5)
        for ng, R in rg.values()
    )
    h = 0.03 * (float(e100) / (n + 1.0)) - 3.0 * (n + 1)
    # and confirm the device tracks textbook H to its documented bound
    h_true = 12.0 / (n * (n + 1)) * sum(
        (2 * R / 2.0) ** 2 / ng for ng, R in rg.values()
    ) - 3.0 * (n + 1)
    assert abs(h - h_true) <= 0.075 / (n + 1) + 1e-9
    tie = sum(t * t * t - t for t in byv.values())
    hc = h / (1 - tie * 1.0 / (n * 1.0 * n * n - n))
    [row] = registry.QUERIES["agg_kruskal_wallis"](spark, sf_dir).collect()
    assert row.n_orders == n
    assert row.n_groups == len(rg)
    assert row.h_stat == snap(h, 6, math.floor)
    assert row.h_corrected == snap(hc, 6, math.floor)
    assert row.h_stat >= 0.0


def _phi_tail_p(z: float) -> float:
    az = abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    return 2.0 * (math.exp(-az * az / 2.0) / 2.5066282746310002) * poly


def test_bh_fdr_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .selectExpr("c_nationkey AS nk", "c_acctbal AS b")
        .collect()
    )
    cents = [(r.nk, math.floor(r.b * 100 + 0.5)) for r in rows]
    nn = len(cents)
    ss = sum(b for _, b in cents)
    qq = sum(b * b for _, b in cents)
    mean = ss * 1.0 / nn
    sd = math.sqrt(qq * 1.0 / nn - mean * mean)
    g: dict = defaultdict(lambda: [0, 0])
    for nk, b in cents:
        g[nk][0] += 1
        g[nk][1] += b
    zs = {
        nk: (s * 1.0 / n - mean) / (sd / math.sqrt(n * 1.0))
        for nk, (n, s) in g.items()
    }
    ps = {nk: _phi_tail_p(z) for nk, z in zs.items()}
    order = sorted(ps, key=lambda nk: (ps[nk], nk))
    m = len(order)
    cutoff = 0
    for i, nk in enumerate(order, 1):
        if ps[nk] <= 0.10 * i / m:
            cutoff = i
    got = {
        r.nationkey: r
        for r in registry.QUERIES["agg_benjamini_hochberg_fdr"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(g)
    for i, nk in enumerate(order, 1):
        r = got[nk]
        assert r.n_customers == g[nk][0]
        assert r.z_score == snap(zs[nk], 6, math.floor)
        assert r.p_value == snap(ps[nk], 6, math.floor)
        assert r.p_rank == i
        assert r.rejected == (1 if i <= cutoff else 0)


def test_runs_test_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("cast(to_date(ts) as string) AS d", "event_type")
        .collect()
    )
    daily: Counter = Counter()
    for r in rows:
        daily[r.d] += 1 if r.event_type == "purchase" else 0
    days = sorted(daily)
    ordered = sorted(daily.items(), key=lambda kv: (kv[1], kv[0]))
    cnt = len(ordered)
    mv = ordered[math.floor((cnt + 1) / 2.0) - 1][1]
    seq = [1 if daily[d] > mv else -1 for d in days if daily[d] != mv]
    n1 = seq.count(1)
    n2 = seq.count(-1)
    runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
    e = 2.0 * n1 * n2 / (n1 + n2) + 1
    v = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * 1.0 * (n1 + n2) * (n1 + n2 - 1))
    )
    z = (runs - e) / math.sqrt(v)
    [row] = registry.QUERIES["timeseries_runs_test"](spark, sf_dir).collect()
    assert (row.n_days_used, row.n_above, row.n_below, row.n_runs) == (
        len(seq),
        n1,
        n2,
        runs,
    )
    assert row.z_score == snap(z, 6, math.floor)


def test_pacf_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("cast(to_date(ts) as string) AS d", "value")
        .collect()
    )
    daily: dict = defaultdict(float)
    for r in rows:
        daily[r.d] += r.value
    ys = [
        math.floor(daily[d] * 100 + 0.5) for d in sorted(daily)
    ]
    n = len(ys)
    s = sum(ys)
    q = sum(y * y for y in ys)
    ybar = s * 1.0 / n

    def rk(k):
        p = sum(ys[i] * ys[i + k] for i in range(n - k))
        a = sum(ys[i] for i in range(n - k))
        b = sum(ys[i + k] for i in range(n - k))
        return (p * 1.0 - ybar * ((a + b) * 1.0) + (n - k) * ybar * ybar) / (
            q * 1.0 - n * ybar * ybar
        )

    r1, r2, r3 = rk(1), rk(2), rk(3)
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1 - phi21 * r1 - phi22 * r2
    )
    got = {
        r.lag: r.pacf
        for r in registry.QUERIES["timeseries_pacf_durbin"](
            spark, sf_dir
        ).collect()
    }
    # the daily cents here re-sum floats in Python order, so allow a
    # 1e-6 snap step of drift on the inputs; the engine/oracle pair
    # is the exact gate, this mirror is the sanity opinion
    assert abs(got[1] - snap(r1, 6, math.floor)) <= 2e-6
    assert abs(got[2] - snap(phi22, 6, math.floor)) <= 2e-6
    assert abs(got[3] - snap(phi33, 6, math.floor)) <= 2e-6


def test_cochran_armitage_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderpriority AS g", "o_orderstatus AS st")
        .collect()
    )
    per: dict = defaultdict(lambda: [0, 0])
    for r in rows:
        sc = int(r.g[0])
        per[sc][0] += 1
        per[sc][1] += 1 if r.st == "F" else 0
    n = sum(v[0] for v in per.values())
    rr = sum(v[1] for v in per.values())
    sf_ = sum(sc * v[1] for sc, v in per.items())
    sn = sum(sc * v[0] for sc, v in per.items())
    s2n = sum(sc * sc * v[0] for sc, v in per.items())
    z = (sf_ * 1.0 - rr * 1.0 / n * sn) / math.sqrt(
        rr * 1.0 / n * (1 - rr * 1.0 / n) * (s2n * 1.0 - sn * 1.0 * sn / n)
    )
    [row] = registry.QUERIES["agg_cochran_armitage_trend"](
        spark, sf_dir
    ).collect()
    assert row.n_orders == n
    assert row.n_levels == len(per)
    assert row.n_finished == rr
    assert row.z_trend == snap(z, 6, math.floor)
