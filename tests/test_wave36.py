"""Device tests for the wave-36 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


TYPES = ["view", "click", "purchase", "signup", "error"]


def test_ledoit_wolf_matches_dense_bruteforce(spark, sf_dir):
    """Compute S, mu, ||S - mu I||^2 and the dispersion term from the
    DENSE matrices directly (no identities) and verify the identity
    form the operator uses agrees; lambda must land in [0, 1]."""
    out = registry.QUERIES["agg_ledoit_wolf_shrinkage"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    days = defaultdict(lambda: [0] * 5)
    for r in ev:
        days[r.ts.date()][TYPES.index(r.event_type)] += 1
    X = list(days.values())
    n, p = len(X), 5
    mean = [sum(x[i] for x in X) / n for i in range(p)]
    Y = [[x[i] - mean[i] for i in range(p)] for x in X]
    S = [
        [sum(y[i] * y[j] for y in Y) / n for j in range(p)]
        for i in range(p)
    ]
    mu = sum(S[i][i] for i in range(p)) / p
    frob2 = sum(S[i][j] ** 2 for i in range(p) for j in range(p))
    d2 = frob2 - p * mu * mu
    disp = (
        sum(
            sum((y[i] * y[j] - S[i][j]) ** 2 for i in range(p)
                for j in range(p))
            for y in Y
        )
        / n
        / n
    )
    lam = min(1.0, disp / d2)
    assert out.n_days == n
    assert abs(out.mu_diag - mu) < 1e-4
    assert abs(out.d2 - d2) < max(1e-4, 1e-6 * abs(d2))
    assert abs(out.bbar2_uncapped - disp) < max(1e-4, 1e-6 * abs(disp))
    assert abs(out.shrinkage_lambda - snap(lam, 6, math.floor)) < 1e-5
    assert 0.0 <= out.shrinkage_lambda <= 1.0


def test_power_analysis_matches_bruteforce(spark, sf_dir):
    """Observed rates, the closed-form n-per-arm, and the A&S
    polynomial power evaluated the same way."""
    out = registry.QUERIES["ml_power_analysis_two_prop"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    g = {0: [0, 0], 1: [0, 0]}
    for r in ev:
        c = g[r.user_id % 2]
        c[0] += 1
        if r.event_type == "purchase":
            c[1] += 1
    n0, x0 = g[0]
    n1, x1 = g[1]
    p0, p1 = x0 / n0, x1 / n1
    pbar = (x0 + x1) / (n0 + n1)
    delta = abs(p1 - p0)
    za, zb = 1.959963984540054, 0.8416212335729143
    num = za * math.sqrt(2 * pbar * (1 - pbar)) + zb * math.sqrt(
        p0 * (1 - p0) + p1 * (1 - p1)
    )
    se = math.sqrt(p0 * (1 - p0) / n0 + p1 * (1 - p1) / n1)
    assert out.n_events == n0 + n1
    assert abs(out.rate_control - snap(p0, 6, math.floor)) < 1e-9
    assert abs(out.rate_treatment - snap(p1, 6, math.floor)) < 1e-9
    if delta > 0:
        assert out.n_per_arm_for_80pct_power == math.ceil(
            num * num / (delta * delta)
        )
        z = delta / se - za
        # reference power via math.erf — the operator's A&S
        # polynomial is accurate to ~1.5e-7, far under the 1e-4 snap
        power = 0.5 * (1 + math.erf(z / math.sqrt(2)))
        assert abs(out.posthoc_power - power) < 1e-3
        assert 0.0 <= out.posthoc_power <= 1.0
    else:
        assert out.n_per_arm_for_80pct_power is None
