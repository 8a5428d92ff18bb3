"""Wave-15 tests: scipy-free Python mirrors for the Mann-Whitney U
test (tie-corrected) and the per-brand log-log elasticity slope."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_mann_whitney_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("value", "event_type")
        .collect()
    )
    byv: dict = defaultdict(lambda: [0, 0])  # value -> [t, t1]
    for r in rows:
        if r.event_type == "purchase":
            byv[r.value][0] += 1
            byv[r.value][1] += 1
        elif r.event_type == "view":
            byv[r.value][0] += 1
    n1 = sum(t1 for _, t1 in byv.values())
    n2 = sum(t - t1 for t, t1 in byv.values())
    cb = 0
    r1_2x = 0
    tie3 = 0
    for v in sorted(byv):
        t, t1 = byv[v]
        r1_2x += t1 * (2 * cb + t + 1)
        tie3 += t * t * t - t
        cb += t
    N = n1 + n2
    var = n1 * 1.0 * n2 / 12.0 * ((N + 1) - tie3 * 1.0 / (N * 1.0 * (N - 1)))
    z = (r1_2x - n1 * (n1 + 1) - n1 * n2) / (2.0 * math.sqrt(var))
    [row] = registry.QUERIES["ml_mann_whitney_u"](spark, sf_dir).collect()
    assert (row.n1, row.n2) == (n1, n2)
    assert row.u1 == (r1_2x - n1 * (n1 + 1)) / 2.0
    assert row.z_score == math.floor(z * 1e6 + 0.5) / 1e6
    # U must sit inside its exact bounds
    assert 0 <= row.u1 <= n1 * n2


def test_price_elasticity_matches_python(spark, sf_dir):
    price = {
        r.p_partkey: (r.p_brand, r.p_retailprice)
        for r in spark.read.parquet(f"{sf_dir}/part.parquet").collect()
    }
    mom: dict = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sx, sy, sxx, sxy
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_partkey", "l_quantity")
        .collect()
    ):
        brand, p = price[r.l_partkey]
        x = math.floor(math.log(r.l_quantity) * 1e4 + 0.5)
        y = math.floor(math.log(p) * 1e4 + 0.5)
        m = mom[brand]
        m[0] += 1
        m[1] += x
        m[2] += y
        m[3] += x * x
        m[4] += x * y
    expect = []
    for brand in sorted(mom):
        n, sx, sy, sxx, sxy = mom[brand]
        slope = (n * 1.0 * sxy - sx * 1.0 * sy) / (
            n * 1.0 * sxx - sx * 1.0 * sx
        )
        expect.append((brand, n, math.floor(slope * 1e4 + 0.5) / 1e4))
    got = [
        (r.p_brand, r.n_lines, r.elasticity_slope)
        for r in registry.QUERIES["ml_price_elasticity_by_brand"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect
    # synthetic quantities are price-independent → slopes hover near 0
    assert all(abs(s) < 0.5 for _, _, s in got)
