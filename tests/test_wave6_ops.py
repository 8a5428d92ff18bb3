"""Wave-6 operator tests: pure-Python third opinions for degree
assortativity and inter-event-time bot regularity."""

from __future__ import annotations

import math
from collections import Counter

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def test_assortativity_matches_python(spark, sf_dir):
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_orderkey", "l_suppkey")
        .collect()
    )
    cust = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderkey", "o_custkey")
        .collect()
    }
    edges = {(cust[r.l_orderkey], -r.l_suppkey) for r in li if r.l_orderkey in cust}
    deg: Counter = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    pairs = [(deg[u], deg[v]) for u, v in edges] + [
        (deg[v], deg[u]) for u, v in edges
    ]
    n2 = len(pairs)
    sj = sum(j for j, _ in pairs)
    sk = sum(k for _, k in pairs)
    sjk = sum(j * k for j, k in pairs)
    sjj = sum(j * j for j, _ in pairs)
    skk = sum(k * k for _, k in pairs)
    num = sjk / n2 - (sj / n2) * (sk / n2)
    den = math.sqrt(sjj / n2 - (sj / n2) ** 2) * math.sqrt(
        skk / n2 - (sk / n2) ** 2
    )
    got = q("graph_assortativity", spark, sf_dir).collect()[0]
    assert got.n_edges == len(edges)
    assert got.n_nodes == len(deg)
    assert abs(got.assortativity - num / den) < 2e-6
    assert -1.0 - 1e-9 <= got.assortativity <= 1.0 + 1e-9


def test_bot_regularity_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            # raw parquet reads come back TIMESTAMP_NTZ; the session is
            # pinned UTC so the LTZ cast is value-preserving (the same
            # normalization catalog.load_table applies for the operator)
            "user_id", "event_id", "unix_micros(cast(ts AS timestamp_ltz)) AS us"
        )
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id))
    scored = []
    for uid, evs in by_user.items():
        evs.sort()
        gaps = [
            math.floor((b[0] - a[0]) / 1e6) for a, b in zip(evs, evs[1:])
        ]
        if len(gaps) < 5 or sum(gaps) <= 0:
            continue
        n = len(gaps)
        mean = sum(gaps) / n
        var = sum(g * g for g in gaps) / n - mean * mean
        cv = math.floor(math.sqrt(var) / mean * 1e6 + 0.5) / 1e6
        scored.append((cv, uid, n, mean))
    scored.sort()
    got = q("events_bot_regularity", spark, sf_dir).collect()
    assert len(got) == min(10, len(scored))
    for g, (cv, uid, n, mean) in zip(got, scored[:10]):
        assert g.user_id == uid
        assert g.n_gaps == n
        assert abs(g.cv - cv) < 2e-6
        assert abs(g.mean_gap_s - mean) < 0.011
