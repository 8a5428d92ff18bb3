"""Device tests for the wave-29 operators: each pins the exactness
trick or boundary rule the oracle relies on via an independent
brute-force computation on the sf0.001 fixture (the oracle shares
the operator's formula, so these are the formula-level check)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

from tests.helpers import daily_cents_rows

registry.load_all()


def test_friedman_matches_bruteforce(spark, sf_dir):
    """Tie-averaged within-block ranks + the tie-corrected Q,
    recomputed directly from (week, weekday, cents) cells."""
    out = registry.QUERIES["agg_friedman_test"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            F.date_trunc("week", "ts").alias("w"),
            (F.expr("weekday(ts)") + F.lit(1)).alias("dow"),
        )
        .agg(
            F.floor(F.sum("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y")
        )
        .collect()
    )
    blocks = defaultdict(dict)
    for r in cells:
        blocks[r.w][r.dow] = r.y
    full = {w: b for w, b in blocks.items() if len(b) == 7}
    n = len(full)
    assert out.n_weeks == n and n >= 2
    rank_sum = Counter()
    a4 = 0
    for b in full.values():
        ys = sorted(b.values())
        for dow, y in b.items():
            below = sum(1 for v in ys if v < y)
            t = sum(1 for v in ys if v == y)
            r2 = 2 * below + t + 1  # 2x tie-averaged rank
            rank_sum[dow] += r2
            a4 += r2 * r2
    sq = sum((rank_sum[j] - 8 * n) ** 2 for j in range(1, 8))
    q = 6.0 * sq / (a4 - 448 * n)
    assert abs(out.q_stat - snap(q, 6, math.floor)) < 1e-9


def test_cronbach_alpha_matches_bruteforce(spark, sf_dir):
    """Population variances over the exact per-customer item cents."""
    out = registry.QUERIES["agg_cronbach_alpha"](spark, sf_dir).collect()[0]
    od = load_table(spark, sf_dir, "orders").collect()
    per = defaultdict(lambda: [0.0, 0.0, 0.0])
    idx = {"O": 0, "F": 1, "P": 2}
    for r in od:
        per[r.o_custkey][idx[r.o_orderstatus]] += r.o_totalprice
    items = [
        [math.floor(v * 100 + 0.5) for v in vs] for vs in per.values()
    ]
    n = len(items)
    assert out.n_customers == n

    def pvar(xs):
        m = sum(xs) / n
        return sum(x * x for x in xs) / n - m * m

    cols = list(zip(*items))
    tot = [sum(row) for row in items]
    alpha = 1.5 * (1 - sum(pvar(c) for c in cols) / pvar(tot))
    assert abs(out.cronbach_alpha - alpha) < 1e-4


def test_decision_stump_is_argmin_over_all_thresholds(spark, sf_dir):
    """Brute-force every quantity threshold; the operator's split
    must achieve the global minimum weighted Gini with the
    smallest-threshold tie-break, and the max-quantity split must
    be excluded."""
    out = registry.QUERIES["ml_decision_stump_gini"](spark, sf_dir).collect()[0]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            (F.col("l_returnflag") == "R").cast("int").alias("y"),
        )
        .collect()
    )
    nq, pq = Counter(), Counter()
    for r in li:
        nq[r.q] += 1
        pq[r.q] += r.y
    qs = sorted(nq)
    N, P = sum(nq.values()), sum(pq.values())
    best = None
    nl = pl = 0
    for q in qs:
        nl += nq[q]
        pl += pq[q]
        if nl == N:
            continue  # empty right side: excluded split
        nr, pr = N - nl, P - pl
        g = 2.0 * (pl * (nl - pl) / nl + pr * (nr - pr) / nr) / N
        if best is None or (g, q) < best:
            best = (g, q)
    assert out.threshold_qty == best[1]
    assert abs(out.weighted_gini - snap(best[0], 6, math.floor)) < 1e-9
    assert out.n_left + out.n_right == N
    assert out.pos_left + out.pos_right == P


def test_permutation_entropy_matches_bruteforce(spark, sf_dir):
    """Sign-triple codes over consecutive day triples, entropy in
    nats and normalized by ln 6 — ties keep their own symbol."""
    out = registry.QUERIES["timeseries_permutation_entropy"](
        spark, sf_dir
    ).collect()[0]
    ys = [y for _, y in daily_cents_rows(spark, sf_dir)]

    def s(a, b):
        return ">" if b > a else ("<" if b < a else "=")

    codes = Counter(
        s(ys[i], ys[i + 1]) + s(ys[i], ys[i + 2]) + s(ys[i + 1], ys[i + 2])
        for i in range(len(ys) - 2)
    )
    n = sum(codes.values())
    h = -sum((c / n) * math.log(c / n) for c in codes.values())
    assert out.n_triples == n
    assert out.n_patterns == len(codes)
    assert abs(out.entropy_nats - h) < 2e-6
    assert abs(out.entropy_normalized - h / math.log(6.0)) < 2e-6


def test_rich_club_matches_bruteforce(spark, sf_dir):
    """N_k / E_k suffix sums equal a direct both-endpoints-over-k
    count, and phi is NULL below two club nodes."""
    rows = registry.QUERIES["graph_rich_club_coefficient"](
        spark, sf_dir
    ).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .collect()
    )
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_suppkey)
    edges = set()
    for ss in by_order.values():
        ss = sorted(ss)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                edges.add((ss[i], ss[j]))
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    assert [r.degree_threshold for r in rows] == [1, 2, 4, 8, 16, 32]
    for r in rows:
        k = r.degree_threshold
        club = {x for x, d in deg.items() if d > k}
        ek = sum(1 for u, v in edges if u in club and v in club)
        assert r.n_club_nodes == len(club)
        assert r.n_club_edges == ek
        if len(club) >= 2:
            phi = 2.0 * ek / (len(club) * (len(club) - 1.0))
            assert abs(r.rich_club_phi - snap(phi, 6, math.floor)) < 1e-9
        else:
            assert r.rich_club_phi is None
