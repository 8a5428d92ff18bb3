"""Wave-20 tests: Python graph mirrors. The edge list is taken from
the shared graph.edge_build (collected once), and each algorithm is
re-implemented independently in plain Python over that edge list."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.operators.graph import edge_build
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _collect_graph(spark, sf_dir):
    pairs, und, deg = edge_build(spark, sf_dir)
    edges = [(r.u, r.v) for r in pairs.collect()]
    adj: dict = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    return edges, adj


def test_local_cc_matches_python(spark, sf_dir):
    edges, adj = _collect_graph(spark, sf_dir)
    got = {
        r.node: (r.degree, r.n_triangles, r.local_cc)
        for r in registry.QUERIES["graph_local_clustering_coeff"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(adj)
    for n, nbrs in adj.items():
        d = len(nbrs)
        t = 0
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                if ns[j] in adj[ns[i]]:
                    t += 1
        cc = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert got[n] == (d, t, math.floor(cc * 1e6 + 0.5) / 1e6), n


def test_adamic_adar_matches_python(spark, sf_dir):
    edges, adj = _collect_graph(spark, sf_dir)
    linked = set(edges)
    scores: dict = {}
    nodes = sorted(adj)
    for w in nodes:
        ns = sorted(adj[w])
        term = math.floor(1e9 / math.log(len(ns)) + 0.5)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                x, y = ns[i], ns[j]
                if (x, y) in linked:
                    continue
                k = (x, y)
                c, s = scores.get(k, (0, 0))
                scores[k] = (c + 1, s + term)
    top = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    got = [
        (r.node_a, r.node_b, r.n_common, r.aa_score)
        for r in registry.QUERIES["graph_adamic_adar_topk"](
            spark, sf_dir
        ).collect()
    ]
    expect = [(x, y, c, s / 1e9) for (x, y), (c, s) in top]
    assert got == expect


def test_label_propagation_matches_python(spark, sf_dir):
    edges, adj = _collect_graph(spark, sf_dir)
    labels = {n: n for n in adj}
    for _round in range(2):
        nxt = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[v] for v in nbrs)
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            nxt[n] = best
        labels = nxt
    sizes = Counter(labels.values())
    expect = sorted(
        ((lab, c) for lab, c in sizes.items()), key=lambda kv: (-kv[1], kv[0])
    )
    got = [
        (r.community, r.n_members)
        for r in registry.QUERIES["graph_label_propagation_2round"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect


def test_hits_matches_python(spark, sf_dir):
    # rebuild the capped bipartite incidence list in python
    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "l_orderkey", "l_suppkey"
    )
    rows = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_suppkey") < 1000)
        .selectExpr("o_custkey AS c", "l_suppkey AS s")
        .distinct()
        .collect()
    )
    by_c: dict = defaultdict(list)
    for r in rows:
        by_c[r.c].append(r.s)
    cs = []
    for c, ss in by_c.items():
        for s in sorted(ss)[:20]:
            cs.append((c, s))
    by_s: dict = defaultdict(list)
    by_c2: dict = defaultdict(list)
    for c, s in cs:
        by_s[s].append(c)
        by_c2[c].append(s)
    a9 = {s: 10**9 for s in by_s}
    for _round in range(2):
        h = {c: sum(a9[s] for s in ss) for c, ss in by_c2.items()}
        mh = max(h.values())
        h9 = {c: math.floor(v * 1e9 / mh + 0.5) for c, v in h.items()}
        a = {s: sum(h9[c] for c in cc) for s, cc in by_s.items()}
        ma = max(a.values())
        a9 = {s: math.floor(v * 1e9 / ma + 0.5) for s, v in a.items()}
    top = sorted(a9.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.suppkey, r.authority)
        for r in registry.QUERIES["graph_hits_fixed_iter"](
            spark, sf_dir
        ).collect()
    ]
    assert got == [(s, v / 1e9) for s, v in top]
    # the top authority normalizes to exactly 1
    assert got[0][1] == 1.0
