"""Graph analytics over relational facts: iterative algorithms
expressed as DataFrame joins + aggregations per superstep.

The pattern (shared with dedup.py::connected_components): build the
edge list ONCE from the fact table (the only fact-sized work), then
iterate on node/edge-domain tables — each superstep is a
contribution join + a partial-aggregated groupBy, i.e. a sparse
mat-vec. At 100 TB the edge build dominates; supersteps shuffle only
|E| contribution rows keyed by destination. For long iteration
chains, catalog.checkpointed per superstep truncates lineage (see
connected_components); the fixed-k unrolled form here keeps the plan
pure so the oracle can mirror it exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import (
    cached,
    checkpointed,
    load_table,
    small_fact_session,
)
from etl_data_ingestion_spark.functions.arrays import ordered_pairs
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans.registry import register

PAGERANK_ORACLE = """
-- Weighted PageRank, 3 unrolled iterations, damping 0.85, over the
-- symmetric customer--supplier graph (edge weight = number of
-- lineitems between them; both directions, so no dangling nodes).
-- pr0 = 1/N; pr_{k+1}(v) = (1-d)/N + d * SUM_u pr_k(u)*w(u,v)/outw(u).
-- Every step is a join + groupBy in both engines; DuckDB unrolls the
-- iterations as CTEs. Top-20 nodes, deterministic tie-break.
WITH pairs AS (
  SELECT 'C' || o.o_custkey AS src, 'S' || l.l_suppkey AS dst,
         COUNT(*) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, CAST(w AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(w AS DOUBLE) AS w FROM pairs
), outw AS (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
), n AS (
  SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS nn FROM edges
), pr0 AS (
  SELECT src AS node, 1.0 / (SELECT nn FROM n) AS pr
  FROM outw
), pr1 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT nn FROM n)
         + 0.85 * SUM(p.pr * e.w / o.ow) AS pr
  FROM edges e
  JOIN pr0 p ON p.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), pr2 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT nn FROM n)
         + 0.85 * SUM(p.pr * e.w / o.ow) AS pr
  FROM edges e
  JOIN pr1 p ON p.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), pr3 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT nn FROM n)
         + 0.85 * SUM(p.pr * e.w / o.ow) AS pr
  FROM edges e
  JOIN pr2 p ON p.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY e.dst
)
SELECT node, ROUND(pr * 1000, 6) AS pr_milli
FROM pr3
ORDER BY pr_milli DESC, node
LIMIT 20
"""


@register("graph_pagerank_bipartite", oracle=PAGERANK_ORACLE)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, d=0.85) over the symmetric
    customer--supplier purchase graph. Scale shape: the ONLY
    fact-sized work is the edge build (orders JOIN lineitem, one
    partial-aggregated groupBy to (src,dst,w)); every superstep after
    that is |E|-sized — contributions = edges JOIN pr (pr is
    node-sized, broadcastable when nodes << edges) then a groupBy on
    dst. The symmetric edge set means no dangling-mass correction
    term, keeping each superstep a pure join+agg both engines can
    state identically. Fixed k=3 unrolled; for convergence loops at
    scale, add catalog.checkpointed per superstep exactly as
    dedup_cluster_components does. Emits pr*1000 rounded so float
    summation-order epsilon stays out of the value hash.

    A single-checkpoint fusion (persist pairs, checkpoint only
    norm_edges, derive pr0/n from a distinct over the checkpoint, AQE
    gate) measured +20% slower min-of-4 at sf0.1 (8.26 -> 9.89s; the
    extra |E| distinct for pr0 and the in-job duplication of the
    edges union cost more than the saved job submissions, and the
    gate itself cost +0.3s on this query), so the two checkpoints
    stay; the residue is ledgered as FLOOR-class in PLANS.md (edge
    build dominates; DuckDB pays ~0.9s on the same CTE chain)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Numeric node ids through the whole iteration (customers as-is,
    # suppliers offset into a disjoint range): long shuffle keys hash/
    # compare cheaper than the "C123"/"S45" strings, which are only
    # materialized in the final 20-row projection.
    supplier_base = 1 << 40
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + supplier_base).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # Materialize the |E|-sized edge list ONCE: without this the
    # fact-sized orders-join-lineitem build re-executes for outw and
    # for every superstep (4-5x the only expensive stage; measured
    # 8.4s -> ~2s at sf0.1). localCheckpoint also truncates the
    # superstep lineage chain, the convergence-loop posture at scale.
    edges = checkpointed(pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ))
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    n_nodes = outw.count()  # node-domain count, one small job
    # Row-normalize ONCE (w/ow folded into the edge list) so each
    # superstep is a single broadcast-join + agg instead of two joins;
    # pr is node-sized, so F.broadcast keeps every superstep shuffle-
    # free on the edge side (the groupBy on dst is the only Exchange).
    norm_edges = checkpointed(
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("nw"))
    )
    pr = outw.select("src", (F.lit(1.0) / n_nodes).alias("pr")).withColumnRenamed(
        "src", "node"
    )
    # empty graph: every relation in the superstep chain is already
    # 0 rows, so the result is the oracle's empty set — only this
    # driver-side literal would divide by zero. Populated plans are
    # bit-identical (base is the same literal whenever n_nodes > 0).
    base = 0.15 / n_nodes if n_nodes else 0.0
    for _ in range(3):
        contribs = (
            norm_edges.join(F.broadcast(pr), norm_edges.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("nw")).alias("s"))
        )
        pr = contribs.select(
            F.col("dst").alias("node"),
            (F.lit(base) + 0.85 * F.col("s")).alias("pr"),
        )
    label = F.when(
        F.col("node") >= supplier_base,
        F.concat(F.lit("S"), (F.col("node") - supplier_base).cast("string")),
    ).otherwise(F.concat(F.lit("C"), F.col("node").cast("string")))
    return (
        pr.select(
            label.alias("node"),
            F.round(F.col("pr") * 1000, 6).alias("pr_milli"),
        )
        .orderBy(F.desc("pr_milli"), "node")
        .limit(20)
    )


REACHABILITY_ORACLE = """
-- Recursive-CTE reachability (WITH RECURSIVE — Spark 4 and DuckDB
-- both run the ANSI form): BFS from 'view' over the distinct
-- event-type transition graph, min hop-depth per reachable type,
-- horizon 5. The SQL-API face of iterative graph traversal — the
-- DataFrame face is graph_pagerank_bipartite / connected_components.
WITH RECURSIVE e AS (
  SELECT DISTINCT event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
), edges AS (
  SELECT a, b FROM e WHERE b IS NOT NULL AND a <> b
), reach(node, depth) AS (
  SELECT 'view', 0
  UNION ALL
  SELECT edges.b, r.depth + 1
  FROM reach r JOIN edges ON edges.a = r.node
  WHERE r.depth < 5
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS min_depth
FROM reach GROUP BY node ORDER BY node
"""


@register("graph_reachability_recursive", oracle=REACHABILITY_ORACLE)
def graph_reachability_recursive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BFS reachability via ANSI WITH RECURSIVE (Spark 4 recursive
    CTE): min transition-depth from 'view' over the event-type
    graph. The edge build is the fact-sized step (one user_id window
    + distinct on a |types|² domain); the recursion then iterates on
    the tiny edge relation — Spark executes each recursive step as a
    join, unioning to fixpoint under the depth guard, the same
    superstep shape as the hand-rolled loops but declared in SQL."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(REACHABILITY_ORACLE)


# ------------------------------------ supplier co-purchase edge build


def posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer supplier posting lists (c, ss): ss is the sorted
    set of suppliers (l_suppkey < 1000) customer c bought from,
    capped at the 20 smallest ids. One groupBy(c) aggregation over
    the orders-lineitem join: the partial collect_set dedups
    map-side, and the slice is the cap, which bounds each customer's
    pair expansion at C(20,2) pairs at any sf. The suppkey filter
    bounds the per-key set before the cap."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_suppkey") < 1000)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .groupBy("c")
        .agg(F.slice(F.sort_array(F.collect_set("s")), 1, 20).alias("ss"))
    )


def edge_build(spark: SparkSession, sf_dir: str):
    """The supplier co-purchase graph every wedge query runs on,
    returned as (pairs, und, deg):

    - pairs (u, v, du, dv) with u < v: each edge once, with the
      degrees of both endpoints on the row;
    - und (u, v, du, dv): both orientations;
    - deg (n, d): node degrees, one row per node.

    The edges are the supplier pairs whose shared-customer count is at
    or above the exact p90 order statistic of all pair counts
    (engine-identical and scale-free, where a fixed count threshold
    degenerates to a complete or empty graph as sf moves). The pairs
    explode in-row from each posting list and are counted by a
    distributed (u, v) aggregation; that and the posting lists are the
    only fact-sized work.

    Nodes are suppliers with l_suppkey < 1000, so there are at most
    999 nodes and C(999, 2) = 498,501 pairs at every sf. That bound
    lets one Exchange SinglePartition above the (u, v) count carry the
    rest: the cut is a window keyed on the partition id, which the
    single partition satisfies, both orientations explode in-row,
    and the degree windows partitioned by u and by v add no exchange.
    One row per node is marked (its smallest neighbour) for deg. The
    adjacency is localCheckpointed once, as one partition of at most
    2 * 498,501 rows; pairs, und and deg are narrow projections of
    it, and callers plan their joins against these node- and
    edge-bounded tables as broadcasts. graph2.EDGE_BUILD_SQL is the
    oracle form."""
    allpairs = (
        posting_lists(spark, sf_dir)
        .select(F.explode(ordered_pairs("ss", "u", "v")).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    by_u, by_v = Window.partitionBy("u"), Window.partitionBy("v")
    # After repartition(1) the partition id is one key for every row.
    # A literal key would be optimized away, and a window with no key
    # logs Spark's "No Partition Defined" warning on every build.
    whole = Window.partitionBy(F.spark_partition_id())
    adj = checkpointed(
        allpairs.repartition(1)
        .withColumn(
            "thr",
            F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY shared)")
            .over(whole),
        )
        .filter(F.col("shared") >= F.col("thr"))
        .select(
            F.explode(
                F.array(
                    F.struct("u", "v"),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .select(
            "u",
            "v",
            F.count(F.lit(1)).over(by_u).alias("du"),
            F.count(F.lit(1)).over(by_v).alias("dv"),
            (F.col("v") == F.min("v").over(by_u)).alias("first"),
        )
    )
    und = adj.select("u", "v", "du", "dv")
    pairs = und.filter(F.col("u") < F.col("v"))
    deg = adj.filter("first").select(F.col("u").alias("n"), F.col("du").alias("d"))
    return pairs, und, deg


TRIANGLE_ORACLE = """
-- Triangle counting with DEGREE-ORDERED edge orientation (the
-- standard scalable formulation: orienting every edge from its
-- lower-(degree,id) endpoint to the higher one makes each triangle
-- countable exactly once and bounds every node's out-degree by
-- O(sqrt(|E|)), so the wedge join never explodes on hubs). Graph:
-- supplier pairs in the TOP DECILE of shared-customer counts (the
-- p90 cut is an exact order statistic — engine-identical and
-- scale-free, where any fixed count threshold degenerates to a
-- complete or empty graph as sf changes).
WITH cs0 AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_suppkey < 1000
), cs AS (
  -- posting-list cap (dedup-tier discipline): each customer
  -- contributes pairs from its 20 SMALLEST supplier ids only —
  -- deterministic, mirrored in both engines; bounds the per-customer
  -- quadratic at 190 pairs so the build can't blow up at any sf
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM cs0
  ) WHERE rn <= 20
), allpairs AS (
  SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
), cut AS (
  SELECT quantile_disc(shared, 0.90) AS thr FROM allpairs
), pairs AS (
  SELECT u, v FROM allpairs, cut WHERE shared >= thr
), und AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), deg AS (
  SELECT u AS n, COUNT(*) AS d FROM und GROUP BY u
), oriented AS (
  SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS b
  FROM pairs e
  JOIN deg da ON da.n = e.u
  JOIN deg db ON db.n = e.v
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.a = e1.b
  JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT)    AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT)  AS n_edges,
       CAST(COUNT(*) AS BIGINT)                      AS n_triangles
FROM tri
"""


@register("graph_triangle_count", oracle=TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the supplier co-purchase graph via
    degree-ordered orientation: each undirected edge points from its
    lower-(degree, id) endpoint to the higher, every triangle is
    counted exactly once, and out-degrees are O(sqrt(|E|))-bounded so
    the wedge self-join stays polynomial even with hub nodes — the
    formulation that survives power-law graphs at scale. The only
    fact-sized work is edge_build (one posting-list aggregation + one
    pair-count aggregate; TRIANGLE_ORACLE states it as the DISTINCT +
    ROW_NUMBER cap + self-join chain). Scale shape: at most 999 nodes
    and 498,501 edges at any sf; each edge row carries both endpoint
    degrees, so the oriented list is a narrow projection of the
    edge_build checkpoint: its three readers (the wedge and closure
    joins) re-derive it with no degree join and no checkpoint of its
    own."""
    pairs, und, deg = edge_build(spark, sf_dir)
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pairs.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    counts = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(counts)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


LINK_PREDICTION_ORACLE = """
-- Common-neighbors link prediction over the supplier co-purchase
-- graph (same bounded p90 edge build as graph_triangle_count): for
-- supplier pairs NOT already linked, count shared neighbors; the
-- top-scored unlinked pairs are the recommendation candidates. The
-- wedge join (edges x edges through the common endpoint) is the same
-- bounded shape as triangle counting; the anti-join removes existing
-- edges. Top 10, fully tie-broken.
WITH cs0 AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_suppkey < 1000
), cs AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM cs0
  ) WHERE rn <= 20
), allpairs AS (
  SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
), cut AS (
  SELECT quantile_disc(shared, 0.90) AS thr FROM allpairs
), pairs AS (
  SELECT u, v FROM allpairs, cut WHERE shared >= thr
), und AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), wedges AS (
  SELECT e1.v AS a, e2.v AS b, COUNT(*) AS common
  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
  GROUP BY e1.v, e2.v
), unlinked AS (
  SELECT w.a, w.b, w.common
  FROM wedges w LEFT JOIN pairs p ON p.u = w.a AND p.v = w.b
  WHERE p.u IS NULL
)
SELECT CAST(a AS BIGINT) AS supplier_a,
       CAST(b AS BIGINT) AS supplier_b,
       CAST(common AS BIGINT) AS common_neighbors
FROM unlinked
ORDER BY common DESC, a, b
LIMIT 10
"""


@register("graph_link_prediction", oracle=LINK_PREDICTION_ORACLE)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction: rank UNLINKED supplier pairs
    by shared graph neighbors — the classic recommendation baseline.
    Same bounded edge build as graph_triangle_count (posting-list
    cap + p90 order-statistic cut), wedge aggregation through the
    shared endpoint, anti-join against existing edges, top-10 with
    full tie-break. Scale shape: at most 999 nodes and 498,501 edges
    at any sf, so the wedge's build side and the anti-join's edge
    list are planned as broadcasts; the (a, b) aggregation is the
    one shuffle after the edge build."""
    pairs, und, _deg = edge_build(spark, sf_dir)
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    wedges = (
        e1.join(
            F.broadcast(e2),
            (F.col("e1.u") == F.col("e2.u"))
            & (F.col("e1.v") < F.col("e2.v")),
        )
        .groupBy(F.col("e1.v").alias("wa"), F.col("e2.v").alias("wb"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    unlinked = wedges.join(
        F.broadcast(pairs.select("u", "v")),
        (F.col("u") == F.col("wa")) & (F.col("v") == F.col("wb")),
        "left_anti",
    )
    return (
        unlinked.select(
            F.col("wa").cast("long").alias("supplier_a"),
            F.col("wb").cast("long").alias("supplier_b"),
            F.col("common").cast("long").alias("common_neighbors"),
        )
        .orderBy(F.desc("common_neighbors"), "supplier_a", "supplier_b")
        .limit(10)
    )


DEGREE_DIST_ORACLE = """
-- Degree distribution of the customer--supplier trade graph: per
-- customer, the number of DISTINCT suppliers its lineitems touch;
-- then the histogram of customers per degree. The canonical first
-- diagnostic on any large graph (scale-free tail? skew hot spots
-- that will break a per-node join?). Exact integer counts only.
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT c, COUNT(*) AS degree FROM edges GROUP BY c
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM deg GROUP BY degree ORDER BY degree
"""


@register("graph_degree_distribution", oracle=DEGREE_DIST_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer--supplier graph — the skew
    diagnostic run before any per-node graph algorithm (a power-law
    tail here predicts hot keys in the contribution joins).

    Scale shape: the fact join is the only corpus-sized work (orders
    side projected to two ints); DISTINCT dedupes edges with
    partial aggregation before the shuffle; the degree table is
    node-domain-sized and its histogram is domain-of-degrees-sized.
    At 100 TB the edge dedup is the bottleneck by construction —
    exactly the shuffle the algorithm needs and no more."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False).select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders", parallel=False).select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("degree")
    )


KCORE_ORACLE = """
-- k-core peeling (k=3, three unrolled rounds) on the bipartite
-- customer--supplier trade graph: repeatedly delete nodes with
-- degree < k and the edges that die with them, reporting the
-- surviving node/edge counts per round — THE graph-sparsification
-- preprocessing (community detection and dense-subgraph mining run
-- on the core, not the raw graph). Suppliers are namespaced as
-- negative node ids so both partitions share one node domain.
-- Exact integer counts only; fixed unroll keeps the plan pure so
-- the oracle mirrors it CTE-for-superstep.
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS u, -l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), d1 AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0
  ) GROUP BY n
), a1 AS (SELECT n FROM d1 WHERE deg >= 3),
e1 AS (
  SELECT e.u, e.v FROM e0 e
  JOIN a1 x ON e.u = x.n JOIN a1 y ON e.v = y.n
), d2 AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM e1 UNION ALL SELECT v AS n FROM e1
  ) GROUP BY n
), a2 AS (SELECT n FROM d2 WHERE deg >= 3),
e2 AS (
  SELECT e.u, e.v FROM e1 e
  JOIN a2 x ON e.u = x.n JOIN a2 y ON e.v = y.n
), d3 AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM e2 UNION ALL SELECT v AS n FROM e2
  ) GROUP BY n
), a3 AS (SELECT n FROM d3 WHERE deg >= 3),
e3 AS (
  SELECT e.u, e.v FROM e2 e
  JOIN a3 x ON e.u = x.n JOIN a3 y ON e.v = y.n
)
SELECT * FROM (
  SELECT 0 AS iteration,
         (SELECT COUNT(*) FROM d1) AS n_nodes,
         (SELECT COUNT(*) FROM e0) AS n_edges
  UNION ALL SELECT 1, (SELECT COUNT(*) FROM a1), (SELECT COUNT(*) FROM e1)
  UNION ALL SELECT 2, (SELECT COUNT(*) FROM a2), (SELECT COUNT(*) FROM e2)
  UNION ALL SELECT 3, (SELECT COUNT(*) FROM a3), (SELECT COUNT(*) FROM e3)
) ORDER BY iteration
"""


def customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (u = o_custkey, v = -l_suppkey) edges of the
    customer--supplier graph from one lineitem-orders join; suppliers
    are negated so both node kinds share one id space. Edge dedup
    (DISTINCT with partial aggregation) is its only corpus-sized
    Exchange."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False).select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders", parallel=False).select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), (-F.col("l_suppkey")).alias("v"))
        .distinct()
    )


@register("graph_kcore_peel", oracle=KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, 3 rounds) on the customer--supplier
    graph — iterative degree-threshold deletion converging to the
    3-core, the standard densification step before community/dense-
    subgraph algorithms.

    Scale shape: the edge build (customer_supplier_edges) is the only
    corpus-sized work; every peel round is a node-domain groupBy plus
    two semi-joins of the shrinking edge set against the shrinking
    active set — the same contribution-join shape as connected
    components, with monotonically DECREASING data per round. Fixed
    unroll keeps the lineage short (an open-ended peel would
    localCheckpoint per round, as dedup.connected_components does).

    Planned on catalog.small_fact_session: the peel rounds run
    shrinking node-domain aggregates where AQE's per-stage
    materialization is pure overhead (~7.6s with AQE vs ~4.8s without
    at sf0.1; ~50 stage-jobs vs ~12). The result is lazy and runs in
    one action: each level derives both its counts (n_active x
    n_edges) as a crossJoin of two 1-row aggregates over the persisted
    level, and the four count rows are one union. The per-level
    persist is load-bearing: every union branch references the SAME
    persisted DataFrame objects, so the branches share their cached
    stages; without it AQE re-planned each branch independently and
    re-ran every upstream peel stage per branch (494 jobs, 39.5s at
    sf0.1 against 9.0s — tools/floor_decompose.py)."""
    spark = small_fact_session(spark, sf_dir, "lineitem")
    e = cached(customer_supplier_edges(spark, sf_dir))

    def degrees(e: DataFrame) -> DataFrame:
        nodes = e.select(F.col("u").alias("n")).unionAll(
            e.select(F.col("v").alias("n"))
        )
        return nodes.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))

    def count_row(it: int, nodes: DataFrame, e: DataFrame) -> DataFrame:
        return (
            nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(F.lit(it).alias("iteration"), "n_nodes", "n_edges")
        )

    d = degrees(e)
    out = count_row(0, d.select("n"), e)
    for it in (1, 2, 3):
        active = d.filter(F.col("deg") >= 3).select("n")
        e = cached(
            e.join(active.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(active.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
        )
        out = out.unionAll(count_row(it, active, e))
        d = degrees(e)
    return out.orderBy("iteration")


ASSORTATIVITY_ORACLE = """
-- Degree assortativity (Newman 2002) of the customer--supplier
-- graph: the Pearson correlation of endpoint degrees over all edge
-- ENDPOINT ORIENTATIONS (each undirected edge contributes both
-- (j,k) and (k,j), which makes the estimator symmetric without the
-- half-sum correction terms) — disassortative graphs (hubs link to
-- leaves, r<0) need different partitioning strategy than
-- assortative ones (hub-hub cores, skew hot spots). All moments
-- are exact BIGINT sums of integer degrees; r is one fixed-order
-- double chain, snapped.
WITH e AS (
  SELECT DISTINCT o.o_custkey AS u, -l.l_suppkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
  ) GROUP BY n
), oriented AS (
  SELECT du.d AS j, dv.d AS k
  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
  UNION ALL
  SELECT dv.d AS j, du.d AS k
  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
), m AS (
  SELECT COUNT(*) AS n2,
         CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
         CAST(SUM(j * k) AS BIGINT) AS sjk,
         CAST(SUM(j * j) AS BIGINT) AS sjj,
         CAST(SUM(k * k) AS BIGINT) AS skk
  FROM oriented
)
SELECT CAST(n2 / 2 AS BIGINT) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       FLOOR(((sjk * 1.0 / n2 - (sj * 1.0 / n2) * (sk * 1.0 / n2))
              / (SQRT(sjj * 1.0 / n2 - (sj * 1.0 / n2) * (sj * 1.0 / n2))
                 * SQRT(skk * 1.0 / n2 - (sk * 1.0 / n2) * (sk * 1.0 / n2))))
             * 1000000 + 0.5) / 1000000 AS assortativity
FROM m
"""


@register("graph_assortativity", oracle=ASSORTATIVITY_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the customer--supplier
    graph — one number telling you whether hubs connect to hubs
    (r>0) or to leaves (r<0), which predicts whether per-node joins
    will see correlated or anti-correlated skew.

    Scale shape (an algebraic form of the oracle's oriented union,
    with the same exact integers): over the oriented endpoint list,
    sum(j) = sum_n d^2, sum(j^2) = sum_n d^3, and the pair count
    n2 = sum_n d = 2m — three of the five moments (and both symmetric
    twins) collapse onto the node-domain degree table, read in ONE
    tiny aggregation. Only sum(j*k) = 2 * sum_edges d_u*d_v still
    touches edges: one pass over the persisted edge list with the
    degree table broadcast-joined on both endpoints (deg is
    dim-domain here — customers + suppliers), with no shuffle join
    and no 2|E|-row oriented union pass. Edge dedup
    (customer_supplier_edges) is the only corpus-sized Exchange.
    Degree moments stay exact in int64 to d^3 ~ 2^63/|V| (the
    oracle's SUM(j*j) over pairs is the same Σd^3, so the bound is
    the estimator's, not this route's); beyond that the moments move
    to the oracle-mirrored double path (documented cutover). Planned
    on catalog.small_fact_session, like graph_kcore_peel. The edge
    list and the degree table stay persisted after the result runs:
    without them the plan recomputes both per consumer (2.9s against
    1.3s at sf0.1)."""
    spark = small_fact_session(spark, sf_dir, "lineitem")
    e = cached(customer_supplier_edges(spark, sf_dir))
    deg = cached(
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d = F.col("d")
    degm = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(d).alias("n2"),
        F.sum(d * d).alias("s2"),
        F.sum(d * d * d).alias("s3"),
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("dj"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dk"))
    sjk = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg((2 * F.sum(F.col("dj") * F.col("dk"))).alias("sjk"))
    )
    n2 = F.col("n2")
    mj = F.col("s2") * 1.0 / n2
    num = F.col("sjk") * 1.0 / n2 - mj * mj
    den = F.sqrt(F.col("s3") * 1.0 / n2 - mj * mj)
    return degm.crossJoin(F.broadcast(sjk)).select(
        # coalesce: sum(d) over the 0-row degree table of an empty
        # corpus is NULL where the oracle's count is 0
        F.coalesce((n2 / 2).cast("long"), F.lit(0)).alias("n_edges"),
        "n_nodes",
        snap(num / (den * den), 6).alias("assortativity"),
    )


MODULARITY_ORACLE = """
-- Newman modularity Q of the NATION partition over the supplier
-- co-purchase graph: do suppliers cluster by nation, or is the
-- co-purchase structure nation-blind? The one-number answer to
-- 'is this metadata partition a real community structure' —
-- the validation step before trusting any community label.
-- Q = sum_c [ e_c/m - (d_c/(2m))^2 ]
--   = (4m * sum(e_c) - sum(d_c^2)) / (4m^2)
-- with e_c = intra-community edges, d_c = total degree of c, m =
-- |edges| — ALL exact integers, so Q is one division + one snap.
WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
), comm AS (
  SELECT s_suppkey, s_nationkey AS c FROM supplier
), edges AS (
  SELECT p.s1, p.s2, c1.c AS c1, c2.c AS c2
  FROM pairs p
  JOIN comm c1 ON c1.s_suppkey = p.s1
  JOIN comm c2 ON c2.s_suppkey = p.s2
), m AS (
  SELECT COUNT(*) AS m, SUM(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS intra
  FROM edges
), deg AS (
  SELECT c, SUM(d) AS dc FROM (
    SELECT c1 AS c, COUNT(*) AS d FROM edges GROUP BY 1
    UNION ALL
    SELECT c2 AS c, COUNT(*) AS d FROM edges GROUP BY 1
  ) GROUP BY 1
), sq AS (
  SELECT CAST(SUM(dc * dc) AS BIGINT) AS sum_dc2,
         COUNT(*) AS n_communities
  FROM deg
)
SELECT CAST(m.m AS BIGINT) AS n_edges,
       CAST(m.intra AS BIGINT) AS intra_edges,
       sq.n_communities,
       FLOOR((4.0 * m.m * m.intra - sq.sum_dc2)
             / (4.0 * m.m * m.m) * 1000000 + 0.5) / 1000000 AS modularity
FROM m CROSS JOIN sq
"""


@register("graph_community_modularity", oracle=MODULARITY_ORACLE)
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the supplier
    co-purchase graph — validates whether a metadata grouping is a
    real community structure before anything downstream trusts the
    label (Q near 0: nation-blind wiring; Q >> 0: real clustering).

    Plan (contingency-table fusion): the edge build is the per-order
    self-join — bounded (<= 7 lines/order -> <= 21 pairs), DISTINCT
    shuffles 16-byte pairs with map-side partial dedup, and at this
    input size AQE runtime-converts it to a broadcast join with NO
    fact shuffle (a basket-pair collect_set/HOF variant measured
    +34% at sf0.1, min-of-4 — the basket groupBy forces the fact
    Exchange AQE avoids; rejected, ledgered in PLANS.md). After the
    community labels broadcast-join from the supplier dim, the WHOLE
    rest of the query collapses onto the |nations|^2-row (c1,c2)
    contingency table in one tiny groupBy — m and intra are sums
    over it, the per-community degree rollup reads it twice
    (domain-sized), and Q is one exact-integer formula on a single
    row; no pass runs over an |E|-row edge list after the build.
    Integer bound: sum(d_c^2) <= 4m^2 overflows
    int64 past m ~ 1.5e9 edges — the 4.0* float promotion below
    (mirrored in both engines) is exact to 2^53 and documented past
    that."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True).select(
        "l_orderkey", "l_suppkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
    )
    comm = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("c")
    )
    cc = cached(
        pairs.join(
            F.broadcast(
                comm.select(
                    F.col("s_suppkey").alias("s1"), F.col("c").alias("c1")
                )
            ),
            "s1",
        )
        .join(
            F.broadcast(
                comm.select(
                    F.col("s_suppkey").alias("s2"), F.col("c").alias("c2")
                )
            ),
            "s2",
        )
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = cc.agg(
        F.sum("cnt").alias("m"),
        F.sum(
            F.when(F.col("c1") == F.col("c2"), F.col("cnt")).otherwise(0)
        ).alias("intra"),
    )
    deg = (
        cc.select(F.col("c1").alias("c"), F.col("cnt").alias("d"))
        .unionAll(cc.select(F.col("c2").alias("c"), F.col("cnt").alias("d")))
        .groupBy("c")
        .agg(F.sum("d").alias("dc"))
    )
    sq = deg.agg(
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_dc2"),
        F.count(F.lit(1)).alias("n_communities"),
    )
    mm, intra = F.col("m"), F.col("intra")
    q = (4.0 * mm * intra - F.col("sum_dc2")) / (4.0 * mm * mm)
    return m.crossJoin(F.broadcast(sq)).select(
        # coalesce: sum(cnt) over the 0-row pair-count relation of an
        # empty corpus is NULL where the oracle's count is 0; intra
        # stays NULL to match the oracle
        F.coalesce(mm.cast("long"), F.lit(0)).alias("n_edges"),
        intra.cast("long").alias("intra_edges"),
        F.col("n_communities"),
        snap(q, 6).alias("modularity"),
    )


RICH_CLUB_ORACLE = """
-- Rich-club coefficient phi(k) of the supplier co-purchase graph at
-- doubling degree thresholds k = 1,2,4,...,32: among nodes of
-- degree > k, what fraction of the possible edges actually exist?
-- A rising phi(k) says hubs preferentially wire to hubs — the
-- topology reading that tells a partitioner whether the hot keys
-- collide (hub-hub edges concentrate in few partitions) or spread.
-- (Unnormalized textbook phi; the degree-preserving-rewire
-- normalization needs randomization and is out of scope.) EXACT
-- device: a node-degree histogram and an edge min-endpoint-degree
-- histogram reduce the graph to two degree-domain tables; every
-- N_k / E_k is a suffix sum over those, so the threshold sweep
-- never rescans edges.
WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT s1 AS n FROM pairs UNION ALL SELECT s2 AS n FROM pairs
  ) GROUP BY n
), node_hist AS (
  SELECT d, COUNT(*) AS cn FROM deg GROUP BY d
), emin AS (
  SELECT LEAST(d1.d, d2.d) AS m
  FROM pairs p JOIN deg d1 ON p.s1 = d1.n JOIN deg d2 ON p.s2 = d2.n
), edge_hist AS (
  SELECT m, COUNT(*) AS ce FROM emin GROUP BY m
), ks AS (
  SELECT UNNEST([1, 2, 4, 8, 16, 32]) AS k
), nk AS (
  SELECT k, CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS n_k
  FROM ks LEFT JOIN node_hist ON node_hist.d > ks.k GROUP BY k
), ek AS (
  SELECT k, CAST(COALESCE(SUM(ce), 0) AS BIGINT) AS e_k
  FROM ks LEFT JOIN edge_hist ON edge_hist.m > ks.k GROUP BY k
)
SELECT nk.k AS degree_threshold, n_k AS n_club_nodes, e_k AS n_club_edges,
       CASE WHEN n_k >= 2
            THEN FLOOR(2.0 * e_k / (n_k * (n_k - 1.0)) * 1000000 + 0.5)
                 / 1000000
            ELSE NULL END AS rich_club_phi
FROM nk JOIN ek USING (k) ORDER BY degree_threshold
"""


@register("graph_rich_club_coefficient", oracle=RICH_CLUB_ORACLE)
def graph_rich_club_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rich-club coefficient sweep over the supplier co-purchase
    graph (see oracle for the suffix-sum-over-histograms device).

    Scale shape: the edge build is the fact-sized work (the same
    bounded per-order self-join as the modularity operator — <= 21
    pairs per order, DISTINCT with map-side partial dedup); degrees
    and the two histograms reduce edge/node-domain tables to DEGREE
    domains (hundreds of rows even on hub-heavy graphs), and the
    six-threshold sweep joins histogram x thresholds — never
    rescanning edges. At 100 TB the DISTINCT on pairs is the only
    exchange that grows; phi itself is domain math.

    A basket-pair (collect_set + HOF expansion, the item_cf device)
    edge build measured a -4% wash at sf0.1 but +74% slower at sf1
    (1.32 vs 2.30s min-of-4 on the isolated pair build): for a
    DISTINCT-pair build the self-join lets AQE pick the physical
    join while collect_set always pays an array-aggregation corpus
    shuffle. item_cf's basket win is for pair COUNTING (it replaces
    the pair groupBy, not a distinct). So the self-join stays; an
    AQE-gate variant was also a wash."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False).select(
        "l_orderkey", "l_suppkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = cached(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
    )
    deg = cached(
        pairs.select(F.col("s1").alias("n"))
        .unionAll(pairs.select(F.col("s2").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    node_hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cn"))
    emin = (
        pairs.join(
            F.broadcast(deg.select(F.col("n").alias("s1"), F.col("d").alias("d1"))),
            "s1",
        )
        .join(
            F.broadcast(deg.select(F.col("n").alias("s2"), F.col("d").alias("d2"))),
            "s2",
        )
        .select(F.least("d1", "d2").alias("m"))
    )
    edge_hist = emin.groupBy("m").agg(F.count(F.lit(1)).alias("ce"))
    ks = spark.range(0, 6).select(
        F.expr("shiftleft(1L, cast(id AS int))").alias("k")
    )
    nk = (
        ks.join(F.broadcast(node_hist), node_hist.d > ks.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long").alias("n_k"))
    )
    ek = (
        ks.join(F.broadcast(edge_hist), edge_hist.m > ks.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("ce"), F.lit(0)).cast("long").alias("e_k"))
    )
    n_k, e_k = F.col("n_k"), F.col("e_k")
    return (
        nk.join(ek, "k")
        .select(
            F.col("k").alias("degree_threshold"),
            n_k.alias("n_club_nodes"),
            e_k.alias("n_club_edges"),
            F.when(
                n_k >= 2, snap(2.0 * e_k / (n_k * (n_k - 1.0)), 6)
            ).alias("rich_club_phi"),
        )
        .orderBy("degree_threshold")
    )
