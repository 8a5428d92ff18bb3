"""Graph analytics on the supplier co-purchase graph: local
clustering coefficients, Adamic-Adar link prediction, deterministic
2-round label propagation, HITS hubs/authorities and k-truss edge
support.

The graph comes from graph.edge_build, the edge build shared with
graph_triangle_count and graph_link_prediction (capped per-customer
posting lists, in-row pair explode, exact p90 cut, both endpoint
degrees on every edge row); HITS reads the posting lists themselves
through graph.posting_lists. That build is the ONLY fact-sized work.
Its nodes are suppliers with l_suppkey < 1000, so the graph has at
most 999 nodes and C(999, 2) = 498,501 edges at every sf: the build
runs its cut and degrees in one partition, and the algorithms below
plan their joins against its node- and edge-bounded tables as
broadcasts. The oracles state the build as EDGE_BUILD_SQL.

Exactness discipline: clustering/LPA are pure integer math; the two
score-accumulating algorithms (Adamic-Adar, HITS) pre-snap each term
to a fixed integer scale and sum BIGINTs, so the accumulations are
order-free in both engines (the float-sum-order class the multi-scale
sweep polices never arises).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import checkpointed
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.operators import graph
from etl_data_ingestion_spark.plans.registry import register

# The oracle form of graph.edge_build, shared as the prefix of the
# oracles below: cs0/cs state graph.posting_lists as DISTINCT + a
# ROW_NUMBER cap, allpairs states the in-row pair explode as a
# self-join, then the p90 cut, und and deg. edge_build computes the
# same cut and degrees as windows over one partition (at most
# C(999, 2) = 498,501 pairs, suppliers with l_suppkey < 1000) and
# carries du/dv on each edge row; the oracles join deg instead.
EDGE_BUILD_SQL = """
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
), deg AS (
  SELECT u AS n, COUNT(*) AS d FROM und GROUP BY u
)"""


# ------------------------------------- local clustering coefficient

LOCAL_CC_ORACLE = EDGE_BUILD_SQL + """
, oriented AS (
  SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS b
  FROM pairs e
  JOIN deg da ON da.n = e.u
  JOIN deg db ON db.n = e.v
), tri AS MATERIALIZED (
  -- MATERIALIZED: tn references tri three times; without it DuckDB
  -- inlines the whole triangle join per reference and the oracle
  -- runs 3x the work (timed out at sf>=0.1 in the round-9 sweep)
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.a = e1.b
  JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
), tn AS (
  SELECT x AS n FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
), tc AS (
  SELECT n, COUNT(*) AS t FROM tn GROUP BY n
)
SELECT CAST(deg.n AS BIGINT) AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
       FLOOR(CASE WHEN deg.d >= 2
                  THEN 2.0 * COALESCE(tc.t, 0) / (deg.d * (deg.d - 1))
                  ELSE 0.0 END * 1000000 + 0.5) / 1000000 AS local_cc
FROM deg LEFT JOIN tc ON tc.n = deg.n
ORDER BY node
"""


@register("graph_local_clustering_coeff", oracle=LOCAL_CC_ORACLE)
def graph_local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient 2T/(d(d-1)) from the same
    degree-ordered oriented triangle enumeration as
    graph_triangle_count — each triangle credits its three corners.
    How clustered is each supplier's neighborhood (the homophily /
    community-structure diagnostic under the modularity operator)?
    Pure integer math plus one final division per node. Scale shape:
    at most 999 nodes and 498,501 edges at any sf; orientation reads
    both degrees off the edge row, so the oriented list is a narrow
    projection of the edge_build checkpoint that the wedge and
    closure joins re-derive (no degree join, no checkpoint of its
    own)."""
    pairs, und, deg = graph.edge_build(spark, sf_dir)
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pairs.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tn = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
    )
    tc = tn.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    d, t = F.col("d"), F.coalesce(F.col("t"), F.lit(0))
    return (
        deg.join(tc, "n", "left")
        .select(
            F.col("n").cast("long").alias("node"),
            d.cast("long").alias("degree"),
            t.cast("long").alias("n_triangles"),
            snap(
                F.when(d >= 2, 2.0 * t / (d * (d - 1)))
                .otherwise(0.0),
                6,
            ).alias("local_cc"),
        )
        .orderBy("node")
    )


# ----------------------------------------- Adamic-Adar link scores

ADAMIC_ADAR_ORACLE = EDGE_BUILD_SQL + """
, wedge AS (
  SELECT a.u AS x, b.u AS y, a.v AS w
  FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
), existing AS (
  SELECT u, v FROM pairs
), aa AS (
  -- each 1/ln(deg) term pre-snapped to an exact 1e-9 integer so the
  -- per-pair accumulation is an order-free BIGINT sum
  SELECT w1.x, w1.y,
         COUNT(*) AS n_common,
         SUM(CAST(FLOOR(1000000000.0 / ln(d.d) + 0.5) AS BIGINT)) AS s9
  FROM wedge w1
  JOIN deg d ON d.n = w1.w
  LEFT JOIN existing e ON e.u = w1.x AND e.v = w1.y
  WHERE e.u IS NULL
  GROUP BY w1.x, w1.y
)
SELECT CAST(x AS BIGINT) AS node_a, CAST(y AS BIGINT) AS node_b,
       CAST(n_common AS BIGINT) AS n_common,
       s9 / 1000000000.0 AS aa_score
FROM aa
ORDER BY s9 DESC, node_a, node_b
LIMIT 10
"""


@register("graph_adamic_adar_topk", oracle=ADAMIC_ADAR_ORACLE)
def graph_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: unlinked pairs ranked by
    sum(1/ln(deg(w))) over shared neighbors w — the rare-neighbor
    weighting that beats the raw common-neighbor count
    (graph_link_prediction) on hubby graphs. Wedge aggregation
    through the shared endpoint, anti-join against existing edges,
    exact-integer score sums (terms pre-snapped at 1e-9), top-10 with
    full tie-break. Scale shape: at most 999 nodes and 498,501 edges
    at any sf, so the wedge's build side and the anti-join's edge
    list are planned as broadcasts, and deg(w) is the du already on
    the edge row: no degree join, and the (x, y) aggregation is the
    one shuffle after the edge build."""
    pairs, und, _deg = graph.edge_build(spark, sf_dir)
    a, b = und.alias("a"), und.alias("b")
    # wedges x - w - y through the shared endpoint w = u; d = deg(w)
    # rides on the edge row
    wedge = a.join(
        F.broadcast(b),
        (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")),
    ).select(
        F.col("a.v").alias("x"), F.col("b.v").alias("y"), F.col("a.du").alias("d")
    )
    term = fixed(1000000000.0 / F.log(F.col("d")), 0)
    aa = (
        wedge.join(
            F.broadcast(pairs.select(F.col("u").alias("x"), F.col("v").alias("y"))),
            ["x", "y"],
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(term).alias("s9"),
        )
    )
    return (
        aa.select(
            F.col("x").cast("long").alias("node_a"),
            F.col("y").cast("long").alias("node_b"),
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("s9") / 1000000000.0).alias("aa_score"),
            F.col("s9").alias("_s9"),
        )
        .orderBy(F.desc("_s9"), "node_a", "node_b")
        .limit(10)
        .drop("_s9")
    )


# ------------------------- deterministic 2-round label propagation

LPA_ORACLE = EDGE_BUILD_SQL + """
, l0 AS (
  SELECT n, n AS lab FROM deg
), v1 AS (
  SELECT e.u AS n, l.lab, COUNT(*) AS c
  FROM und e JOIN l0 l ON l.n = e.v
  GROUP BY e.u, l.lab
), l1 AS (
  SELECT n, lab FROM (
    SELECT n, lab,
           ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
    FROM v1
  ) WHERE rn = 1
), v2 AS (
  SELECT e.u AS n, l.lab, COUNT(*) AS c
  FROM und e JOIN l1 l ON l.n = e.v
  GROUP BY e.u, l.lab
), l2 AS (
  SELECT n, lab FROM (
    SELECT n, lab,
           ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
    FROM v2
  ) WHERE rn = 1
)
SELECT CAST(lab AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l2
GROUP BY lab
ORDER BY n_members DESC, community
"""


@register("graph_label_propagation_2round", oracle=LPA_ORACLE)
def graph_label_propagation_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two SYNCHRONOUS rounds of label propagation with the
    deterministic tie-break (most frequent neighbor label, ties to
    the smallest) — the cheap community detector beside the
    modularity scorer. Fixed unrolled rounds, exact integer counts,
    total-order tie-breaks: no randomness, no oscillation, identical
    in both engines. Per round: one join keyed on the node id + one
    (node, label) aggregation. Scale shape: the labels are one row
    per node (at most 999 at any sf), so each round's join is planned
    as a broadcast and the aggregation is its only shuffle."""
    _pairs, und, deg = graph.edge_build(spark, sf_dir)
    labels = deg.select("n", F.col("n").alias("lab"))
    for _round in range(2):
        votes = (
            und.join(
                F.broadcast(labels.select(F.col("n").alias("v"), "lab")), "v"
            )
            .groupBy(F.col("u").alias("n"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        wv = Window.partitionBy("n").orderBy(F.desc("c"), "lab")
        labels = (
            votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("n", "lab")
        )
    return (
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("lab").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy(F.desc("n_members"), "community")
    )


# --------------------------------- HITS hubs/authorities, 2 rounds

HITS_ORACLE = """
-- HITS on the bipartite customer->supplier incidence graph (the
-- capped cs build shared with the co-purchase family): authority of
-- a supplier = sum of its customers' hub scores; hub of a customer
-- = sum of its suppliers' authorities. Two unrolled rounds,
-- max-normalized to an EXACT 1e-9 integer grid after every half
-- step, so all neighbor sums are order-free BIGINT sums and every
-- float op is the same single IEEE chain on identical integers in
-- both engines. Top-10 authorities, full tie-break.
WITH cs0 AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_suppkey < 1000
), cs AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM cs0
  ) WHERE rn <= 20
), a0 AS (
  SELECT s, CAST(1000000000 AS BIGINT) AS a9 FROM (SELECT DISTINCT s FROM cs)
), h1r AS (
  SELECT cs.c, SUM(a0.a9) AS h FROM cs JOIN a0 ON a0.s = cs.s GROUP BY cs.c
), h1 AS (
  SELECT c, CAST(FLOOR(h * 1000000000.0 / (SELECT MAX(h) FROM h1r) + 0.5)
                 AS BIGINT) AS h9
  FROM h1r
), a1r AS (
  SELECT cs.s, SUM(h1.h9) AS a FROM cs JOIN h1 ON h1.c = cs.c GROUP BY cs.s
), a1 AS (
  SELECT s, CAST(FLOOR(a * 1000000000.0 / (SELECT MAX(a) FROM a1r) + 0.5)
                 AS BIGINT) AS a9
  FROM a1r
), h2r AS (
  SELECT cs.c, SUM(a1.a9) AS h FROM cs JOIN a1 ON a1.s = cs.s GROUP BY cs.c
), h2 AS (
  SELECT c, CAST(FLOOR(h * 1000000000.0 / (SELECT MAX(h) FROM h2r) + 0.5)
                 AS BIGINT) AS h9
  FROM h2r
), a2r AS (
  SELECT cs.s, SUM(h2.h9) AS a FROM cs JOIN h2 ON h2.c = cs.c GROUP BY cs.s
), a2 AS (
  SELECT s, CAST(FLOOR(a * 1000000000.0 / (SELECT MAX(a) FROM a2r) + 0.5)
                 AS BIGINT) AS a9
  FROM a2r
)
SELECT CAST(s AS BIGINT) AS suppkey, a9 / 1000000000.0 AS authority
FROM a2
ORDER BY a9 DESC, suppkey
LIMIT 10
"""


@register("graph_hits_fixed_iter", oracle=HITS_ORACLE)
def graph_hits_fixed_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 2 unrolled rounds on the bipartite
    incidence graph (see oracle; exact 1e-9 integer grid after each
    max-normalization keeps every accumulation an order-free BIGINT
    sum). Scale shape: each half-round is one join keyed on the
    incidence edge + one aggregation; the 1-row MAX broadcasts."""
    # the capped (c, s) incidence list: the shared posting lists
    # exploded back to rows; four join consumers below
    cs = checkpointed(
        graph.posting_lists(spark, sf_dir)
        .select("c", F.explode("ss").alias("s"))
    )
    auth = cs.select("s").distinct().select(
        "s", F.lit(1000000000).cast("long").alias("a9")
    )

    def norm(df, col, keep):
        m = df.agg(F.max(col).alias("m"))
        return df.crossJoin(F.broadcast(m)).select(
            keep,
            fixed(F.col(col) * 1000000000.0 / F.col("m"), 0).alias(col),
        )

    for _round in range(2):
        hubs_raw = (
            cs.join(auth, "s").groupBy("c").agg(F.sum("a9").alias("h9"))
        )
        hubs = norm(hubs_raw, "h9", "c")
        auth_raw = (
            cs.join(hubs, "c").groupBy("s").agg(F.sum("h9").alias("a9"))
        )
        auth = norm(auth_raw, "a9", "s")
    return (
        auth.select(
            F.col("s").cast("long").alias("suppkey"),
            (F.col("a9") / 1000000000.0).alias("authority"),
            F.col("a9").alias("_a9"),
        )
        .orderBy(F.desc("_a9"), "suppkey")
        .limit(10)
        .drop("_a9")
    )


# ------------------------------------------ k-truss edge support

KTRUSS_ORACLE = EDGE_BUILD_SQL + """
, oriented AS (
  SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS b
  FROM pairs e
  JOIN deg da ON da.n = e.u
  JOIN deg db ON db.n = e.v
), tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.a = e1.b
  JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b
), tedges AS (
  SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM tri
  UNION ALL SELECT LEAST(y, z), GREATEST(y, z) FROM tri
  UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tri
), sup AS (
  SELECT u, v, COUNT(*) AS s FROM tedges GROUP BY u, v
), es AS (
  SELECT p.u, p.v, COALESCE(s.s, 0) AS support
  FROM pairs p LEFT JOIN sup s ON s.u = p.u AND s.v = p.v
)
SELECT CAST(support AS BIGINT) AS support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(COUNT(*)) OVER (ORDER BY support DESC) AS BIGINT)
         AS n_edges_in_truss
FROM es GROUP BY support ORDER BY support
"""


@register("graph_ktruss_edge_support", oracle=KTRUSS_ORACLE)
def graph_ktruss_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge triangle-support histogram — the k-truss decomposition
    statistic: an edge with support s belongs to the (s+2)-truss, so
    the descending-cumulative column reads directly as 'how many
    edges survive k-truss filtering at k = support+2'. The truss is
    the standard community-core sparsifier one notch stricter than
    k-core (graph_kcore_peel peels NODES by degree; the truss peels
    EDGES by triangle membership).

    Scale shape: same bounded edge build (at most 999 nodes and
    498,501 edges at any sf; both degrees on the edge row, so the
    oriented list is a narrow projection with no join or checkpoint
    of its own) and degree-ordered oriented wedge join as
    graph_triangle_count (the
    O(|E|^1.5)-bounded enumeration); each triangle re-emits its THREE
    undirected edges (a projection union, no join), support is one
    edge-keyed count, and the histogram is an |support-domain|-sized
    rollup. Pure integer math end to end."""
    pairs, und, deg = graph.edge_build(spark, sf_dir)
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pairs.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = checkpointed(
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tedges = (
        tri.select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .unionByName(
            tri.select(
                F.least("y", "z").alias("u"),
                F.greatest("y", "z").alias("v"),
            )
        )
        .unionByName(
            tri.select(
                F.least("x", "z").alias("u"),
                F.greatest("x", "z").alias("v"),
            )
        )
    )
    sup = tedges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("s"))
    es = pairs.join(sup, ["u", "v"], "left").select(
        F.coalesce(F.col("s"), F.lit(0)).alias("support")
    )
    # keyed on the partition id over one partition, like edge_build's
    # cut: a window with no key logs "No Partition Defined" every run
    hist = es.groupBy("support").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).repartition(1)
    w_desc = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("support").desc()
    ).rangeBetween(Window.unboundedPreceding, 0)
    return hist.select(
        F.col("support").cast("long").alias("support"),
        "n_edges",
        F.sum("n_edges").over(w_desc).cast("long").alias("n_edges_in_truss"),
    ).orderBy("support")
