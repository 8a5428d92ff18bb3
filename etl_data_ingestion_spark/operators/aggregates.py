"""Aggregation operators (SURVEY.md §2.5): hash aggregation, distinct,
rollup/cube/grouping sets, statistical aggregates, approx-distinct.

Every groupBy here compiles to partial (map-side) + final aggregation —
the map-side combine is what keeps 100 TB inputs from shuffling raw
rows; only per-partition partial states cross the wire.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import cached, load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.plans.registry import register

DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey)  AS distinct_parts,
       COUNT(DISTINCT l_suppkey)  AS distinct_suppliers,
       COUNT(*)                   AS lines
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_distinct_counts", oracle=DISTINCT_ORACLE)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one agg — Spark plans expand +
    two-phase aggregation; at scale prefer approx_count_distinct (see
    agg_approx_distinct) when exactness isn't required."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("distinct_parts"),
            F.count_distinct("l_suppkey").alias("distinct_suppliers"),
            F.count(F.lit(1)).alias("lines"),
        )
    )


ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS orders, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register("agg_rollup_status_priority", oracle=ROLLUP_ORACLE)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals + grand total in one pass
    (Catalyst expands to grouping sets, still a single shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS lines, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_cube_flag_status", oracle=CUBE_ORACLE)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("lines"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


GROUPING_SETS_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       COUNT(*) AS customers, ROUND(SUM(c_acctbal), 2) AS balance
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
"""


@register("agg_grouping_sets", oracle=GROUPING_SETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (the DataFrame and SQL
    surfaces are the same Catalyst plan)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               COUNT(*) AS customers, ROUND(SUM(c_acctbal), 2) AS balance
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
        """
    )


STATS_ORACLE = """
SELECT c_mktsegment,
       ROUND(MIN(c_acctbal), 2)         AS min_bal,
       ROUND(MAX(c_acctbal), 2)         AS max_bal,
       ROUND(AVG(c_acctbal), 2)         AS avg_bal,
       ROUND(STDDEV_SAMP(c_acctbal), 2) AS stddev_bal,
       COUNT(*)                         AS customers
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_stats_acctbal", oracle=STATS_ORACLE)
def agg_stats_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.stddev_samp("c_acctbal"), 2).alias("stddev_bal"),
            F.count(F.lit(1)).alias("customers"),
        )
    )


APPROX_DISTINCT_ORACLE = """
-- Self-checking sketch parity: HLL estimates are engine-specific, so
-- the hashed contract is (group, EXACT counts, estimate-within-5%
-- booleans). Each engine checks ITS OWN sketch against its own exact
-- count; the oracle mirrors the bound, not the estimate.
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey)  AS exact_parts,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       ABS(approx_count_distinct(l_partkey)  - COUNT(DISTINCT l_partkey))
         <= 0.05 * COUNT(DISTINCT l_partkey)  AS parts_within_5pct,
       ABS(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
         <= 0.05 * COUNT(DISTINCT l_orderkey) AS orders_within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_approx_distinct", oracle=APPROX_DISTINCT_ORACLE)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB answer to
    distinct-counting — fixed-size sketch, no expand, mergeable across
    partitions. Estimates are engine-specific, so the query is
    self-checking: exact counts plus a within-5% bound on the HLL
    estimate, with the oracle asserting the same bound on DuckDB's
    own sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02)
                - F.count_distinct("l_partkey")
            )
            <= 0.05 * F.count_distinct("l_partkey")
        ).alias("parts_within_5pct"),
        (
            F.abs(
                F.approx_count_distinct("l_orderkey", rsd=0.02)
                - F.count_distinct("l_orderkey")
            )
            <= 0.05 * F.count_distinct("l_orderkey")
        ).alias("orders_within_5pct"),
    )


PIVOT_ORACLE = """
SELECT l_returnflag,
       ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_F,
       ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_pivot_status", oracle=PIVOT_ORACLE)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list — naming the pivot values skips
    the extra distinct-values job Spark otherwise runs first."""
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return pivoted.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_F"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_O"),
    )


# Explicit-selection exact percentile (round 8): the builtins
# (Spark `percentile`, DuckDB quantile_cont) agree on the definition
# pos = q*(n-1) but not on the ARITHMETIC ORDER of the interpolation
# (1-h)*a + h*b — a last-bit difference that flips ROUND at a
# half-cent (the agg_median_by_priority class; sf0.001 sweep caught
# p50 52724.245 printing .24 vs .25). Device: rank the group, select
# the two bracketing DATA values by exact integer position, and
# interpolate with the IDENTICAL literal formula v_lo + frac*(v_hi -
# v_lo) in both engines — q ∈ {.25,.5,.75} and (n-1) make q*(n-1)
# and frac exact quarter-multiples, so every op is the same single
# IEEE op on identical inputs; output under the floor device.
def _pctl_sql(q: str) -> str:
    # n is constant per group: the selection CASEs use the per-ROW n
    # (aggregates cannot nest), the scalar frac term uses MAX(n)
    lo_row = f"CAST(FLOOR({q} * (n - 1)) AS BIGINT) + 1"
    frac = f"({q} * (MAX(n) - 1) - FLOOR({q} * (MAX(n) - 1)))"
    vlo = f"SUM(CASE WHEN rn = {lo_row} THEN v END)"
    vhi = f"SUM(CASE WHEN rn = LEAST({lo_row} + 1, n) THEN v END)"
    return f"FLOOR(({vlo} + {frac} * ({vhi} - {vlo})) * 100 + 0.5) / 100"


EXACT_PCTL_ORACLE = f"""
WITH r AS (
  SELECT l_returnflag, l_extendedprice AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       {_pctl_sql('0.25')} AS p25,
       {_pctl_sql('0.50')} AS p50,
       {_pctl_sql('0.75')} AS p75
FROM r
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _pctl_col(q: float):
    """Spark mirror of _pctl_sql on columns rn, v, n (post-groupBy):
    per-row n inside the selection CASEs, MAX(n) in the scalar frac."""
    lo_row = (F.floor(F.lit(q) * (F.col("n") - 1))).cast("long") + 1
    frac = F.lit(q) * (F.max("n") - 1) - F.floor(
        F.lit(q) * (F.max("n") - 1)
    )
    vlo = F.sum(F.when(F.col("rn") == lo_row, F.col("v")))
    vhi = F.sum(
        F.when(F.col("rn") == F.least(lo_row + 1, F.col("n")), F.col("v"))
    )
    return snap(vlo + frac * (vhi - vlo), 2)


@register("agg_exact_percentiles", oracle=EXACT_PCTL_ORACLE)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group by explicit rank
    selection — NOT the builtins, whose interpolation arithmetic
    differs in the last bit between engines (see _pctl_sql). Cost
    shape: one Exchange on the group key for the rank window, then a
    map-side-combined conditional aggregate; for 100 TB single-group
    quantiles use approx_percentile (t-digest sketch, mergeable
    map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        r.groupBy("l_returnflag")
        .agg(
            _pctl_col(0.25).alias("p25"),
            _pctl_col(0.50).alias("p50"),
            _pctl_col(0.75).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


APPROX_PCTL_ORACLE = f"""
-- Sketch parity contract: scalar exact percentiles + a within-1%
-- bound on each engine's OWN approximate-quantile sketch. Scalar
-- columns only (the round-1 array output crashed the driver's
-- row canonicalizer). The PRINTED exact columns use the explicit
-- rank-selection device (round 8, see agg_exact_percentiles — the
-- builtins' interpolation order flips ROUND at half-cents); the
-- bound booleans keep each engine's builtin exact internally since
-- each engine only checks its OWN sketch against its own exact.
WITH r AS (
  SELECT l_returnflag, l_extendedprice AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
), ex AS (
  SELECT l_returnflag,
         {_pctl_sql('0.25')} AS exact_p25,
         {_pctl_sql('0.50')} AS exact_p50,
         {_pctl_sql('0.75')} AS exact_p75
  FROM r GROUP BY l_returnflag
), b AS (
  SELECT l_returnflag,
         ABS(approx_quantile(l_extendedprice, 0.25) - quantile_cont(l_extendedprice, 0.25))
           <= 0.01 * quantile_cont(l_extendedprice, 0.25) AS p25_within_1pct,
         ABS(approx_quantile(l_extendedprice, 0.50) - quantile_cont(l_extendedprice, 0.50))
           <= 0.01 * quantile_cont(l_extendedprice, 0.50) AS p50_within_1pct,
         ABS(approx_quantile(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.75))
           <= 0.01 * quantile_cont(l_extendedprice, 0.75) AS p75_within_1pct
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, exact_p25, exact_p50, exact_p75,
       p25_within_1pct, p50_within_1pct, p75_within_1pct
FROM ex JOIN b USING (l_returnflag)
"""


@register("agg_approx_percentile", oracle=APPROX_PCTL_ORACLE)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: mergeable quantile sketch — map-side partial
    sketches combine at the reducer, so cost is one scan regardless of
    group cardinality. The scale path for distribution stats.

    Self-checking contract: exact percentiles as scalar columns plus a
    within-1% bound on the sketch estimate; the oracle asserts the
    same bound on DuckDB's approx_quantile (t-digest) — each engine
    validates its own sketch, the hash compares exact values + bounds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ap = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
    )
    ex = [F.percentile("l_extendedprice", F.lit(p)) for p in (0.25, 0.5, 0.75)]
    agg = li.groupBy("l_returnflag").agg(
        ap.alias("ap"), ex[0].alias("e25"), ex[1].alias("e50"), ex[2].alias("e75")
    )
    def bound(i: int, e: str) -> F.Column:
        return F.abs(F.element_at("ap", i) - F.col(e)) <= 0.01 * F.col(e)
    bounds = agg.select(
        "l_returnflag",
        bound(1, "e25").alias("p25_within_1pct"),
        bound(2, "e50").alias("p50_within_1pct"),
        bound(3, "e75").alias("p75_within_1pct"),
    )
    # printed exact columns via the explicit rank-selection device
    # (cross-engine-stable; see agg_exact_percentiles/_pctl_col)
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    exact = r.groupBy("l_returnflag").agg(
        _pctl_col(0.25).alias("exact_p25"),
        _pctl_col(0.50).alias("exact_p50"),
        _pctl_col(0.75).alias("exact_p75"),
    )
    return exact.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "exact_p25",
        "exact_p50",
        "exact_p75",
        "p25_within_1pct",
        "p50_within_1pct",
        "p75_within_1pct",
    )


ARRAY_AGG_ORACLE = """
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), '|') AS nations_csv
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("agg_collect_sorted", oracle=ARRAY_AGG_ORACLE)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / array_agg with an explicit sort — collect order
    is nondeterministic under parallel merge in ANY engine, so a
    deterministic pipeline always sorts the collected array. Bounded
    per-group cardinality only (this materializes the group)."""
    nation = load_table(spark, sf_dir, "nation")
    arr = F.sort_array(F.collect_list("n_name"))
    return (
        nation.groupBy("n_regionkey")
        .agg(F.concat_ws("|", arr).alias("nations_csv"))
    )


MEDIAN_ORACLE = """
-- Median via explicit middle-element selection, NOT the engines'
-- MEDIAN builtins: for even group counts the builtins interpolate
-- (a+b)/2 with engine-specific arithmetic whose last bit can differ,
-- and at a ROUND(,2) half-cent boundary that flips the printed value
-- (caught by the round-7 sf0.3 sweep: 250394.85 vs .86). Selecting
-- the two middle DATA values and averaging them with the identical
-- SUM/COUNT expression makes both engines perform the same single
-- IEEE operation on the same exact inputs.
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
-- FLOOR(x*100 + 0.5)/100 instead of ROUND: the interpolated median
-- can land on an exact half-cent (…8549999…), where DuckDB's fuzzy
-- double ROUND says .86 while Spark/Python say .85 (round-7 sf0.3
-- sweep). The floor form is pure double arithmetic — bit-identical
-- in both engines by construction.
-- mean_price from EXACT integer cents (round 8): AVG(double) is a
-- data-order-dependent float sum whose last bit can differ between
-- engines, and a 1-ulp difference at a half-cent boundary flips the
-- FLOOR device just like the median bug. Prices are 2dp decimals
-- stored as double, so FLOOR(p*100+0.5) recovers the exact cent
-- losslessly; SUM over integers is exact and order-independent in
-- both engines, and the final division is one IEEE op on identical
-- inputs (sums < 2^53 through sf1000).
SELECT o_orderpriority,
       FLOOR(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                      THEN o_totalprice END)
             / SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                        THEN 1 END) * 100 + 0.5) / 100 AS median_price,
       FLOOR(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) * 1.0
             / COUNT(*) + 0.5) / 100 AS mean_price
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_median_by_priority", oracle=MEDIAN_ORACLE)
def agg_median_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group next to the mean — the skew diagnostic
    pair. Median computed by explicit middle-element selection (rank
    the group, average the one or two middle DATA values) rather than
    F.median: the builtins' even-count interpolation arithmetic
    differs in the last bit between engines, which flips ROUND at a
    half-cent boundary (see MEDIAN_ORACLE). Cost shape is the same
    one Exchange on the group key; the rank window replaces the
    builtin's internal per-group sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wc = Window.partitionBy("o_orderpriority")
    r = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    is_mid = (F.col("rn") == ((F.col("n") + 1) / 2).cast("long")) | (
        F.col("rn") == ((F.col("n") + 2) / 2).cast("long")
    )
    return (
        r.groupBy("o_orderpriority")
        .agg(
            # floor(x*100+0.5)/100: deterministic half-up on the same
            # doubles in both engines (see MEDIAN_ORACLE comment)
            snap(
                F.sum(F.when(is_mid, F.col("o_totalprice")))
                / F.sum(F.when(is_mid, F.lit(1))),
                2,
            ).alias("median_price"),
            # exact-integer-cents mean (see MEDIAN_ORACLE comment):
            # per-row cent recovery is lossless on 2dp prices, the
            # integer SUM is order-independent, and the one final
            # division is the same IEEE op in both engines
            (
                fixed(
                    F.sum(fixed(F.col("o_totalprice"), 2))
                    * 1.0
                    / F.count(F.lit(1)),
                    0,
                )
                / 100
            ).alias("mean_price"),
        )
        .orderBy("o_orderpriority")
    )


FILTERED_AGG_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_totalprice > 200000)          AS n_large,
       CAST(BOOL_AND(o_totalprice > 0) AS BOOLEAN)            AS all_positive,
       CAST(BOOL_OR(o_orderstatus = 'F') AS BOOLEAN)          AS any_finished
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_filtered_boolean", oracle=FILTERED_AGG_ORACLE)
def agg_filtered_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if + every/some — filtered and boolean aggregates, all
    partial-aggregated map-side like any other agg."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
            F.every(F.col("o_totalprice") > 0).alias("all_positive"),
            F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        )
    )


SALTED_AGG_ORACLE = """
SELECT k,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM (
  SELECT CASE WHEN event_id % 3 = 0 THEN 7 ELSE user_id END AS k, value
  FROM events
)
GROUP BY k
ORDER BY k
"""


@register("agg_salted_skew", oracle=SALTED_AGG_ORACLE)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for a hot key: stage 1 aggregates
    on (key, salt) — the hot key's rows spread over 8 reducers —
    stage 2 merges the partials per key. Decomposable aggregates only
    (count/sum here; avg = sum/count at stage 2). Salting preserves
    the result exactly, so the oracle is the PLAIN aggregate. (Spark's
    own map-side partial aggregation already does this implicitly when
    upstream partitioning is random; explicit salting is the tool when
    a prior shuffle has already co-located the hot key.)"""
    n_salts = 8
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        F.when(F.col("event_id") % 3 == 0, 7).otherwise(F.col("user_id")).alias("k"),
        "value",
        F.pmod(F.col("event_id"), F.lit(n_salts)).alias("salt"),
    )
    partial = keyed.groupBy("k", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv")
    )
    return (
        partial.groupBy("k")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
        )
    )


CMS_ORACLE = """
-- Count-Min heavy hitters contract: over a constructed skewed key
-- space (5 hot keys ~4k rows each, ~36k cold keys), the CMS estimate
-- for each TRUE top-5 key must satisfy the sketch's deterministic
-- guarantees: never below the exact count (CMS only overestimates)
-- and within eps*N of it (eps = 2/width, here width=1024 over
-- N=60k rows -> slack ~117; collisions with cold keys stay far
-- under it). Exact counts + bounds are engine-independent; the
-- estimates themselves depend on Spark's murmur3 rows and stay
-- internal.
WITH keyed AS (
  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot_' || (l_orderkey % 5)
              ELSE 'cold_' || l_orderkey END AS k
  FROM lineitem
), exact AS (
  SELECT k, COUNT(*) AS exact_count FROM keyed GROUP BY k
)
SELECT k, exact_count,
       TRUE AS est_ge_exact,
       TRUE AS est_within_eps
FROM exact
ORDER BY exact_count DESC, k
LIMIT 5
"""


@register("agg_heavy_hitters_countmin", oracle=CMS_ORACLE)
def agg_heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a Count-Min Sketch built from plain
    DataFrame aggregates — the fixed-memory alternative to exact
    per-key counts when the key space is unbounded (URLs, n-grams,
    user ids at 100 TB): d=3 hash rows × w=1024 buckets regardless of
    cardinality, mergeable across partitions/batches by bucket-wise
    sum.

    Construction is two hash-aggregates, all JVM: (row, bucket) →
    count, then est(key) = min over rows of its bucket count. The
    verification joins the estimate back to the true top-5 keys and
    asserts CMS's deterministic guarantees (est >= exact always;
    est <= exact + eps*N here), which is what the oracle pins — see
    CMS_ORACLE."""
    d, w = 3, 1024
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.when(
            F.col("l_orderkey") % 3 == 0,
            F.concat(F.lit("hot_"), (F.col("l_orderkey") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("l_orderkey").cast("string")))
        .alias("k")
    )
    total = keyed.count()
    eps_slack = 2.0 * total / w
    # sketch: one (hash_row, bucket) count table, built in ONE pass
    # via explode over the d hash rows
    rows = keyed.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(F.hash("k", F.lit(j)), F.lit(w)).alias("b"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("rb"),
    ).select("k", "rb.j", "rb.b")
    sketch = rows.groupBy("j", "b").agg(F.count(F.lit(1)).alias("c"))
    # true top-5 (exact) — the keys whose estimates we audit
    exact = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "k").limit(5)
    # estimate = min over the key's d buckets
    key_buckets = top.select(
        "k",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(F.hash("k", F.lit(j)), F.lit(w)).alias("b"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("rb"),
    ).select("k", "exact_count", "rb.j", "rb.b")
    est = (
        key_buckets.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("k", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "k",
        "exact_count",
        (F.col("cms_est") >= F.col("exact_count")).alias("est_ge_exact"),
        (F.col("cms_est") <= F.col("exact_count") + F.lit(eps_slack)).alias(
            "est_within_eps"
        ),
    )


ZSCORE_ORACLE = """
-- Per-event-type z-score outlier accounting: population stats per
-- type, then each event scored against its type's mean/stddev;
-- |z| > 3 flags the outlier. The stats table is |event_types| rows —
-- broadcast-sized at any corpus scale.
WITH s AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_POP(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ABS((e.value - s.mu) / s.sd) > 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MAX(ABS((e.value - s.mu) / s.sd)), 3) AS max_abs_z
FROM events e JOIN s USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register("timeseries_zscore_outliers", oracle=ZSCORE_ORACLE)
def timeseries_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: two-pass shape —
    aggregate per-type mean/stddev (map-side partials, |types| output
    rows), broadcast the tiny stats table back onto the fact scan,
    score each event, re-aggregate outlier counts. At 100 TB this is
    two map-side-combined aggregations and zero fact-table shuffles
    beyond them; the alternative single-pass window formulation
    (avg/stddev OVER (PARTITION BY type)) shuffles and buffers the
    whole fact table per type — strictly worse."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(z > 3, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max(z), 3).alias("max_abs_z"),
        )
    )


HLL_UNION_ORACLE = """
-- Mergeable-sketch distributed counting: per-group HLL sketches union
-- to a global distinct estimate WITHOUT rescanning the fact table —
-- the pattern a 1000-executor cluster uses for corpus-wide distinct
-- counts (each executor sketches its partition; only fixed-size
-- sketch bytes cross the wire). The estimate is engine-specific, so
-- the contract emits exact values both engines compute plus bound
-- booleans each engine asserts of its own sketch (Datasketches HLL at
-- lgConfigK=12: relative std err ~1.6%%; 5%% is >3 sigma).
WITH g AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
  FROM lineitem GROUP BY l_returnflag
)
SELECT CAST(COUNT(*) AS BIGINT)                       AS n_groups,
       CAST(SUM(exact_parts) AS BIGINT)               AS sum_group_exact,
       (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS exact_global,
       TRUE AS groups_within_5pct,
       TRUE AS union_within_5pct
FROM g
"""


@register("agg_hll_partitioned_union", oracle=HLL_UNION_ORACLE)
def agg_hll_partitioned_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed distinct counting via mergeable HLL sketches
    (Datasketches, built into Spark: hll_sketch_agg / hll_union_agg):
    sketch l_partkey per return flag, then UNION the per-group
    sketches into a global estimate — no second scan of lineitem, only
    |groups| fixed-size sketch binaries move. This is how a fleet
    reports corpus-wide distincts at 100 TB: partial sketches merge
    associatively across executors, days, or tables, where exact
    COUNT(DISTINCT) would shuffle every key.

    Correctness contract (engine-specific estimates): exact per-group
    and global distincts computed by both engines, plus 5%-bound
    booleans each engine asserts of its own sketch estimates."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    global_exact = li.select(
        F.count_distinct("l_partkey").alias("exact_global")
    )
    grp_ok = F.every(
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_parts"))
            / F.col("exact_parts")
        )
        <= 0.05
    )
    merged = per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("exact_parts").alias("sum_group_exact"),
        grp_ok.alias("groups_within_5pct"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
    )
    # coalesce-to-True: with zero groups both 5%-bound checks are
    # vacuous — every() over 0 rows and the NULL-estimate comparison
    # read NULL where the oracle asserts TRUE (empty-corpus sweep,
    # round 14)
    return merged.crossJoin(F.broadcast(global_exact)).select(
        "n_groups",
        "sum_group_exact",
        "exact_global",
        F.coalesce("groups_within_5pct", F.lit(True)).alias(
            "groups_within_5pct"
        ),
        F.coalesce(
            F.abs(F.col("union_est") - F.col("exact_global"))
            / F.col("exact_global")
            <= 0.05,
            F.lit(True),
        ).alias("union_within_5pct"),
    )


HISTOGRAM_ORACLE = """
-- Fixed-bin value histogram (profiling/monitoring staple): 20 equal
-- bins over [0, 200), out-of-range values clamped to the edge buckets
-- (width_bucket semantics: 0 below, n+1 at-or-above hi). The bucket
-- arithmetic is written out so both engines compute the identical
-- integer. One map-side-combined aggregate; |bins| output rows.
WITH b AS (
  SELECT CASE WHEN value < 0 THEN 0
              WHEN value >= 200 THEN 21
              ELSE CAST(FLOOR(value / 10.0) AS BIGINT) + 1 END AS bucket
  FROM events
)
SELECT bucket,
       -- CAST: BIGINT * DECIMAL literal yields DECIMAL(22,1) in DuckDB,
       -- which pandas may not return as float64 — force DOUBLE so the
       -- driver-side value hash sees the same dtype as Spark's double.
       CAST(CASE WHEN bucket = 0 THEN NULL ELSE (bucket - 1) * 10.0 END
            AS DOUBLE) AS lo_edge,
       CAST(CASE WHEN bucket = 21 THEN NULL ELSE bucket * 10.0 END
            AS DOUBLE) AS hi_edge,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM b GROUP BY bucket
ORDER BY bucket
"""


@register("agg_value_histogram", oracle=HISTOGRAM_ORACLE)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram via width_bucket — the profiling/
    monitoring aggregate every warehouse dashboard runs. Bucket
    assignment is a codegen'd scalar expression (map-only); the
    aggregate moves |bins| partial states per partition, nothing
    else. At 100 TB this is the cheapest possible distribution
    sketch; pair with agg_approx_percentile when quantiles, not
    shapes, are the question."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.width_bucket(F.col("value"), F.lit(0.0), F.lit(200.0), F.lit(20))
    return (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "bucket",
            F.when(F.col("bucket") > 0, (F.col("bucket") - 1) * 10.0).alias(
                "lo_edge"
            ),
            F.when(F.col("bucket") < 21, F.col("bucket") * 10.0).alias(
                "hi_edge"
            ),
            "n_events",
        )
    )


HASH_SAMPLE_ORACLE = """
-- Consistent-hash sampling: per group, keep the k rows with the
-- lowest md5(id) — a deterministic, engine-independent "uniform"
-- sample (md5 is avalanching, so hash order is uncorrelated with id
-- order). Unlike Bernoulli sampling this is reproducible across
-- engines, reruns, AND growing data (a kept row stays kept until k
-- better hashes arrive) — the property that makes debugging samples
-- and cross-system A/B slices stable.
WITH ranked AS (
  SELECT event_type, event_id,
         md5(CAST(event_id AS VARCHAR)) AS h,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
           AS rnk
  FROM events
)
SELECT event_type, event_id, h, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY event_type, rnk
"""


@register("agg_consistent_hash_sample", oracle=HASH_SAMPLE_ORACLE)
def agg_consistent_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sampling by hash order (lowest-k
    md5(id) per event type). Plans as WindowGroupLimit: each partition
    keeps a k-row heap per group BEFORE the shuffle, so the Exchange
    moves at most k·|groups| rows per partition regardless of input
    size — the same pre-shuffle top-k machinery as topk_orders_by_price,
    pointed at a hash to make the "top" a uniform sample. Rerunning on
    appended data keeps prior sample members unless displaced by a
    lower hash — stable debugging slices at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h, F.asc("event_id"))
    return (
        ev.select("event_type", "event_id", h.alias("h"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("event_type", "event_id", "h", F.col("rnk").cast("long").alias("rnk"))
    )


BITMAP_DISTINCT_ORACLE = """
-- Exact distinct customers per order-month via bitmap aggregation:
-- answer is identical to COUNT(DISTINCT), which is what the oracle
-- computes; the bitmap formulation is the part that scales (see
-- docstring).
SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers
FROM orders
GROUP BY 1
ORDER BY order_month
"""


@register("agg_bitmap_exact_distinct", oracle=BITMAP_DISTINCT_ORACLE)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count —
    public Spark 3.5+ SQL functions): each (group, 32k-id bucket)
    folds its ids into a fixed 4KB bitmap map-side, bitmaps OR-merge
    across partitions, and the final count sums per-bucket popcounts.

    Why not COUNT(DISTINCT)? Its partial state is the full value SET
    per group (the shuffle carries every distinct id, and skewed
    groups carry it on one reducer); approx_count_distinct fixes the
    state but gives estimates. The bitmap split keeps EXACTNESS with
    bounded per-row state (4KB per bucket) and adds a second,
    id-range-based key (bucket) that shards a hot group's state
    across reducers — the exact-distinct-at-scale pattern for
    id-shaped keys. HLL (agg_approx_distinct / hll_partitioned_union)
    remains the choice when ids aren't integers or 2%% error is fine.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_bucket = (
        orders.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            ),
            F.bitmap_bucket_number("o_custkey").alias("bkt"),
            F.bitmap_bit_position("o_custkey").alias("pos"),
        )
        .groupBy("order_month", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        per_bucket.groupBy("order_month")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("distinct_customers"))
    )


THETA_SETOPS_ORACLE = r"""
-- Theta-sketch set operations (Datasketches via Spark's
-- theta_sketch_agg / theta_union / theta_intersection /
-- theta_difference): unlike HLL, theta sketches estimate
-- INTERSECTION and DIFFERENCE cardinalities, not just unions — the
-- audience-overlap / retention-overlap primitive. Contract follows
-- the approx_distinct pattern: the query emits the EXACT
-- cardinalities (cheap at fixture scale) plus in-plan booleans that
-- each sketch estimate lands within 5% OF THE UNION SIZE — sketch
-- theory: intersection/difference error scales with |A∪B|, not with
-- the (possibly tiny) result, so a result-relative bound would be
-- dishonest for near-total overlaps (at generated sf1, |A\B| = 5259
-- against a 149,805 union — result-relative 5% is unachievable by
-- ANY fixed-size sketch). The oracle recomputes the exact values
-- and pins the bounds TRUE.
WITH a AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
), b AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
            AS BIGINT) AS exact_union,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
            AS BIGINT) AS exact_intersect,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
            AS BIGINT) AS exact_diff,
       TRUE AS union_ok, TRUE AS intersect_ok, TRUE AS diff_ok
"""


@register("agg_theta_sketch_setops", oracle=THETA_SETOPS_ORACLE)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate set algebra over customer sets with theta sketches:
    each order-status slice folds to a FIXED-SIZE sketch map-side
    (mergeable, like the HLL/count-min tier), and union/intersection/
    difference cardinalities come from sketch algebra on the two
    1-row results — at 100 TB the slices never co-shuffle; only
    kilobyte sketches meet. HLL can only union; theta's intersection/
    difference is what answers "how many customers are in BOTH
    segments" without a distinct-set join. Estimates are
    engine-specific, so the contract emits exact values + bound
    booleans, with error measured against the UNION size (see
    THETA_SETOPS_ORACLE — intersection/difference sketch error
    scales with |A∪B|, verified failing result-relative at sf1)."""
    orders = load_table(spark, sf_dir, "orders")
    # Both slice sketches fold in ONE conditional aggregation
    # (theta_sketch_agg skips NULLs), replacing the round-5
    # groupBy + two filters + crossJoin: one less exchange, and the
    # 1-row shape survives an empty input, where the filtered-slice
    # form emitted zero rows against the oracle's summary row
    # (empty-corpus sweep, round 14). Sketches are order-independent,
    # so the estimates are unchanged.
    both = orders.filter(F.col("o_orderstatus").isin("O", "F")).agg(
        F.theta_sketch_agg(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        ).alias("sk_a"),
        F.theta_sketch_agg(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("sk_b"),
    )

    cust = orders.filter(F.col("o_orderstatus").isin("O", "F")).select(
        "o_custkey", "o_orderstatus"
    ).distinct()
    flags = cust.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("in_b"),
    )
    # coalesce: the exact sums are NULL over a 0-row flag relation
    # where the oracle's counts are 0 (empty-corpus sweep, round 14)
    zero = F.lit(0).cast("long")
    exact = flags.groupBy().agg(
        F.coalesce(F.sum("in_a").cast("long"), zero).alias("exact_a"),
        F.coalesce(F.sum("in_b").cast("long"), zero).alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.coalesce(
            F.sum(F.col("in_a") * F.col("in_b")).cast("long"), zero
        ).alias("exact_intersect"),
        F.coalesce(
            F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long"), zero
        ).alias("exact_diff"),
    )

    est_union = F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
    est_inter = F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b"))
    est_diff = F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b"))
    within = lambda est, ex: (
        F.abs(est - F.col(ex)) <= 0.05 * F.col("exact_union")
    )
    return both.crossJoin(F.broadcast(exact)).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
        "exact_diff",
        # coalesce-to-True: empty-input sketches estimate NULL and
        # the 5% bound is vacuous, where the oracle asserts TRUE
        F.coalesce(within(est_union, "exact_union"), F.lit(True)).alias(
            "union_ok"
        ),
        F.coalesce(
            within(est_inter, "exact_intersect"), F.lit(True)
        ).alias("intersect_ok"),
        F.coalesce(within(est_diff, "exact_diff"), F.lit(True)).alias(
            "diff_ok"
        ),
    )


HLL_ROLLUP_ORACLE = """
-- Materialized sketch-rollup pattern (the continuous-aggregate /
-- hypertable-rollup analogue): daily HLL sketches are PRECOMPUTED
-- into a rollup table once; month-level distinct-user questions are
-- then answered by merging the STORED sketch bytes — never
-- re-scanning the event history. Estimates are engine-specific, so
-- the contract emits the exact per-month distincts plus a 5% bound
-- boolean on the merged estimate (the approx_distinct pattern).
SELECT STRFTIME(date_trunc('month', ts), '%Y-%m') AS month,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS estimate_ok
FROM events
GROUP BY 1
ORDER BY month
"""


@register("agg_hll_rollup_table", oracle=HLL_ROLLUP_ORACLE)
def agg_hll_rollup_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup TABLE: day-grain HLL sketches materialized to
    parquet once (the continuous-aggregate build), month-grain
    answers from hll_union_agg over the STORED bytes — the query
    touches |days| sketch rows, not |events| facts.

    This is the pattern that turns "distinct users last quarter" from
    a 100 TB scan into a kilobytes-of-sketches merge: sketches are
    associative, so any coarser grain (week/month/all-time) folds
    from the daily tier, and a new day appends one row without
    touching history. The exact per-month count (recomputed here only
    to pin the contract) is what production gives up; the 5% bound
    boolean is what it keeps."""
    import os as _os

    from etl_data_ingestion_spark.operators.sources_scan import _scratch

    events = load_table(spark, sf_dir, "events")
    path = _scratch(sf_dir, "hll_daily_rollup")
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        (
            events.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .write.mode("overwrite").parquet(path)
        )
    rollup = spark.read.parquet(path)
    merged = (
        rollup.groupBy(
            F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month")
        )
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = events.groupBy(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return exact.join(merged, "month").select(
        "month",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("estimate_ok"),
    )


CORR_COVAR_ORACLE = """
-- Bivariate statistics per group: Pearson correlation and
-- sample/population covariance of (quantity, extendedprice), plus
-- discount/tax correlation — the relationships a pricing model
-- audits first. Both engines implement the ANSI corr/covar_samp/
-- covar_pop aggregates; rounding to 6 keeps summation-order epsilon
-- out of the hash.
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qty_price,
       ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qty_price,
       ROUND(corr(l_discount, l_tax), 6) AS corr_disc_tax,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_corr_covar", oracle=CORR_COVAR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + covariance (sample and
    population) — single-pass moment aggregates: Spark's corr/
    covar_samp/covar_pop are partial-aggregable (each partition
    carries (n, Σx, Σy, Σxy) co-moments; merge is exact), so the
    plan is one map-side-combined Exchange on a 3-value key, the
    same shape as any sum. No second pass, no join of per-group
    means back onto the fact table — the naive two-pass formulation
    would double-scan 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covs_qty_price"
            ),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "covp_qty_price"
            ),
            F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


MODE_ORACLE = """
-- Deterministic mode (most frequent value) per group, with the
-- tie-break STATED (count desc, then value asc) instead of left to
-- an engine's arbitrary pick — both engines' native mode()/MODE()
-- leave ties implementation-defined, which can never hash-match, so
-- the operator IS the count+row_number formulation.
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT o_orderstatus, o_orderpriority, n,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY n DESC, o_orderpriority) AS rk
  FROM c
)
SELECT o_orderstatus,
       o_orderpriority AS mode_priority,
       CAST(n AS BIGINT) AS mode_count
FROM r WHERE rk = 1
ORDER BY o_orderstatus
"""


@register("agg_mode_deterministic", oracle=MODE_ORACLE)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode per group with a pinned tie-break. Scale shape: the
    count aggregates map-side onto a (group, value) key domain —
    |groups|x|distinct values|, tiny — and the row_number window
    runs on that domain-sized table, NOT the fact table; the fact
    table is touched by exactly one partial-aggregated Exchange.
    This is the scalable mode: collect_list-then-sort per group
    would move every row."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


REGR_ORACLE = """
-- Linear-regression aggregates (ANSI regr_* family): slope,
-- intercept, r², n over (discount -> extendedprice) per returnflag.
-- Like corr/covar these are single-pass co-moment aggregates in
-- both engines — partial-aggregable, no residual second pass.
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_discount), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_discount), 4) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_discount), 6) AS r2,
       CAST(regr_count(l_extendedprice, l_discount) AS BIGINT) AS n_pairs
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_linear_regression", oracle=REGR_ORACLE)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI regr_* aggregates: OLS slope/intercept/r² per group in
    ONE pass — the co-moment states (n, Σx, Σy, Σxx, Σxy, Σyy)
    merge across partitions exactly, so the plan is a single
    map-side-combined Exchange; the textbook two-pass formulation
    (means first, residuals second) would scan the fact table
    twice. The in-database feature-engineering primitive for trend
    columns at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.regr_slope("l_extendedprice", "l_discount"), 4
            ).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_discount"), 4
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_discount"), 6).alias(
                "r2"
            ),
            F.regr_count("l_extendedprice", "l_discount")
            .cast("long")
            .alias("n_pairs"),
        )
        .orderBy("l_returnflag")
    )


UNPIVOT_ORACLE = """
-- Unpivot / melt: wide per-segment stats to long (metric, value)
-- rows — the wide-to-long reshape feeding any metrics store. The
-- oracle states it as UNION ALL (the semantics both engines'
-- unpivot sugar compiles to).
WITH s AS (
  SELECT c_mktsegment,
         ROUND(AVG(c_acctbal), 2) AS avg_bal,
         ROUND(MIN(c_acctbal), 2) AS min_bal,
         ROUND(MAX(c_acctbal), 2) AS max_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'avg_bal' AS metric, avg_bal AS value FROM s
UNION ALL
SELECT c_mktsegment, 'min_bal', min_bal FROM s
UNION ALL
SELECT c_mktsegment, 'max_bal', max_bal FROM s
ORDER BY c_mktsegment, metric
"""


@register("agg_unpivot_metrics", oracle=UNPIVOT_ORACLE)
def agg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (melt): wide aggregate columns to long
    (metric, value) rows. Runs AFTER the aggregation, so the
    reshape touches a |groups|x|metrics| table, never the fact
    table — unpivot is a map-only Expand, no shuffle of its own."""
    cust = load_table(spark, sf_dir, "customer")
    s = cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    return s.unpivot(
        ["c_mktsegment"],
        ["avg_bal", "min_bal", "max_bal"],
        "metric",
        "value",
    ).orderBy("c_mktsegment", "metric")


MAX_BY_ORACLE = """
-- max_by / min_by (ANSI arg-max aggregates): the value of one
-- column at another's extremum, in one pass — keyed on the UNIQUE
-- o_orderkey so the extremum is tie-free and both engines pick the
-- same row deterministically.
SELECT o_orderstatus,
       MAX_BY(o_orderpriority, o_orderkey) AS latest_priority,
       MIN_BY(o_orderpriority, o_orderkey) AS earliest_priority,
       MAX_BY(ROUND(o_totalprice, 2), o_orderkey) AS latest_price,
       CAST(MAX(o_orderkey) AS BIGINT) AS latest_key
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("agg_max_by_min_by", oracle=MAX_BY_ORACLE)
def agg_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: arg-max in ONE partial-aggregable pass (each
    partition carries its own (arg, max) pair; merge keeps the
    winner) — replacing the row_number-window-then-filter idiom when
    only the extremum row's value is needed, which saves the sort.
    Pinned to a unique ordering key: max_by under ties is
    implementation-defined in both engines, so a contract on a
    non-unique key would be a latent hash-flake."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderpriority", "o_orderkey").alias(
                "latest_priority"
            ),
            F.min_by("o_orderpriority", "o_orderkey").alias(
                "earliest_priority"
            ),
            F.max_by(F.round("o_totalprice", 2), F.col("o_orderkey")).alias(
                "latest_price"
            ),
            F.max("o_orderkey").cast("long").alias("latest_key"),
        )
        .orderBy("o_orderstatus")
    )


GROUPING_ID_ORACLE = """
-- ROLLUP with GROUPING() flags: subtotal rows are distinguishable
-- from genuine-NULL group keys — without grouping flags a rollup
-- over nullable keys is ambiguous. Both engines implement the ANSI
-- GROUPING() function; the combined grouping_id is emitted as the
-- canonical (status_flag*2 + priority_flag) encoding.
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
            AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register("agg_grouping_id_rollup", oracle=GROUPING_ID_ORACLE)
def agg_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + GROUPING() flags: the disambiguation layer every
    rollup over nullable keys needs (a NULL group key and a subtotal
    row are otherwise indistinguishable). Same single-shuffle Expand
    plan as plain rollup — the flags are free metadata from the
    grouping-set id, not extra aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    # grouping() is only resolvable INSIDE the rollup's agg list
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            (
                F.grouping("o_orderstatus") * 2
                + F.grouping("o_orderpriority")
            ).cast("int").alias("gid"),
            F.count(F.lit(1)).alias("orders"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "gid",
            "orders",
        )
        .orderBy(
            "gid",
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


STRING_AGG_ORACLE = """
-- Ordered string aggregation (LISTAGG / STRING_AGG): per region, the
-- alphabetized pipe-joined list of its nations — the classic
-- report-formatting aggregate. Order INSIDE the aggregate must be
-- pinned (an unordered listagg is nondeterministic under parallel
-- partial aggregation, so any engine that shuffles would emit a
-- different-but-"valid" string every run).
SELECT r.r_name AS region,
       STRING_AGG(n.n_name, '|' ORDER BY n.n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region
"""


@register("agg_string_agg_ordered", oracle=STRING_AGG_ORACLE)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG as collect_list -> array_sort -> array_join:
    collect_list is partial-aggregable (arrays merge across
    partitions), and sorting AFTER collection makes the result
    deterministic regardless of partitioning — the order-pinning
    that naive listagg lacks under distributed partial aggregation.
    Group cardinality bounds the array (nations per region), which
    is the contract any scale-safe listagg needs: the aggregate
    state is the grouped payload itself, so this is only for
    dimension-sized groups — for fact-sized payloads you want
    pipeline_shard_assignment's manifest pattern instead."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), "|"
            ).alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("region")
    )


WEIGHTED_MEDIAN_ORACLE = """
-- Weighted median (50th weighted percentile) of supplier account
-- balance per nation, weighted by a deterministic activity weight:
-- the smallest balance whose cumulative weight reaches half the
-- nation's total — computed via the cumulative-weight window, the
-- formulation that scales (sort within key + running sum) where
-- quantile-by-expansion (repeat each row w times) does not.
WITH w AS (
  SELECT n_name, s_acctbal, 1 + (s_suppkey % 5) AS wt
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
), c AS (
  SELECT n_name, s_acctbal, wt,
         SUM(wt) OVER (PARTITION BY n_name
                       ORDER BY s_acctbal, wt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_wt,
         SUM(wt) OVER (PARTITION BY n_name) AS tot_wt
  FROM w
)
SELECT n_name AS nation,
       ROUND(MIN(CASE WHEN cum_wt * 2 >= tot_wt THEN s_acctbal END), 2)
         AS weighted_median_bal,
       CAST(SUM(wt) AS BIGINT) AS total_weight
FROM c
GROUP BY n_name
ORDER BY nation
"""


@register("agg_weighted_median", oracle=WEIGHTED_MEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median via cumulative-weight crossing: one exchange
    on the group key, a running weight sum over the value-sorted
    partition, and the answer is MIN(value | cum_wt*2 >= tot_wt).
    Linear in rows (vs the repeat-row-by-weight trick, which
    multiplies data by mean weight), works for any weighted
    quantile by changing the crossing fraction, and — unlike
    percentile_approx — is exact. The tie-break (ORDER BY value,
    weight) pins which equal-valued row crosses the threshold so
    both engines agree bit-for-bit."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    w = sup.join(
        F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
    ).select(
        "n_name",
        "s_acctbal",
        (1 + F.col("s_suppkey") % 5).alias("wt"),
    )
    cum = Window.partitionBy("n_name").orderBy("s_acctbal", "wt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("n_name")
    c = w.select(
        "n_name",
        "s_acctbal",
        "wt",
        F.sum("wt").over(cum).alias("cum_wt"),
        F.sum("wt").over(tot).alias("tot_wt"),
    )
    return (
        c.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.min(
                    F.when(
                        F.col("cum_wt") * 2 >= F.col("tot_wt"),
                        F.col("s_acctbal"),
                    )
                ),
                2,
            ).alias("weighted_median_bal"),
            F.sum("wt").cast("long").alias("total_weight"),
        )
        .orderBy("nation")
    )


MAD_ORACLE = """
-- Robust outlier detection via Median Absolute Deviation: per event
-- type, median(value) and MAD = median(|value - median|), then count
-- events whose modified z-score 0.6745*|v-med|/MAD exceeds 3.5
-- (Iglewicz & Hoaglin 1993). Robust where the mean/stddev z-score
-- (timeseries_zscore_outliers) is itself dragged by the outliers it
-- hunts. Two grouped exact medians + a broadcast back onto the scan.
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, m.med,
         MEDIAN(ABS(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type, m.med
)
SELECT e.event_type,
       ROUND(a.med, 3) AS median_value,
       ROUND(a.mad, 3) AS mad,
       CAST(SUM(CASE WHEN 0.6745 * ABS(e.value - a.med) / a.mad > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN mad a USING (event_type)
GROUP BY e.event_type, a.med, a.mad
ORDER BY e.event_type
"""


@register("timeseries_anomaly_mad", oracle=MAD_ORACLE)
def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier accounting: two grouped exact
    medians (each one |event_types|-sized exchange of the fact
    table) and a broadcast of the |types|-row stats table back onto
    the scan for the outlier count — same broadcast-stats shape as
    the z-score op, so the fact table is never shuffled on anything
    bigger than event_type. Exact MEDIAN (not percentile_approx):
    a sketch error on the MAD multiplies into the 0.6745/MAD score
    and flips borderline outliers, which is exactly what a
    correctness-gated anomaly count can't have. At 100 TB swap the
    exact median for percentile_approx(…, 1e-5) and the plan is
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    score = 0.6745 * F.abs(F.col("value") - F.col("med")) / F.col("mad")
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum((score > 3.5).cast("long")).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.round("med", 3).alias("median_value"),
            F.round("mad", 3).alias("mad"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )


QUANTILE_ROLLUP_ORACLE = """
-- Mergeable quantile rollup (the quantile analogue of
-- agg_hll_rollup_table): each day stores a fixed 64-bucket
-- equi-width histogram of event values (bounded state, merges by
-- ADDITION — the property that lets month quantiles come from the
-- stored rollup instead of re-scanning history). Month p50/p90 are
-- estimated by cumulative-bucket linear interpolation; the oracle
-- replays the identical histogram estimate AND the exact quantile,
-- pinning both the estimate and the |est-exact| <= bucket-width
-- error contract. Domain pinned [0, 512) (events.value tops out
-- ~500); width = 8.
WITH daily AS (
  SELECT DATE_TRUNC('month', ts) AS mon, CAST(ts AS DATE) AS d,
         LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), monthly AS (
  SELECT mon, bucket, SUM(cnt) AS cnt FROM daily GROUP BY mon, bucket
), cum AS (
  SELECT mon, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY mon ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY mon) AS n
  FROM monthly
), est AS (
  -- crossing bucket is the UNIQUE one with cum >= t > cum - cnt;
  -- gating on both sides matters (later buckets interpolate to
  -- garbage negative offsets, and an ungated MIN would take them)
  SELECT mon,
         MIN(CASE WHEN cum >= 0.5 * n AND cum - cnt < 0.5 * n THEN
           bucket * 8 + (0.5 * n - (cum - cnt)) / cnt * 8 END) AS est_p50,
         MIN(CASE WHEN cum >= 0.9 * n AND cum - cnt < 0.9 * n THEN
           bucket * 8 + (0.9 * n - (cum - cnt)) / cnt * 8 END) AS est_p90
  FROM cum GROUP BY mon
), exact AS (
  SELECT DATE_TRUNC('month', ts) AS mon,
         QUANTILE_CONT(value, 0.5) AS ex_p50,
         QUANTILE_CONT(value, 0.9) AS ex_p90
  FROM events GROUP BY 1
)
SELECT STRFTIME(e.mon, '%Y-%m') AS month,
       ROUND(e.est_p50, 3) AS est_p50,
       ROUND(e.est_p90, 3) AS est_p90,
       ABS(e.est_p50 - x.ex_p50) <= 8.0 AS p50_within_bucket,
       ABS(e.est_p90 - x.ex_p90) <= 8.0 AS p90_within_bucket
FROM est e JOIN exact x USING (mon)
ORDER BY month
"""


@register("agg_quantile_histogram_rollup", oracle=QUANTILE_ROLLUP_ORACLE)
def agg_quantile_histogram_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-aggregate quantiles from a stored, mergeable
    histogram: the daily 64-bucket table is the materialization a
    warehouse persists per partition (64 longs/day — constant
    state); month quantiles are answered by SUMMING bucket counts
    and interpolating, never re-touching raw history. Estimate error
    is bounded by one bucket width BY CONSTRUCTION (the true
    quantile lies inside the crossing bucket), which the oracle pins
    against the exact quantile. This is the poor-engine's t-digest:
    addition-mergeable like HLL (agg_hll_rollup_table), exactly the
    property percentile_approx's opaque in-flight sketch does not
    give you as a STORED table. All arithmetic is JVM-side; the
    daily->monthly->cumulative chain reuses one month-grain
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("month", "ts").alias("mon"),
            F.col("ts").cast("date").alias("d"),
            F.least(
                F.floor(F.col("value") / 8).cast("long"), F.lit(63)
            ).alias("bucket"),
        )
        .groupBy("mon", "d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    monthly = daily.groupBy("mon", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    wc = Window.partitionBy("mon").orderBy("bucket")
    wn = Window.partitionBy("mon")
    cum = monthly.select(
        "mon",
        "bucket",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def interp(q: float):
        # the crossing bucket is unique: cum >= t > cum - cnt. Both
        # gates are required — past the crossing, (t - cum_prev) goes
        # negative and an ungated MIN would pick that garbage.
        t = F.lit(q) * F.col("n")
        return F.min(
            F.when(
                (F.col("cum") >= t) & (F.col("cum") - F.col("cnt") < t),
                F.col("bucket") * 8
                + (t - (F.col("cum") - F.col("cnt"))) / F.col("cnt") * 8,
            )
        )

    est = cum.groupBy("mon").agg(
        interp(0.5).alias("est_p50"), interp(0.9).alias("est_p90")
    )
    exact = ev.groupBy(F.date_trunc("month", "ts").alias("mon")).agg(
        F.percentile("value", F.lit(0.5)).alias("ex_p50"),
        F.percentile("value", F.lit(0.9)).alias("ex_p90"),
    )
    return (
        est.join(exact, "mon")
        .select(
            F.date_format("mon", "yyyy-MM").alias("month"),
            F.round("est_p50", 3).alias("est_p50"),
            F.round("est_p90", 3).alias("est_p90"),
            (F.abs(F.col("est_p50") - F.col("ex_p50")) <= 8.0).alias(
                "p50_within_bucket"
            ),
            (F.abs(F.col("est_p90") - F.col("ex_p90")) <= 8.0).alias(
                "p90_within_bucket"
            ),
        )
        .orderBy("month")
    )


EQUI_DEPTH_ORACLE = """
-- Equi-depth (equal-height) histogram over lineitem quantities: the
-- complement of agg_value_histogram's equal-width bins — bin EDGES
-- from exact deciles, one row per decile with its population and
-- bounds. Exact percentile_disc semantics in both engines
-- (quantile_disc in DuckDB) keep edges engine-identical; population
-- counts then follow deterministically via half-open bucket rules
-- (last bucket closed).
WITH e AS (
  SELECT MIN(l_quantity) AS q0,
         quantile_disc(l_quantity, 0.1) AS q1,
         quantile_disc(l_quantity, 0.2) AS q2,
         quantile_disc(l_quantity, 0.3) AS q3,
         quantile_disc(l_quantity, 0.4) AS q4,
         quantile_disc(l_quantity, 0.5) AS q5,
         quantile_disc(l_quantity, 0.6) AS q6,
         quantile_disc(l_quantity, 0.7) AS q7,
         quantile_disc(l_quantity, 0.8) AS q8,
         quantile_disc(l_quantity, 0.9) AS q9,
         quantile_disc(l_quantity, 1.0) AS q10
  FROM lineitem
), qlist AS (
  SELECT [q0, q1, q2, q3, q4, q5, q6, q7, q8, q9, q10] AS qs FROM e
), bounds AS (
  SELECT i, qs[CASE WHEN i = 1 THEN 1 ELSE i END] AS lo, qs[i + 1] AS hi
  FROM qlist, UNNEST(range(1, 11)) u(i)
), counts AS (
  SELECT b.i, b.lo, b.hi, COUNT(*) AS n
  FROM bounds b JOIN lineitem l
    ON (l.l_quantity > b.lo OR (b.i = 1 AND l.l_quantity >= b.lo))
   AND l.l_quantity <= b.hi
  GROUP BY b.i, b.lo, b.hi
)
SELECT CAST(i AS INT)        AS decile,
       CAST(lo AS BIGINT)    AS lower_bound,
       CAST(hi AS BIGINT)    AS upper_bound,
       CAST(n AS BIGINT)     AS n_rows
FROM counts ORDER BY decile
"""


@register("agg_equi_depth_histogram", oracle=EQUI_DEPTH_ORACLE)
def agg_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: exact discrete deciles (percentile_disc
    — engine-identical edges because they're order statistics, not
    interpolations), then one broadcast range-join of the 10-row
    bounds table back onto the fact scan for populations. Scale
    shape: the quantile pass is one sort-based aggregate; the count
    pass is a broadcast theta join with 10 rows on the build side —
    the fact table is scanned twice and shuffled never (the deciles
    themselves are the only driver-visible state, the optimizer's
    column-stats shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.agg(
        *[
            F.expr(
                f"percentile_disc({i / 10.0}) WITHIN GROUP "
                "(ORDER BY l_quantity)"
            ).alias(f"q{i}")
            for i in range(1, 11)
        ],
        F.min("l_quantity").alias("q0"),
    )
    rows = edges.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.col(f"q{i - 1}" if i > 1 else "q0").alias("lo"),
                        F.col(f"q{i}").alias("hi"),
                    )
                    for i in range(1, 11)
                ]
            )
        ).alias("b")
    ).select("b.i", "b.lo", "b.hi")
    # fix bucket 1's lo to the true min (q0), others to previous decile
    joined = li.join(
        F.broadcast(rows),
        (
            (F.col("l_quantity") > F.col("lo"))
            | ((F.col("i") == 1) & (F.col("l_quantity") >= F.col("lo")))
        )
        & (F.col("l_quantity") <= F.col("hi")),
    )
    return (
        joined.groupBy("i", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("i").cast("int").alias("decile"),
            F.col("lo").cast("long").alias("lower_bound"),
            F.col("hi").cast("long").alias("upper_bound"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


WELCH_TTEST_ORACLE = """
-- Welch's two-sample t-test per event_type: users hash-split into
-- deterministic A/B arms (the experimentation primitive), t statistic
-- and Welch-Satterthwaite degrees of freedom from one-pass
-- co-moments. Exact: variances from VAR_SAMP over identical
-- populations; t and df ROUND(...,4) (inputs differ only by
-- summation-order epsilon ~1e-12, far from the rounding boundary).
-- significant_2sided pins |t| > 1.96 (the z approximation — df is in
-- the thousands here, documented).
WITH armed AS (
  SELECT event_type, value,
         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
  FROM events
), stats AS (
  SELECT event_type, arm, COUNT(*) AS n, AVG(value) AS m,
         VAR_SAMP(value) AS v
  FROM armed GROUP BY event_type, arm
), wide AS (
  SELECT a.event_type,
         a.n AS na, a.m AS ma, a.v AS va,
         b.n AS nb, b.m AS mb, b.v AS vb
  FROM (SELECT * FROM stats WHERE arm = 'a') a
  JOIN (SELECT * FROM stats WHERE arm = 'b') b USING (event_type)
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma - mb, 4) AS mean_diff,
       ROUND((ma - mb) / SQRT(va / na + vb / nb), 4) AS t_stat,
       ROUND(POW(va / na + vb / nb, 2)
             / (POW(va / na, 2) / (na - 1)
                + POW(vb / nb, 2) / (nb - 1)), 2) AS welch_df,
       ABS((ma - mb) / SQRT(va / na + vb / nb)) > 1.96
         AS significant_2sided
FROM wide ORDER BY event_type
"""


@register("agg_welch_ttest", oracle=WELCH_TTEST_ORACLE)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test between deterministic hash-split A/B arms, per
    event_type — the experimentation-readout primitive. ONE
    partial-aggregated pass to (type, arm) co-moments (count/mean/
    var), then all test math on the |types|x2 table; the fact table
    is never joined or windowed. Null hypothesis is TRUE by
    construction (arms are a hash split of the same population), so
    significance flags stay false at any scale — which the oracle
    pins, making a spurious-significance bug (wrong df, pooled-vs-
    Welch variance mixup) a value failure."""
    ev = load_table(spark, sf_dir, "events")
    armed = ev.select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"),
    )
    stats = armed.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = stats.filter(F.col("arm") == "a").select(
        "event_type",
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("v").alias("va"),
    )
    b = stats.filter(F.col("arm") == "b").select(
        "event_type",
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("v").alias("vb"),
    )
    w = a.join(b, "event_type")
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
        + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
    )
    return w.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
        (F.abs(t) > 1.96).alias("significant_2sided"),
    ).orderBy("event_type")


POISSON_ANOMALY_ORACLE = """
-- Poisson rate anomaly detection: per event_type, compare each day's
-- event count against the type's mean daily rate; standardized
-- residual z = (x - lambda) / sqrt(lambda) flags bursty/dead days
-- (|z| > 3). The volumetric-monitoring gate (DQ checks on ingest
-- volume) — exact integer counts, one rounded division.
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS x
  FROM events GROUP BY 1, 2
), rate AS (
  SELECT event_type, AVG(x) AS lam FROM daily GROUP BY event_type
)
SELECT d.event_type,
       STRFTIME(d.d, '%Y-%m-%d')                      AS day,
       CAST(d.x AS BIGINT)                            AS n_events,
       ROUND(r.lam, 4)                                AS expected,
       ROUND((d.x - r.lam) / SQRT(r.lam), 4)          AS z_score,
       ABS((d.x - r.lam) / SQRT(r.lam)) > 3           AS anomaly
FROM daily d JOIN rate r USING (event_type)
ORDER BY event_type, day
"""


@register("agg_poisson_rate_anomaly", oracle=POISSON_ANOMALY_ORACLE)
def agg_poisson_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volumetric anomaly gate: ONE partial-aggregated pass to
    (type, day) counts, the |types|-row rate table broadcast back
    onto the |types|x|days| grid — ingest-volume monitoring that
    never re-touches the fact table. Complements the value-level
    gates (z-score, MAD, PSI, KS) with the count level."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    rate = daily.groupBy("event_type").agg(F.avg("x").alias("lam"))
    z = (F.col("x") - F.col("lam")) / F.sqrt(F.col("lam"))
    return (
        daily.join(F.broadcast(rate), "event_type")
        .select(
            "event_type",
            "day",
            F.col("x").cast("long").alias("n_events"),
            F.round("lam", 4).alias("expected"),
            F.round(z, 4).alias("z_score"),
            (F.abs(z) > 3).alias("anomaly"),
        )
        .orderBy("event_type", "day")
    )


HIGHER_MOMENTS_ORACLE = """
-- Distribution shape per event_type: skewness and excess kurtosis
-- computed FROM RAW MOMENTS (E[x..x^4] in one pass, central moments
-- by algebra) rather than the engines' built-ins — Spark's
-- skewness/kurtosis are population-form while DuckDB's are
-- bias-corrected sample-form, so the built-ins can NEVER hash-match;
-- stating the moment algebra explicitly makes the result
-- engine-portable AND partial-aggregable (raw moments are sums).
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         AVG(value) AS m1, AVG(value * value) AS m2,
         AVG(value * value * value) AS m3,
         AVG(value * value * value * value) AS m4
  FROM events GROUP BY event_type
), c AS (
  SELECT event_type, n, m1,
         m2 - m1 * m1                               AS c2,
         m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1        AS c3,
         m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
            - 3 * m1 * m1 * m1 * m1                 AS c4
  FROM m
)
SELECT event_type,
       CAST(n AS BIGINT)                 AS n_events,
       ROUND(m1, 4)                      AS mean,
       ROUND(SQRT(c2), 4)                AS stddev_pop,
       ROUND(c3 / POW(c2, 1.5), 4)       AS skewness_pop,
       ROUND(c4 / (c2 * c2) - 3, 4)      AS excess_kurtosis_pop
FROM c ORDER BY event_type
"""


@register("agg_higher_moments", oracle=HIGHER_MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness / excess kurtosis per event_type from explicit raw
    moments: one partial-aggregable pass (raw moments are plain sums
    — they merge across partitions and across incremental batches
    exactly like warehouse_incremental_moments), central moments by
    algebra. Deliberately NOT the built-ins: Spark's skewness/
    kurtosis use population form, DuckDB's bias-corrected sample form
    — an engine-portability trap the explicit algebra removes."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("m1"),
        F.avg(v * v).alias("m2"),
        F.avg(v * v * v).alias("m3"),
        F.avg(v * v * v * v).alias("m4"),
    )
    m1 = F.col("m1")
    c2 = F.col("m2") - m1 * m1
    c3 = F.col("m3") - 3 * m1 * F.col("m2") + 2 * m1 * m1 * m1
    c4 = (
        F.col("m4")
        - 4 * m1 * F.col("m3")
        + 6 * m1 * m1 * F.col("m2")
        - 3 * m1 * m1 * m1 * m1
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(m1, 4).alias("mean"),
        F.round(F.sqrt(c2), 4).alias("stddev_pop"),
        F.round(c3 / F.pow(c2, 1.5), 4).alias("skewness_pop"),
        F.round(c4 / (c2 * c2) - 3, 4).alias("excess_kurtosis_pop"),
    ).orderBy("event_type")


RATIO_DELTA_CI_ORACLE = """
-- Delta-method CI for a RATIO metric (value per event, A/B arms):
-- ratio metrics violate the iid-unit assumption behind the plain
-- t-test (numerator and denominator are correlated per user), so
-- experimentation readouts use the delta method on user-level
-- aggregates: for R = X/Y with per-user (x_i, y_i),
-- var(R) ~ ( var(x) - 2 R cov(x,y) + R^2 var(y) ) / (n * mean(y)^2).
-- One co-moment pass over user-level rollups; per-arm ratio, its
-- standard error, and the 95% CI half-width, all exact algebra.
WITH usr AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
         SUM(value) AS x, COUNT(*) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT arm, COUNT(*) AS n,
         AVG(x) AS mx, AVG(y) AS my,
         VAR_SAMP(x) AS vx, VAR_SAMP(y) AS vy,
         COVAR_SAMP(x, y) AS cxy
  FROM usr GROUP BY arm
)
SELECT arm,
       CAST(n AS BIGINT)                       AS n_users,
       ROUND(mx / my, 6)                       AS ratio,
       ROUND(SQRT((vx - 2 * (mx / my) * cxy
                   + (mx / my) * (mx / my) * vy)
                  / (n * my * my)), 6)         AS ratio_se,
       ROUND(1.96 * SQRT((vx - 2 * (mx / my) * cxy
                          + (mx / my) * (mx / my) * vy)
                         / (n * my * my)), 6)  AS ci95_halfwidth
FROM m ORDER BY arm
"""


@register("agg_ratio_delta_ci", oracle=RATIO_DELTA_CI_ORACLE)
def agg_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for ratio metrics (value/event per
    user) — the correct experimentation readout where the naive
    t-test is wrong because per-user numerators and denominators
    correlate. Scale shape: one user-level rollup Exchange, then one
    co-moment aggregate per arm; all CI math on the 2-row table."""
    ev = load_table(spark, sf_dir, "events")
    usr = ev.groupBy("user_id").agg(
        F.sum("value").alias("x"), F.count(F.lit(1)).alias("y")
    ).select(
        "x",
        "y",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"),
    )
    m = usr.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    r = F.col("mx") / F.col("my")
    var_r = (
        F.col("vx") - 2 * r * F.col("cxy") + r * r * F.col("vy")
    ) / (F.col("n") * F.col("my") * F.col("my"))
    se = F.sqrt(var_r)
    return m.select(
        "arm",
        F.col("n").cast("long").alias("n_users"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("ratio_se"),
        F.round(1.96 * se, 6).alias("ci95_halfwidth"),
    ).orderBy("arm")


GINI_ORACLE = """
-- Gini coefficient of per-user spend (inequality / concentration —
-- the whale-dependence metric): exact rank formula over the sorted
-- user rollup, G = 2*SUM(i*x_i)/(n*SUM(x)) - (n+1)/n with ties
-- broken by user_id for engine-identical ranks. The window runs on
-- the USER-sized rollup, never the fact table.
WITH usr AS (
  SELECT user_id, ROUND(SUM(value), 2) AS x
  FROM events GROUP BY user_id
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM usr
)
SELECT CAST(COUNT(*) AS BIGINT)                       AS n_users,
       ROUND(SUM(x), 2)                               AS total_value,
       ROUND(2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
             - (COUNT(*) + 1.0) / COUNT(*), 6)        AS gini
FROM ranked
"""


@register("agg_gini_coefficient", oracle=GINI_ORACLE)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini over per-user spend: one fact Exchange to the user
    rollup, a rank window over the |users|-sized table (per-segment
    at scale: partition the window by segment), one aggregate. Spend
    rounded to 2 before ranking so rank order is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    usr = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("x"))
    ranked = usr.withColumn(
        "i", F.row_number().over(Window.orderBy("x", "user_id"))
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_users"),
        F.round(F.sum("x"), 2).alias("total_value"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


CATEGORICAL_ENTROPY_ORACLE = """
-- Daily Shannon entropy of the event-type mix (category drift: a
-- crawler/source going monocultural collapses entropy; a new
-- category raises it). Exact: integer counts, entropy in nats
-- rounded; the |days|x|types| table is the only post-rollup input.
WITH cnt AS (
  SELECT date_trunc('day', ts) AS d, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT d, SUM(c) AS n FROM cnt GROUP BY d
)
SELECT STRFTIME(c.d, '%Y-%m-%d')  AS day,
       CAST(t.n AS BIGINT)        AS n_events,
       CAST(COUNT(*) AS BIGINT)   AS n_types,
       ROUND(-SUM((c.c * 1.0 / t.n) * ln(c.c * 1.0 / t.n)), 6)
                                  AS type_entropy
FROM cnt c JOIN tot t USING (d)
GROUP BY c.d, t.n ORDER BY day
"""


@register("agg_categorical_entropy_daily", oracle=CATEGORICAL_ENTROPY_ORACLE)
def agg_categorical_entropy_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily category-mix entropy: one partial-aggregated fact pass
    to (day, type) counts, a |days|-row totals join, entropy math on
    the domain-sized grid — the mix-drift monitor beside the
    volumetric (Poisson) and value (PSI/KS) gates."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("day").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "day")
        .groupBy("day", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("type_entropy"),
        )
        .select(
            "day",
            F.col("n").cast("long").alias("n_events"),
            "n_types",
            "type_entropy",
        )
        .orderBy("day")
    )


BENFORD_ORACLE = """
-- Benford first-digit audit on order totals: observed leading-digit
-- frequencies vs the Benford expectation log10(1 + 1/d), with the
-- chi-square statistic as the fraud/synthetic-data tripwire (a
-- money-amount column drifting far from Benford is a classic DQ
-- anomaly; a chi2 this large on SYNTHETIC uniform-ish prices is
-- itself the expected reading). One fact pass to 9 digit counts.
WITH d AS (
  SELECT CAST(FLOOR(o_totalprice
               / POWER(10, FLOOR(LOG10(o_totalprice)))) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), freq AS (
  SELECT digit, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS tot FROM d GROUP BY digit
), scored AS (
  SELECT digit, n, tot,
         n * 1.0 / tot                  AS observed_freq,
         LOG10(1 + 1.0 / digit)         AS expected_freq
  FROM freq
)
SELECT digit,
       CAST(n AS BIGINT)                AS n_orders,
       ROUND(observed_freq, 6)          AS observed_freq,
       ROUND(expected_freq, 6)          AS expected_freq,
       ROUND(SUM(tot * (observed_freq - expected_freq)
                     * (observed_freq - expected_freq)
                 / expected_freq) OVER (), 2) AS chi2_stat
FROM scored ORDER BY digit
"""


@register("agg_benford_first_digit", oracle=BENFORD_ORACLE)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the
    financial-data plausibility gate (and, on synthetic fixtures, a
    synthetic-data detector: uniform price generators flunk it
    loudly). Scale shape: the leading digit is map-side arithmetic
    (no string casts), one partial-aggregated Exchange to 9 rows;
    the chi-square is a window over the 9-row table."""
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    freq = od.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wall = Window.partitionBy()
    scored = freq.select(
        "digit",
        "n",
        F.sum("n").over(wall).alias("tot"),
        (F.col("n") / F.sum("n").over(wall)).alias("observed_freq"),
        F.log10(1 + 1.0 / F.col("digit")).alias("expected_freq"),
    )
    dev = F.col("observed_freq") - F.col("expected_freq")
    return scored.select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        F.round("observed_freq", 6).alias("observed_freq"),
        F.round("expected_freq", 6).alias("expected_freq"),
        F.round(
            F.sum(F.col("tot") * dev * dev / F.col("expected_freq")).over(
                wall
            ),
            2,
        ).alias("chi2_stat"),
    ).orderBy("digit")


CHI2_INDEPENDENCE_ORACLE = """
-- Chi-square test of independence between event_type and day-of-week
-- (is behavior mix stable across the week, or does the source have a
-- weekday/weekend regime?): observed contingency counts vs
-- independence expectations row_total*col_total/N. One fact pass to
-- the |types| x 7 table; expectations and the statistic are
-- domain-sized window algebra. dof = (r-1)(c-1) emitted alongside.
WITH obs AS (
  SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
  FROM events GROUP BY 1, 2
), dom AS (
  -- COMPLETE the contingency table: an empty (type, dow) cell must
  -- contribute its expected count E to the statistic (observed 0,
  -- (0-E)^2/E = E); summing observed cells only understates chi2
  -- relative to its dof whenever a type is absent on some weekday
  SELECT t.event_type, d.dow
  FROM (SELECT DISTINCT event_type FROM obs) t
  CROSS JOIN (SELECT DISTINCT dow FROM obs) d
), filled AS (
  SELECT dom.event_type, dom.dow, COALESCE(obs.o, 0) AS o
  FROM dom LEFT JOIN obs
    ON dom.event_type = obs.event_type AND dom.dow = obs.dow
), m AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS rt,
         SUM(o) OVER (PARTITION BY dow)        AS ct,
         SUM(o) OVER ()                        AS n
  FROM filled
)
SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)          AS n_types,
       CAST(COUNT(DISTINCT dow) AS BIGINT)                 AS n_days,
       CAST((COUNT(DISTINCT event_type) - 1)
            * (COUNT(DISTINCT dow) - 1) AS BIGINT)         AS dof,
       ROUND(SUM((o - rt * ct * 1.0 / n)
                 * (o - rt * ct * 1.0 / n)
                 / (rt * ct * 1.0 / n)), 4)                AS chi2_stat
FROM m
"""


@register("agg_chi2_independence", oracle=CHI2_INDEPENDENCE_ORACLE)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and day of
    week — the drift gate for behavioral-mix-vs-time stability (a
    chi2 far above dof says the category mix has a weekly regime).
    Scale shape: one partial-aggregated pass to the |types|x7
    contingency table; margins via windows over that tiny table.
    The table is COMPLETED (distinct types x distinct dows, missing
    observed counts as 0) so empty cells contribute their expected
    count to the statistic — otherwise chi2 is biased low vs its dof
    whenever a type is absent on some weekday."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    dom = obs.select("event_type").distinct().crossJoin(
        obs.select("dow").distinct()
    )
    obs = dom.join(obs, ["event_type", "dow"], "left").select(
        "event_type", "dow", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("ct") * 1.0 / F.col("n")
    return m.agg(
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count_distinct("dow").cast("long").alias("n_days"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 4).alias(
            "chi2_stat"
        ),
    )


# ------------------------------------------------- Spearman rank corr

SPEARMAN_ORACLE = """
-- Spearman rank correlation between order price and order date —
-- "is revenue drifting over time, monotonically?" Robust to the
-- price distribution's heavy tail where Pearson (agg_corr_covar)
-- is not. Ties use standard fractional ranks, carried as EXACT
-- integers via the doubled-rank trick R = 2*rank + ties - 1
-- (Spearman is affine-invariant, so scaling ranks by 2 leaves r
-- unchanged while keeping every rank integral). The Pearson form on
-- (Rx, Ry) uses sums of integer products; per-term products are
-- exact doubles, and the final r is snapped at 4dp — the residual
-- cross-engine risk (sum order at >2^53 magnitudes, sf>=1) moves r
-- by ~1e-16 relative, invisible at the 4dp grid for a statistic
-- that is not boundary-structured (documented residual, unlike the
-- money half-cent classes).
WITH ranked AS (
  SELECT
    2 * RANK() OVER (ORDER BY o_totalprice)
      + COUNT(*) OVER (PARTITION BY o_totalprice) - 1 AS rx,
    2 * RANK() OVER (ORDER BY CAST(o_orderdate AS DATE))
      + COUNT(*) OVER (PARTITION BY CAST(o_orderdate AS DATE)) - 1 AS ry
  FROM orders
), s AS (
  -- CAST AS DOUBLE, not * 1.0: DuckDB types the literal 1.0 as
  -- DECIMAL, and SUM(DECIMAL)^2 overflows DECIMAL(38) at sf0.1;
  -- the double casts mirror Spark's long*1.0 promotion exactly
  SELECT COUNT(*) AS n,
         SUM(CAST(rx AS DOUBLE)) AS sx, SUM(CAST(ry AS DOUBLE)) AS sy,
         SUM(CAST(rx AS DOUBLE) * CAST(rx AS DOUBLE)) AS sxx,
         SUM(CAST(ry AS DOUBLE) * CAST(ry AS DOUBLE)) AS syy,
         SUM(CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE)) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_orders,
       FLOOR((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
             * 10000 + 0.5) / 10000 AS spearman_rho
FROM s
"""


@register("agg_spearman_rank_corr", oracle=SPEARMAN_ORACLE)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (price vs order date) — the
    monotonic-drift detector that complements Pearson
    (agg_corr_covar) on heavy-tailed money columns.

    Scale shape: two rank windows over the fact table (each one
    Exchange on its ordering; at 100 TB the global ranks would move
    to the two-pass histogram-bucket equivalent exactly like
    window_percentile_bucket_scalable — same fractional ranks,
    because tie counts are exact either way), then one partial
    aggregate to six sufficient statistics and a fixed scalar chain.
    Fractional ranks are exact integers via the doubled-rank trick
    (see SPEARMAN_ORACLE)."""
    orders = load_table(spark, sf_dir, "orders")
    wx = Window.orderBy("o_totalprice")
    wxp = Window.partitionBy("o_totalprice")
    dt = F.col("o_orderdate").cast("date")
    wy = Window.orderBy(dt)
    wyp = Window.partitionBy(dt)
    ranked = orders.select(
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(wxp) - 1).alias("rx"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(wyp) - 1).alias("ry"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx") * 1.0).alias("sx"),
        F.sum(F.col("ry") * 1.0).alias("sy"),
        F.sum(F.col("rx") * 1.0 * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * 1.0 * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * 1.0 * F.col("ry")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        n.cast("long").alias("n_orders"),
        snap(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("spearman_rho"),
    )


MUTUAL_INFO_ORACLE = """
-- Mutual information (nats) between order priority and order
-- status, plus the normalized variant MI/min(H(X),H(Y)) — the
-- dependence screen for categorical feature pairs (chi2 tests
-- significance; MI measures STRENGTH on an information scale).
-- Device: each of the <=15 cell terms p*ln(p/(px*py)) is a
-- fixed-order scalar on exact integer counts, snapped to 1e-8
-- NANO-units and summed as exact BIGINTs — no data-order-dependent
-- float summation anywhere (the ml_log_loss discipline applied to
-- a domain-sized sum). Entropies use the same device.
WITH n AS (
  SELECT COUNT(*) AS n FROM orders
), joint AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
), mx AS (
  SELECT x, SUM(c) AS cx FROM joint GROUP BY x
), my AS (
  SELECT y, SUM(c) AS cy FROM joint GROUP BY y
), mi_terms AS (
  SELECT CAST(FLOOR((j.c * 1.0 / n.n)
                    * LN((j.c * 1.0 * n.n) / (mx.cx * 1.0 * my.cy))
                    * 100000000 + 0.5) AS BIGINT) AS t
  FROM joint j, n, mx, my WHERE j.x = mx.x AND j.y = my.y
), hx_terms AS (
  SELECT CAST(FLOOR(-(cx * 1.0 / n.n) * LN(cx * 1.0 / n.n)
                    * 100000000 + 0.5) AS BIGINT) AS t
  FROM mx, n
), hy_terms AS (
  SELECT CAST(FLOOR(-(cy * 1.0 / n.n) * LN(cy * 1.0 / n.n)
                    * 100000000 + 0.5) AS BIGINT) AS t
  FROM my, n
), s AS (
  SELECT (SELECT SUM(t) FROM mi_terms) AS mi_n,
         (SELECT SUM(t) FROM hx_terms) AS hx_n,
         (SELECT SUM(t) FROM hy_terms) AS hy_n,
         (SELECT COUNT(*) FROM joint)  AS n_cells
)
SELECT CAST(n_cells AS BIGINT) AS n_cells,
       FLOOR((mi_n / 100000000.0) * 1000000 + 0.5) / 1000000 AS mutual_info_nats,
       FLOOR((hx_n / 100000000.0) * 1000000 + 0.5) / 1000000 AS entropy_priority,
       FLOOR((hy_n / 100000000.0) * 1000000 + 0.5) / 1000000 AS entropy_status,
       FLOOR((mi_n * 1.0 / LEAST(hx_n, hy_n)) * 1000000 + 0.5) / 1000000
         AS normalized_mi
FROM s
"""


@register("agg_mutual_information", oracle=MUTUAL_INFO_ORACLE)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and status — the
    categorical-dependence strength screen (complement to
    agg_chi2_independence, which only tests significance).

    Scale shape: one partial-aggregated fact pass to the |X|x|Y|
    joint table (<=15 cells); marginals and every ln() term are
    domain-sized fixed-order scalars. Each term is snapped to exact
    integer nano-units BEFORE the final sums, so no float summation
    depends on execution order — cross-engine parity holds by
    construction, not by tolerance."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    # ONE corpus pass: the |X|x|Y| joint is the only fact-derived
    # table; n, marginals, and every entropy term derive from these
    # <=15 persisted rows (without the persist, Catalyst re-expands
    # each of the 8 downstream branches into its own parquet scan —
    # the plan audit that motivated this shape)
    joint = cached(
        orders.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_df = joint.agg(F.sum("c").alias("n"))
    mx = joint.groupBy("x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    terms = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n_df))
    )
    mi_t = fixed(
        (F.col("c") * 1.0 / F.col("n"))
        * F.log((F.col("c") * 1.0 * F.col("n")) / (F.col("cx") * 1.0 * F.col("cy"))),
        8,
    )
    mi_sum = terms.agg(
        F.sum(mi_t).alias("mi_n"), F.count(F.lit(1)).alias("n_cells")
    )
    hx_sum = mx.crossJoin(F.broadcast(n_df)).agg(
        F.sum(
            fixed(
                -(F.col("cx") * 1.0 / F.col("n"))
                * F.log(F.col("cx") * 1.0 / F.col("n")),
                8,
            )
        ).alias("hx_n")
    )
    hy_sum = my.crossJoin(F.broadcast(n_df)).agg(
        F.sum(
            fixed(
                -(F.col("cy") * 1.0 / F.col("n"))
                * F.log(F.col("cy") * 1.0 / F.col("n")),
                8,
            )
        ).alias("hy_n")
    )
    s = mi_sum.crossJoin(hx_sum).crossJoin(hy_sum)
    return s.select(
        "n_cells",
        snap(F.col("mi_n") / 1e8, 6).alias("mutual_info_nats"),
        snap(F.col("hx_n") / 1e8, 6).alias("entropy_priority"),
        snap(F.col("hy_n") / 1e8, 6).alias("entropy_status"),
        snap(F.col("mi_n") * 1.0 / F.least(F.col("hx_n"), F.col("hy_n")), 6).alias(
            "normalized_mi"
        ),
    )


ABC_ORACLE = """
-- ABC (Pareto) classification of brands by net revenue: sort brands
-- by exact-cents revenue, classify by cumulative share (A <= 70%,
-- B <= 90%, C the tail) — the inventory-prioritization rollup every
-- warehouse runs (the actionable sibling of agg_gini_coefficient's
-- single inequality number). Per-row net cents snap to exact
-- integers before the brand sums, the cumulative share is a ratio
-- of exact BIGINTs, and the class thresholds compare identical
-- doubles — deterministic end to end.
WITH brand_rev AS (
  SELECT p.p_brand AS brand,
         SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT)) AS rev_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
), ranked AS (
  SELECT brand, rev_cents,
         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, brand) AS cum_cents,
         SUM(rev_cents) OVER () AS tot_cents
  FROM brand_rev
)
SELECT brand,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       FLOOR((cum_cents * 1.0 / tot_cents) * 1000000 + 0.5) / 1000000
         AS cum_share,
       CASE WHEN cum_cents * 1.0 / tot_cents <= 0.70 THEN 'A'
            WHEN cum_cents * 1.0 / tot_cents <= 0.90 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked ORDER BY rev_cents DESC, brand
"""


@register("agg_abc_classification", oracle=ABC_ORACLE)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of brands by net revenue share —
    the 80/20 prioritization rollup (which brands are the A-class
    head that deserves per-item attention, which are the C tail).

    Scale shape: the lineitem-part join is the corpus-sized work
    (part side is dimension-sized → broadcast); per-row net revenue
    snaps to exact integer cents BEFORE the brand aggregation, so
    brand sums and the running share are exact integer math; the
    |brands| rollup (~25 rows) runs its cumulative window on one
    executor trivially."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False).select(
        "l_partkey",
        fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        .alias("net_cents"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brand_rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("net_cents").alias("rev_cents"))
    )
    w = Window.orderBy(F.desc("rev_cents"), "brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = brand_rev.select(
        "brand",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_cents"),
        F.sum("rev_cents")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("tot_cents"),
    )
    share = F.col("cum_cents") * 1.0 / F.col("tot_cents")
    return ranked.select(
        "brand",
        "rev_cents",
        snap(share, 6).alias("cum_share"),
        F.when(share <= 0.70, "A").when(share <= 0.90, "B").otherwise("C").alias(
            "abc_class"
        ),
    ).orderBy(F.desc("rev_cents"), "brand")


THEIL_ORACLE = """
-- Theil T and L inequality indices of customer revenue (exact
-- cents): T = (1/n) sum (x/mu) ln(x/mu), L = (1/n) sum ln(mu/x) —
-- the DECOMPOSABLE inequality measures next to the Gini coefficient
-- (Theil splits exactly into within-group + between-group terms,
-- which Gini cannot). Per-customer terms are fixed-order scalars on
-- exact BIGINTs, snapped to NANO units and summed exactly — the
-- standing no-order-dependent-float-sums device.
WITH cust AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s FROM cust
), terms AS (
  SELECT CAST(FLOOR((c.cents * 1.0 / (t.s * 1.0 / t.n))
                    * LN(c.cents * 1.0 / (t.s * 1.0 / t.n))
                    * 1000000000 + 0.5) AS BIGINT) AS t_nano,
         CAST(FLOOR(LN((t.s * 1.0 / t.n) / (c.cents * 1.0))
                    * 1000000000 + 0.5) AS BIGINT) AS l_nano
  FROM cust c CROSS JOIN tot t
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
       FLOOR((SUM(t_nano) * 1.0 / COUNT(*) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS theil_t,
       FLOOR((SUM(l_nano) * 1.0 / COUNT(*) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS theil_l
FROM terms
"""


@register("agg_theil_inequality", oracle=THEIL_ORACLE)
def agg_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L inequality of customer revenue — the
    decomposable complement to agg_gini_coefficient (Theil is
    additively separable into within/between-group inequality, the
    property segmentation analyses need).

    Scale shape: one fact pass to the customer domain; the corpus
    mean broadcasts as two longs; per-customer entropy terms snap
    to exact NANO integers before the final sums, so the indices
    are summation-order independent at any scale."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    # persist the customer rollup: tot and the term pass both read it,
    # and without the persist each branch re-scans the fact table
    cust = cached(orders.groupBy("o_custkey").agg(
        F.sum(fixed(F.col("o_totalprice"), 2)).alias("cents")
    ))
    tot = cust.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    mu = F.col("s") * 1.0 / F.col("n")
    ratio = F.col("cents") * 1.0 / mu
    terms = cust.crossJoin(F.broadcast(tot)).select(
        fixed(ratio * F.log(ratio), 9).alias("t_nano"),
        fixed(F.log(mu / (F.col("cents") * 1.0)), 9).alias("l_nano"),
        F.col("n"),
    )
    # coalesce: max(n) over the 0-row term relation is NULL where the
    # oracle's count is 0 (empty-corpus sweep, round 14)
    return terms.agg(
        F.coalesce(F.max("n"), F.lit(0)).alias("n_customers"),
        snap(F.sum("t_nano") * 1.0 / F.count(F.lit(1)) / 1000000000.0, 6).alias(
            "theil_t"
        ),
        snap(F.sum("l_nano") * 1.0 / F.count(F.lit(1)) / 1000000000.0, 6).alias(
            "theil_l"
        ),
    )


PARETO_FRONTIER_ORACLE = """
-- Pareto frontier (skyline) of customers over MAXIMIZE lifetime
-- spend (exact integer cents) / MINIMIZE order count — the
-- 'high-value, low-touch' multi-objective query no single ORDER BY
-- answers (max/max spend-orders is near-degenerate: the dims are
-- positively correlated, so 1-2 points dominate; the opposed pair
-- yields a real frontier). A customer is ON the frontier iff no
-- other weakly beats them on both dims with one strict win;
-- dominance is decided on exact integers, so the set is
-- deterministic. Window formulation (no O(n^2) self-join): sorted
-- by cents DESC, the running MIN(n_orders) over rows with STRICTLY
-- larger cents (integer RANGE frame ending 1 PRECEDING) catches
-- cross-x dominance; a per-cents-value MIN catches same-x
-- dominance (equal cents, strictly fewer orders). Equal
-- (cents, n) pairs do not dominate each other and both stay.
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
), flagged AS (
  SELECT o_custkey, cents, n_orders,
         MIN(n_orders) OVER (ORDER BY cents DESC
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS best_above,
         MIN(n_orders) OVER (PARTITION BY cents) AS best_same
  FROM spend
)
SELECT o_custkey, CAST(cents AS BIGINT) AS cents, n_orders
FROM flagged
WHERE (best_above IS NULL OR best_above > n_orders)
  AND best_same = n_orders
ORDER BY cents DESC, o_custkey
"""


@register("agg_pareto_frontier", oracle=PARETO_FRONTIER_ORACLE)
def agg_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of customers: maximize lifetime
    spend, minimize order count — 'high-value, low-touch', the
    multi-objective query no single ORDER BY can answer (the
    opposed-dimension pair; max/max is near-degenerate here since
    spend and order count are positively correlated).

    Plan: one fact pass partial-aggregates orders to |customers|
    rows of exact-integer metrics; dominance is then two window
    passes over ONE global sort on cents (the strictly-greater-x
    running min via an integer RANGE frame, the same-x min via a
    partition) — no O(n^2) dominance self-join. At 100 TB the
    skyline is distributive (a partition-local frontier pass would
    shrink input before the global sort), but the |customers|-sized
    sorted window is already the cheap stage next to the fact scan;
    dominance on exact BIGINTs means both engines flag the identical
    frontier set."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    spend = orders.groupBy("o_custkey").agg(
        F.sum(fixed(F.col("o_totalprice"), 2)).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w_above = (
        Window.orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("cents")
    flagged = spend.select(
        "o_custkey",
        "cents",
        "n_orders",
        F.min("n_orders").over(w_above).alias("best_above"),
        F.min("n_orders").over(w_same).alias("best_same"),
    )
    return (
        flagged.filter(
            (F.col("best_above").isNull() | (F.col("best_above") > F.col("n_orders")))
            & (F.col("best_same") == F.col("n_orders"))
        )
        .select("o_custkey", "cents", "n_orders")
        .orderBy(F.col("cents").desc(), "o_custkey")
    )


CORR_MATRIX_ORACLE = """
-- One-pass Pearson correlation MATRIX of the five daily event-count
-- series (all 10 unordered pairs) — the cross-metric screen run
-- before any pairwise deep-dive. One events pass pivots to a
-- |days| x 5 table; every moment (sums, squares, cross-products)
-- is an exact BIGINT sum of integer counts aggregated in the SAME
-- single rollup, so each pair's corr is one fixed-order float
-- chain on identical integers in both engines.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m1,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m2,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m3,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS m4,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS m5
  FROM events GROUP BY 1
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(m1) AS s1, SUM(m2) AS s2, SUM(m3) AS s3,
         SUM(m4) AS s4, SUM(m5) AS s5,
         SUM(m1*m1) AS q1, SUM(m2*m2) AS q2, SUM(m3*m3) AS q3,
         SUM(m4*m4) AS q4, SUM(m5*m5) AS q5,
         SUM(m1*m2) AS p12, SUM(m1*m3) AS p13, SUM(m1*m4) AS p14,
         SUM(m1*m5) AS p15, SUM(m2*m3) AS p23, SUM(m2*m4) AS p24,
         SUM(m2*m5) AS p25, SUM(m3*m4) AS p34, SUM(m3*m5) AS p35,
         SUM(m4*m5) AS p45
  FROM daily
), names(i, nm) AS (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'),
                          (4, 'signup'), (5, 'error')),
pairs AS (
  SELECT a.i AS ia, b.i AS ib, a.nm AS metric_a, b.nm AS metric_b
  FROM names a JOIN names b ON a.i < b.i
), vals AS (
  SELECT ia, ib, metric_a, metric_b, n,
         CASE ia WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                 WHEN 4 THEN s4 ELSE s5 END AS sa,
         CASE ib WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                 WHEN 4 THEN s4 ELSE s5 END AS sb,
         CASE ia WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q3
                 WHEN 4 THEN q4 ELSE q5 END AS qa,
         CASE ib WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q3
                 WHEN 4 THEN q4 ELSE q5 END AS qb,
         CASE ia * 10 + ib
           WHEN 12 THEN p12 WHEN 13 THEN p13 WHEN 14 THEN p14
           WHEN 15 THEN p15 WHEN 23 THEN p23 WHEN 24 THEN p24
           WHEN 25 THEN p25 WHEN 34 THEN p34 WHEN 35 THEN p35
           ELSE p45 END AS pab
  FROM pairs CROSS JOIN mom
)
SELECT metric_a, metric_b,
       FLOOR((n * pab - sa * sb)
             / SQRT((n * qa - sa * sa) * 1.0 * (n * qb - sb * sb))
             * 1000000 + 0.5) / 1000000 AS corr
FROM vals
ORDER BY metric_a, metric_b
"""


@register("agg_corr_matrix_daily", oracle=CORR_MATRIX_ORACLE)
def agg_corr_matrix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the five daily event-count
    series, all 10 unordered pairs from ONE pass — the cross-metric
    health screen (pairwise corr operators re-scan per pair; the
    matrix form shares the scan and the rollup).

    Plan: one events pass conditional-pivots to |days| x 5, one
    single-row aggregate computes ALL 20 moments (map-side combine:
    each partition ships one 21-value state), and the 10-row pair
    expansion is driver-sized arithmetic on exact BIGINT moments —
    the fact scan is paid once regardless of how many pairs the
    matrix has. Integer moments -> identical float chains -> snapped
    corr matches bit-for-bit.

    Round-15 (guide §5 driver boundary; kept, −39% sf0.1 / −37% sf1
    interleaved, every sample winning, values identical): the 10-row
    pair table was a driver-side createDataFrame literal crossJoined
    against the broadcast moments row, with each pair CASE-picking
    its moments out of the 21 columns at runtime — the py4j literal
    relation, its broadcast build, and the branch-picking all go.
    The pairs are now 10 structs whose corr is computed DIRECTLY on
    the named moment columns of the one-row aggregate, exploded in
    place: same arithmetic (identical float chain per pair), pure
    codegen, zero extra jobs."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    kinds = ["view", "click", "purchase", "signup", "error"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        *[
            F.sum(F.when(F.col("event_type") == k, 1).otherwise(0)).alias(
                f"m{i+1}"
            )
            for i, k in enumerate(kinds)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(5):
        aggs.append(F.sum(f"m{i+1}").alias(f"s{i+1}"))
        aggs.append(F.sum(F.col(f"m{i+1}") * F.col(f"m{i+1}")).alias(f"q{i+1}"))
    for i in range(5):
        for j in range(i + 1, 5):
            aggs.append(
                F.sum(F.col(f"m{i+1}") * F.col(f"m{j+1}")).alias(f"p{i+1}{j+1}")
            )
    mom = daily.agg(*aggs)
    n = F.col("n")

    def corr(i: int, j: int):
        sa, sb = F.col(f"s{i}"), F.col(f"s{j}")
        qa, qb = F.col(f"q{i}"), F.col(f"q{j}")
        pab = F.col(f"p{i}{j}")
        return (
            snap(
                (n * pab - sa * sb)
                / F.sqrt((n * qa - sa * sa) * 1.0 * (n * qb - sb * sb)),
                6,
            )
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(kinds[i - 1]).alias("metric_a"),
                F.lit(kinds[j - 1]).alias("metric_b"),
                corr(i, j).alias("corr"),
            )
            for i in range(1, 6)
            for j in range(i + 1, 6)
        ]
    )
    return (
        mom.select(F.explode(rows).alias("r"))
        .select("r.metric_a", "r.metric_b", "r.corr")
        .orderBy("metric_a", "metric_b")
    )


CMS_WIDTH_SWEEP_ORACLE = """
-- Count-min sketch WIDTH CALIBRATION: build d=3 sketches at widths
-- 256 / 1024 / 4096 over the supplier-occurrence stream and measure
-- the overestimate of the top-10 true heavy hitters at each width —
-- the sizing curve that decides how much memory a 100 TB sketch
-- deployment actually needs (the fixed-width countmin operator
-- assumes a width; this one MEASURES the width/error tradeoff).
-- Hashes are the portable LCG family (never engine builtins);
-- every count is exact, so the error curve is deterministic.
WITH keyed AS (
  -- pre-aggregate the stream ONCE: the sketch over per-key counts
  -- is identical to the sketch over raw occurrences (bucket count =
  -- sum of its keys' counts), and the 9-plane expansion then runs
  -- over |keys| rows, not |stream| rows
  SELECT l_suppkey AS key, COUNT(*) AS kc FROM lineitem GROUP BY 1
), rows_(r, a, b) AS (VALUES (0, 1103515245, 12345),
                            (1, 69069, 1),
                            (2, 1664525, 1013904223)),
widths(w) AS (VALUES (256), (1024), (4096)),
sketch AS (
  SELECT w, r,
         ((key * a + b) % 2147483648) % w AS bucket,
         CAST(SUM(kc) AS BIGINT) AS cnt
  FROM keyed CROSS JOIN rows_ CROSS JOIN widths
  GROUP BY 1, 2, 3
), truth AS (
  SELECT key, kc AS true_cnt
  FROM keyed
  ORDER BY true_cnt DESC, key
  LIMIT 10
), est AS (
  SELECT t.key, t.true_cnt, s.w, MIN(s.cnt) AS est_cnt
  FROM truth t
  CROSS JOIN rows_
  CROSS JOIN widths
  JOIN sketch s ON s.w = widths.w AND s.r = rows_.r
              AND s.bucket = ((t.key * rows_.a + rows_.b) % 2147483648)
                             % widths.w
  GROUP BY 1, 2, 3
)
SELECT w AS width,
       FLOOR(AVG((est_cnt - true_cnt) * 1.0 / true_cnt) * 1000000 + 0.5)
         / 1000000 AS avg_over_frac,
       FLOOR(MAX((est_cnt - true_cnt) * 1.0 / true_cnt) * 1000000 + 0.5)
         / 1000000 AS max_over_frac
FROM est
GROUP BY w
ORDER BY w
"""


@register("agg_countmin_width_sweep", oracle=CMS_WIDTH_SWEEP_ORACLE)
def agg_countmin_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min width calibration: overestimate fraction of the
    top-10 true heavy hitters under d=3 sketches at widths 256 /
    1024 / 4096 — the memory/error curve that sizes a production
    sketch (error ~ stream_len/width; this measures the constant on
    real key skew instead of trusting the bound).

    Plan: ONE stream pass reduces to per-key counts (map-side
    combine; |keys| rows), shared by BOTH the sketch build and the
    truth top-k — sketching the keyed table is numerically identical
    to sketching the raw stream (a bucket's count is the sum of its
    keys' counts) and makes the 9-plane expansion |keys|-sized, not
    stream-sized. The 90-row probe set (10 keys x 9 planes)
    broadcasts onto the sketch table. Portable LCG hashes (house
    device), exact integer counts everywhere, one snapped division
    at the end."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False).select(
        F.col("l_suppkey").alias("key")
    )
    keyed = cached(li.groupBy("key").agg(F.count(F.lit(1)).alias("kc")))
    # the 9 (row, width) sketch planes as a LITERAL array explode —
    # an inline generator, not a joined DataFrame: no extra query
    # stages, no broadcast jobs (AQE stage-scheduling floor dominates
    # this op's runtime otherwise; the data is all tiny)
    LCG = [(0, 1103515245, 12345), (1, 69069, 1), (2, 1664525, 1013904223)]
    WIDTHS = [256, 1024, 4096]
    planes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    F.lit(a).cast("long").alias("a"),
                    F.lit(b).cast("long").alias("b"),
                    F.lit(w).alias("w"),
                )
                for (r, a, b) in LCG
                for w in WIDTHS
            ]
        )
    )
    bucket = (
        (F.col("key") * F.col("p.a") + F.col("p.b")) % 2147483648
    ) % F.col("p.w")
    sketch = (
        keyed.select("key", "kc", planes.alias("p"))
        .select(
            F.col("p.w").alias("w"),
            F.col("p.r").alias("r"),
            bucket.alias("bucket"),
            "kc",
        )
        .groupBy("w", "r", "bucket")
        .agg(F.sum("kc").cast("long").alias("cnt"))
    )
    truth = (
        keyed.select("key", F.col("kc").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "key")
        .limit(10)
    )
    probes = truth.select("key", "true_cnt", planes.alias("p")).select(
        "key",
        "true_cnt",
        F.col("p.w").alias("w"),
        F.col("p.r").alias("r"),
        bucket.alias("bucket"),
    )
    est = (
        sketch.join(F.broadcast(probes), ["w", "r", "bucket"])
        .groupBy("key", "true_cnt", "w")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    over = (F.col("est_cnt") - F.col("true_cnt")) * 1.0 / F.col("true_cnt")
    return (
        est.groupBy(F.col("w").alias("width"))
        .agg(
            snap(F.avg(over), 6).alias("avg_over_frac"),
            snap(F.max(over), 6).alias("max_over_frac"),
        )
        .orderBy("width")
    )



HILL_TAIL_ORACLE = """
-- Hill estimator of the power-law tail index of customer lifetime
-- spend: alpha = 1 / mean(ln(x_i / x_k)) over the k-1 largest
-- values above the k-th order statistic — the standard heavy-tail
-- measurement that tells you whether revenue concentration follows
-- a Pareto law (alpha ~ 1-2: extreme; > 3: thin). Spend is exact
-- integer cents; the top-k MULTISET of values is deterministic
-- regardless of tiebreak (selection is on values, k-th value
-- included by count); each log term snaps to an exact 1e-9 integer
-- so the mean is an order-free BIGINT sum.
WITH spend AS (
  SELECT SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
), topk AS (
  SELECT cents FROM spend ORDER BY cents DESC LIMIT 200
), kth AS (
  SELECT MIN(cents) AS xk, COUNT(*) AS k FROM topk
), terms AS (
  SELECT CAST(FLOOR(ln(t.cents * 1.0 / kth.xk) * 1000000000 + 0.5)
              AS BIGINT) AS l_nano
  FROM topk t CROSS JOIN kth
  WHERE t.cents > kth.xk
)
SELECT kth.k AS k, CAST(kth.xk AS BIGINT) AS kth_value_cents,
       CAST(COUNT(*) AS BIGINT) AS n_tail_terms,
       FLOOR(COUNT(*) * 1.0
             / (SUM(l_nano) / 1000000000.0) * 1000000 + 0.5)
         / 1000000 AS hill_alpha
FROM terms CROSS JOIN kth
GROUP BY kth.k, kth.xk
"""


@register("agg_hill_tail_index", oracle=HILL_TAIL_ORACLE)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill power-law tail-index estimator over customer lifetime
    spend (top k = 200 order statistics) — quantifies revenue
    concentration (Pareto alpha), the number that decides whether
    per-key skew mitigation is worth building before the skew hits.

    Plan: one fact pass to |customers| exact-cents rows; top-200 is
    TakeOrderedAndProject (per-partition heaps, no global sort);
    the log terms snap to exact 1e-9 integers so their sum is
    order-free BIGINT — the only floats are per-term ln on identical
    integer ratios and the final division chain. Selection
    determinism: the top-k MULTISET of values needs no tiebreak, and
    terms strictly above the k-th value make the term set exact even
    with ties at the boundary."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    spend = orders.groupBy("o_custkey").agg(
        F.sum(fixed(F.col("o_totalprice"), 2)).alias("cents")
    )
    topk = spend.select("cents").orderBy(F.col("cents").desc()).limit(200)
    kth = topk.agg(F.min("cents").alias("xk"), F.count(F.lit(1)).alias("k"))
    terms = (
        topk.crossJoin(F.broadcast(kth))
        .filter(F.col("cents") > F.col("xk"))
        .select(
            "k",
            "xk",
            fixed(F.log(F.col("cents") * 1.0 / F.col("xk")), 9).alias("l_nano"),
        )
    )
    return terms.groupBy("k", F.col("xk").alias("kth_value_cents")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tail_terms"),
        snap(
            F.count(F.lit(1))
            * 1.0
            / (F.sum("l_nano") / 1000000000.0),
            6,
        ).alias("hill_alpha"),
    ).select("k", "kth_value_cents", "n_tail_terms", "hill_alpha")


LORENZ_ORACLE = """
-- Lorenz curve by customer decile: cumulative share of total spend
-- held by the bottom 10%/20%/.../100% of customers — the curve
-- BEHIND the Gini coefficient (agg_gini_coefficient reports the
-- area; this reports the shape, which is what capacity planning
-- actually reads: 'the top decile is X% of revenue'). Exact
-- integer cents end to end; decile assignment uses NTILE over
-- (cents, custkey) — fully tiebroken, so both engines cut the
-- deciles identically; shares snap on the 1e-6 grid.
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), tiled AS (
  SELECT cents,
         NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM spend
), per AS (
  SELECT decile, COUNT(*) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM tiled GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS t FROM per
)
SELECT decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       cents AS decile_cents,
       FLOOR(SUM(cents) OVER (ORDER BY decile) * 1.0 / tot.t
             * 1000000 + 0.5) / 1000000 AS cum_share
FROM per CROSS JOIN tot
ORDER BY decile
"""


@register("agg_lorenz_curve_deciles", oracle=LORENZ_ORACLE)
def agg_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend by decile — the concentration
    SHAPE behind the Gini scalar ('the top decile holds X% of
    revenue'), which is what skew planning actually reads.

    Plan: fact pass to |customers| exact-cents rows; NTILE over one
    global sort with a full (cents, custkey) tiebreak cuts
    identical deciles in both engines; everything after is 10-row
    arithmetic on exact BIGINTs with one snapped division. The
    global sort is |customers|-sized — the same posture as the
    skyline operator (range-partitioned sort, minutes at 1e9
    keys)."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    spend = orders.groupBy("o_custkey").agg(
        F.sum(fixed(F.col("o_totalprice"), 2)).alias("cents")
    )
    tiled = spend.select(
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile"),
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = per.agg(F.sum("cents").cast("long").alias("t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("cents").alias("decile_cents"),
            snap(F.sum("cents").over(w) * 1.0 / F.col("t"), 6).alias("cum_share"),
        )
        .orderBy("decile")
    )


HERFINDAHL_ORACLE = """
-- Supplier market concentration per nation: the Herfindahl-
-- Hirschman index (sum of squared revenue shares) and the CR4
-- four-firm concentration ratio over each nation's suppliers —
-- the antitrust-standard pair the Lorenz/Gini operator does not
-- give (HHI weights the head quadratically; CR4 is the regulatory
-- bright line). Data-engineering reading: nations with HHI near
-- 1/n have uniform supplier keys (clean partitioning); high-HHI
-- nations are the hot-key skew candidates. EXACT device: per-
-- supplier revenue collapses to exact cents; HHI = sum(r_i^2) /
-- (sum r_i)^2 — WIDE integer numerator and denominator, ONE
-- division, snapped; CR4's top-4 sum is an exact integer via a
-- deterministic (revenue, suppkey) rank.
WITH rev AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS sk,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), agg AS (
  SELECT nation,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(CAST(r AS HUGEINT) * r) AS HUGEINT) AS sum_r2,
         CAST(SUM(r) AS HUGEINT) AS tot
  FROM rev GROUP BY 1
), ranked AS (
  SELECT nation, r,
         ROW_NUMBER() OVER (PARTITION BY nation
                            ORDER BY r DESC, sk) AS rnk
  FROM rev
), top4 AS (
  SELECT nation, CAST(SUM(r) AS HUGEINT) AS r4
  FROM ranked WHERE rnk <= 4 GROUP BY nation
)
SELECT CAST(a.nation AS BIGINT) AS nation,
       a.n_suppliers,
       FLOOR(CAST(a.sum_r2 AS DOUBLE)
             / (CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS hhi,
       FLOOR(CAST(t.r4 AS DOUBLE) / CAST(a.tot AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS cr4
FROM agg a JOIN top4 t ON a.nation = t.nation
ORDER BY nation
"""


@register("agg_herfindahl_concentration", oracle=HERFINDAHL_ORACLE)
def agg_herfindahl_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl index + CR4 of supplier revenue per nation (see
    oracle for the exact share device).

    Scale shape: ONE fact pass collapses lineitem to the per-
    (nation, supplier) cent table (map-side combine); HHI moments
    and the CR4 rank window run on that supplier-domain table, 25
    output rows. WIDE squared sums (r^2 passes int64 at ~1e9.5
    cents per supplier — widened first, the multiplicand-side
    rule)."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False)
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nation"),
    )
    cents = fixed(F.col("l_extendedprice"), 2)
    rev = cached(
        li.select("l_suppkey", cents.alias("c"))
        .join(F.broadcast(sup), "l_suppkey")
        .groupBy("nation", F.col("l_suppkey").alias("sk"))
        .agg(F.sum("c").cast("long").alias("r"))
    )
    r = F.col("r")
    agg = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(r.cast("decimal(38,0)") * r).alias("sum_r2"),
        F.sum(r).cast("decimal(38,0)").alias("tot"),
    )
    w = Window.partitionBy("nation").orderBy(F.desc("r"), F.asc("sk"))
    top4 = (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .groupBy("nation")
        .agg(F.sum("r").cast("decimal(38,0)").alias("r4"))
    )
    tot = F.col("tot").cast("double")
    return (
        agg.join(top4, "nation")
        .select(
            F.col("nation").cast("long").alias("nation"),
            "n_suppliers",
            snap(F.col("sum_r2").cast("double") / (tot * tot), 6).alias("hhi"),
            snap(F.col("r4").cast("double") / tot, 6).alias("cr4"),
        )
        .orderBy("nation")
    )
