"""TPC-H-shaped analytics queries over the driver fixtures.

These exercise the aggregation/join/sort core the reference delegates
to BigQuery (SURVEY.md §2.5). All plans are declarative DataFrame
compositions — Catalyst handles predicate pushdown into the parquet
scan, column pruning, and join-strategy selection; small dimensions are
explicitly broadcast so the 100 TB fact side never shuffles for them.

Fixture note: o_orderdate / l_shipdate are timestamps (FIXTURES.md §B);
queries cast to date and the oracles mirror the cast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans.registry import register

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
  ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
  ROUND(AVG(l_discount), 4)                                        AS avg_disc,
  COUNT(*)                                                         AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan + filter + hash-agg with 8 aggregates + sort.

    Scale: filter and the two grouping columns push to the parquet scan;
    the groupBy produces partial (map-side) aggregates before the single
    shuffle on a 6-value key space — the canonical cheap agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q3_ORACLE = """
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d')   AS orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
  AND CAST(l_shipdate AS DATE)  > DATE '1995-03-15'
GROUP BY l_orderkey, STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, orderdate, l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dimension join + agg + top-10.

    Scale: customer-filtered-by-segment is ~1/5 of a small table ->
    broadcast to orders; orders⋈lineitem is the one real shuffle, both
    sides pre-filtered by their date predicates (pushed to parquet).
    orderBy+limit plans as TakeOrderedAndProject — no global sort.

    Join-strategy note (round-7 A/B): without a hint, Catalyst's
    size stats pick a BROADCAST of the filtered LINEITEM side — the
    LARGER fact — whose driver-side build dominates (0.63s at sf0.1,
    0.69s at sf1). `hint("shuffle_hash")` on the orders⋈customer side
    measured best at BOTH scales (0.39s sf0.1, 0.61s sf1 min-of-3
    interleaved, vs sort-merge 0.44/0.71 and broadcast-orders
    0.30/0.70): SHJ shuffles both pre-filtered facts on orderkey and
    hashes the smaller (orders) side per partition — no sort, no
    driver broadcast build, spillable since Spark 3.2, and the
    standard fact-fact strategy at cluster scale when no downstream
    sort order is needed. AQE skew splitting still applies to SHJ.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").cast("date") < F.lit("1995-03-15").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").cast("date") > F.lit("1995-03-15").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .hint("shuffle_hash")
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


Q5_ORACLE = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("tpch_q5_local_supplier_volume", oracle=Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join (3 broadcastable dims) + agg.

    Scale: region/nation/supplier/customer are all tiny next to
    lineitem/orders — broadcast them; the only big-big shuffle is
    orders⋈lineitem on orderkey. Catalyst reorders the dim joins after
    the pushed filters shrink them.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", oracle=Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate, no grouping. DATE is
    1995-01-01 (TPC-H draws it from 1 January of 1993-1997), a year
    the fixtures' l_shipdate range covers.

    Scale: every predicate pushes to parquet (row-group skipping on
    l_shipdate/l_discount/l_quantity stats); single global agg is a
    two-level partial/final with one row shuffled per partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-01-01").cast("date"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


Q10_ORACLE = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", oracle=Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue on returned items.

    Scale: the quarter filter prunes orders at the scan, the R-flag
    filter prunes lineitem; customer⋈nation broadcast; the final
    top-20 plans TakeOrderedAndProject over the grouped result — no
    global sort materialization.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # exact-decimal money sum: double ROUND at 2dp straddles .005
        # representation boundaries differently across engines
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q14_ORACLE = """
SELECT ROUND(
         100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0 END)
         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1995-10-01'
"""


@register("tpch_q14_promo_effect", oracle=Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    join. Scale: month filter prunes lineitem at the scan; part is the
    build side (broadcast at test SF, AQE-selected beyond)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1995-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1995-10-01").cast("date"))
    )
    part = load_table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), net).otherwise(0.0))
                / F.sum(net),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q18_ORACLE = """
SELECT c_custkey, o_orderkey,
       STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
       ROUND(o_totalprice, 2) AS totalprice,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
"""


@register("tpch_q18_large_orders", oracle=Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — aggregate-derived IN-subquery
    (semi join on a grouped HAVING), then join + top-100.

    Scale: the qualifying-orderkey set is a pre-aggregation of
    lineitem (map-side partial sums), usually small enough for AQE to
    broadcast into the semi join; the final LIMIT plans
    TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(big, li.l_orderkey == big.l_orderkey, "left_semi")
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "orderdate"
            ),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_disjunctive_predicates", oracle=Q19_ORACLE)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across both join sides. Catalyst factors
    the common single-side conjuncts out of the disjunction and pushes
    them below the join (CNF conversion) — p_size/p_brand reach the
    part scan, l_quantity bounds reach the lineitem scan — while the
    cross-side residual evaluates post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("tpch_q7_volume_shipping", oracle=Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Scale: both nation filters broadcast; the disjunctive nation-pair
    predicate evaluates after the dim joins; orders⋈lineitem is the
    one big shuffle, date-pruned at the scan."""
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1995-01-01", "1996-12-31")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q8_ORACLE = """
SELECT o_year,
       ROUND(
         SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END) / SUM(volume),
         6) AS mkt_share
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND p_type LIKE 'PROMO%'
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("tpch_q8_market_share", oracle=Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — 8-table join, conditional
    share aggregate. Scale: every dimension broadcasts; part's LIKE
    filter and orders' date range prune before the fact shuffle."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type").like("PROMO%"))
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date").between("1995-01-01", "1996-12-31")
    )
    cust = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_rkey") == region.r_regionkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("tpch_q13_customer_distribution", oracle=Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customers-per-order-count histogram — left OUTER
    join with a join-condition filter (NOT a post-filter: customers
    with only urgent orders must still appear with count 0), then a
    second aggregation over the first. Scale: two shuffles (custkey,
    then c_count), both on pre-aggregated rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("tpch_q15_top_supplier", oracle=Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue — a reused
    CTE (revenue feeds both the join and the MAX scalar subquery).
    Exact-decimal revenue so the equality-with-max comparison is
    bit-stable across engines. Scale: revenue is one partial/final agg
    over the date-pruned scan; the MAX is a one-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        supplier.join(revenue, supplier.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q22_ORACLE = """
WITH positive AS (
  SELECT c_custkey % 7 AS cntrycode, c_acctbal, c_custkey
  FROM customer WHERE c_acctbal > 0.0
)
SELECT cntrycode,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM positive p
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM positive)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = p.c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register("tpch_q22_sales_opportunity", oracle=Q22_ORACLE)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average
    balances, no qualifying orders, grouped by a derived country code.
    (Adapted: fixtures lack c_phone, so cntrycode = custkey % 7 and
    the inner predicate is urgent orders — every fixture customer has
    SOME order.) Combines the scalar subquery (one extra stage, value
    broadcast into the filter), anti join, and derived-key
    aggregation in a single plan."""
    _ = spark  # registered via spark.sql over views
    from etl_data_ingestion_spark.operators.subqueries import _view

    _view(spark, sf_dir, "customer", "orders")
    return spark.sql(Q22_ORACLE)


Q17_ORACLE = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size = 5
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@register("tpch_q17_small_qty_revenue", oracle=Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    0.2*AVG threshold decorrelates to a per-part aggregate joined back
    on l_partkey — computed over ONLY the target parts' lineitems
    (semi-join pushdown of the part filter into the aggregate input),
    so the per-part average never aggregates the full fact table.
    (Adapted: fixtures lack p_container, so the part predicate is
    brand + size — same selectivity role, same plan shape.)"""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    target = part.filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") == 5)
    ).select("p_partkey")
    # restrict lineitem once; both the threshold aggregate and the
    # final filter read this narrowed slice
    narrowed = li.join(
        F.broadcast(target), li.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = narrowed.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        narrowed.join(
            F.broadcast(thresholds),
            (F.col("l_partkey") == F.col("t_partkey"))
            & (F.col("l_quantity") < F.col("qty_threshold")),
        )
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )
