"""Warehouse-maintenance operators: slowly-changing-dimension apply
and data-quality expectations — the set-semantics layer over the
physical MERGE/upsert machinery in streaming/upsert.py.

Both are pure joins + unions with planted change/violation rows so
the oracle verifies DETECTION, not just bookkeeping.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans.registry import register

SCD2_ORACLE = """
-- SCD Type-2 dimension maintenance (batch apply): given the current
-- dimension and a change batch (every 7th customer changes segment;
-- every 11th key is brand new), emit the versioned dimension —
-- changed keys close their old version (is_current=false) and open
-- version 2; new keys open at version 1; untouched keys pass
-- through. The warehouse operator behind every slowly-changing
-- dimension; pure joins + unions, fully deterministic.
WITH dim AS (
  SELECT c_custkey, c_mktsegment FROM customer
), changes AS (
  SELECT c_custkey, 'CHANGED' AS new_segment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'FRESH' FROM customer
  WHERE c_custkey % 11 = 0
), changed AS (
  SELECT d.c_custkey, c.new_segment
  FROM dim d JOIN changes c USING (c_custkey)
), new_keys AS (
  SELECT c.c_custkey, c.new_segment FROM changes c
  LEFT JOIN dim d USING (c_custkey) WHERE d.c_custkey IS NULL
)
SELECT c_custkey, c_mktsegment AS segment, 1 AS version,
       (c_custkey % 7 <> 0) AS is_current
FROM dim
UNION ALL
SELECT c_custkey, new_segment, 2, TRUE FROM changed
UNION ALL
SELECT c_custkey, new_segment, 1, TRUE FROM new_keys
ORDER BY c_custkey, version
"""


@register("warehouse_scd2_apply", oracle=SCD2_ORACLE)
def warehouse_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SCD Type-2 apply: change rows close the current version
    and open a successor; unseen keys insert at version 1. Scale
    shape: ONE equi-join of dimension vs change batch (change
    batches are usually tiny -> broadcast; here keyed join either
    way), then map-side unions — no window over the dimension, no
    per-key loop. At 100 TB this runs as the MERGE inside
    streaming/upsert.py; this operator states the set semantics the
    MERGE must satisfy, jointly with the oracle."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select("c_custkey", "c_mktsegment")
    changes = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", F.lit("CHANGED").alias("new_segment"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("FRESH").alias("new_segment"),
            )
        )
    )
    changed = dim.join(changes, "c_custkey")
    new_keys = changes.join(dim, "c_custkey", "left_anti")
    current = dim.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("version"),
        (F.col("c_custkey") % 7 != 0).alias("is_current"),
    )
    opened = changed.select(
        "c_custkey",
        F.col("new_segment").alias("segment"),
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    fresh = new_keys.select(
        "c_custkey",
        F.col("new_segment").alias("segment"),
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return (
        current.unionByName(opened)
        .unionByName(fresh)
        .orderBy("c_custkey", "version")
    )


REF_INTEGRITY_ORACLE = """
-- Referential-integrity audit with PLANTED orphans (a handful of
-- orders pointing at custkey+9M and lineitems at orderkey+9M):
-- per-relation row counts and orphan counts — the dbt-style
-- expectations layer, one left join per relation.
WITH orders_aug AS (
  SELECT o_orderkey, o_custkey FROM orders
  UNION ALL
  SELECT o_orderkey + 9000000, o_custkey + 9000000 FROM orders
  WHERE o_orderkey % 1500 = 0
), li_aug AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  UNION ALL
  SELECT l_orderkey + 9000000, l_partkey FROM lineitem
  WHERE l_orderkey % 2000 = 0 AND l_linenumber = 1
)
SELECT * FROM (
  SELECT 'orders->customer' AS relation,
         CAST(COUNT(*) AS BIGINT) AS checked,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS orphans
  FROM orders_aug o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem->orders',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o2.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM li_aug l LEFT JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
  UNION ALL
  SELECT 'lineitem->part',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM li_aug l LEFT JOIN part p ON l.l_partkey = p.p_partkey
)
ORDER BY relation
"""


@register("quality_referential_integrity", oracle=REF_INTEGRITY_ORACLE)
def quality_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity audit (the expectations layer a warehouse
    runs per load): per-FK-relation checked/orphan counts, with
    orphans PLANTED so the detector provably detects. Each relation
    is one left join against the parent key set — parent keys are
    dimension-sized or pre-aggregatable, so at 100 TB each check is
    a broadcast or one keyed Exchange."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    orders_aug = orders.select("o_orderkey", "o_custkey").unionByName(
        orders.filter(F.col("o_orderkey") % 1500 == 0).select(
            (F.col("o_orderkey") + 9000000).alias("o_orderkey"),
            (F.col("o_custkey") + 9000000).alias("o_custkey"),
        )
    )
    li_aug = li.select("l_orderkey", "l_partkey").unionByName(
        li.filter(
            (F.col("l_orderkey") % 2000 == 0) & (F.col("l_linenumber") == 1)
        ).select(
            (F.col("l_orderkey") + 9000000).alias("l_orderkey"), "l_partkey"
        )
    )

    def check(child, key, parent, pkey, name):
        return (
            child.join(parent, child[key] == parent[pkey], "left")
            .agg(
                F.count(F.lit(1)).alias("checked"),
                F.sum(parent[pkey].isNull().cast("long")).alias("orphans"),
            )
            .select(F.lit(name).alias("relation"), "checked", "orphans")
        )

    return (
        check(orders_aug, "o_custkey", cust, "c_custkey", "orders->customer")
        .unionByName(
            check(li_aug, "l_orderkey", orders, "o_orderkey",
                  "lineitem->orders")
        )
        .unionByName(
            check(li_aug, "l_partkey", part, "p_partkey", "lineitem->part")
        )
        .orderBy("relation")
    )


CDC_APPLY_ORACLE = """
-- CDC apply (latest-wins with deletes): a deterministic change log
-- derived from customer — seq-1 balance updates for every 5th key,
-- seq-2 DELETEs for every 10th, seq-2 second updates for keys
-- ending in 5, plus seq-1 INSERTs of brand-new keys — applied onto
-- the base snapshot. Per key the HIGHEST sequence number wins and a
-- winning D removes the row: the merge semantics every CDC sink
-- (Debezium->warehouse) must satisfy. Verifies supersession (key%10
-- ends at seq 2, not its seq-1 update), deletion, and insertion.
WITH base AS (
  SELECT c_custkey AS k, 0 AS seq, 'I' AS op, c_acctbal AS bal
  FROM customer
), log AS (
  SELECT c_custkey, 1 AS seq, 'U' AS op, c_acctbal + 100 AS bal
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, 2, 'D', NULL FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 2, 'U', c_acctbal + 200
  FROM customer WHERE c_custkey % 10 = 5
  UNION ALL
  SELECT c_custkey + 2000000, 1, 'I', 1000.0
  FROM customer WHERE c_custkey % 13 = 0
), unioned AS (
  SELECT * FROM base
  UNION ALL
  SELECT c_custkey AS k, seq, op, bal FROM log
), ranked AS (
  SELECT k, seq, op, bal,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM unioned
)
SELECT k AS c_custkey, ROUND(bal, 2) AS acctbal, seq AS applied_seq
FROM ranked WHERE rn = 1 AND op <> 'D'
ORDER BY c_custkey
"""


@register("warehouse_cdc_apply", oracle=CDC_APPLY_ORACLE)
def warehouse_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log apply: base snapshot tagged seq 0 unions with
    the I/U/D log, ROW_NUMBER() by seq DESC per key picks the latest
    change, winners with op='D' drop out. ONE exchange on the key —
    the same single-shuffle shape as warehouse_upsert_latest but
    with explicit delete semantics and multi-change supersession
    (a key's seq-1 update must lose to its seq-2 delete, proven by
    planted rows). At 100 TB the base side is the stored table: the
    production form reads only changed keys' partitions (see
    streaming/upsert.py's MERGE); this operator pins the set
    semantics that MERGE must produce."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        F.col("c_acctbal").alias("bal"),
    )
    log = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("c_acctbal") + 100).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 0).select(
                F.col("c_custkey").alias("k"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("bal"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 5).select(
                F.col("c_custkey").alias("k"),
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("c_acctbal") + 200).alias("bal"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 2000000).alias("k"),
                F.lit(1).alias("seq"),
                F.lit("I").alias("op"),
                F.lit(1000.0).alias("bal"),
            )
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        base.unionByName(log)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("c_custkey"),
            F.round("bal", 2).alias("acctbal"),
            F.col("seq").alias("applied_seq"),
        )
        .orderBy("c_custkey")
    )


EXPECTATIONS_ORACLE = """
-- Column-expectations suite (dbt tests / Great Expectations shape):
-- six declarative checks over lineitem evaluated in ONE scan pass —
-- range bounds, accepted values, not-null, positivity, and
-- composite-key uniqueness — emitted long-form (check, violations,
-- passed). Violation counts are data-derived, not planted: the
-- expectations are chosen so some PASS and some FAIL on the real
-- fixture distribution (discount tops out at 0.10 vs the 0.08
-- bound, and the synthetic generator emits duplicate
-- (orderkey, linenumber) pairs), proving the checker distinguishes.
WITH agg AS (
  SELECT
    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      AS quantity_range,
    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END)
      AS discount_range,
    SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
      AS returnflag_values,
    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      AS shipdate_not_null,
    SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
      AS extendedprice_positive,
    COUNT(*) - COUNT(DISTINCT l_orderkey * 10 + l_linenumber)
      AS orderline_unique
  FROM lineitem
)
SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM agg UNPIVOT (n_violations FOR check_name IN (
  quantity_range, discount_range, returnflag_values,
  shipdate_not_null, extendedprice_positive, orderline_unique))
ORDER BY check_name
"""


@register("quality_column_expectations", oracle=EXPECTATIONS_ORACLE)
def quality_column_expectations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative column-expectations suite: all six checks fold
    into ONE aggregate over one lineitem scan (conditional count_if
    partials — map-side combined), then unpivot to the long
    (check, violations, passed) report. The uniqueness check
    packs the (orderkey, linenumber) composite into one bigint
    (linenumber < 10) so it rides the same pass as a COUNT(DISTINCT)
    instead of a second groupBy-count-filter shuffle over the fact
    table. At 100 TB: one scan, one exchange of a 6-number row —
    the cheapest possible audit; new checks are new columns, not
    new passes."""
    li = load_table(spark, sf_dir, "lineitem")
    viol = F.sum  # conditional violation counters

    agg = li.agg(
        viol(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
            .cast("long")
        ).alias("quantity_range"),
        viol(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08))
            .cast("long")
        ).alias("discount_range"),
        viol(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("returnflag_values"),
        viol(F.col("l_shipdate").isNull().cast("long")).alias(
            "shipdate_not_null"
        ),
        viol((F.col("l_extendedprice") <= 0).cast("long")).alias(
            "extendedprice_positive"
        ),
        (
            F.count("*")
            - F.countDistinct(
                F.col("l_orderkey") * 10 + F.col("l_linenumber")
            )
        ).alias("orderline_unique"),
    )
    long = agg.unpivot([], None, "check_name", "n_violations")
    return (
        long.select(
            "check_name",
            F.col("n_violations").cast("long").alias("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        # NULL violation counters only occur on a 0-row table, where
        # the oracle's conditional-sum checks drop out of its report
        # too (empty-corpus sweep, round 14); no-op on populated data
        .filter(F.col("n_violations").isNotNull())
        .orderBy("check_name")
    )


SNAPSHOT_DIFF_ORACLE = """
-- Snapshot diff: compare two versions of the customer dimension (v2
-- derived deterministically: every 9th key's balance drifts, every
-- 17th key is dropped, new keys appended for every 23rd) and report
-- the change manifest — added/removed/changed/unchanged counts plus
-- the net balance drift. The audit query behind every time-travel
-- pair of table versions; one full-outer join on the key.
WITH v1 AS (
  SELECT c_custkey, c_acctbal FROM customer
), v2 AS (
  SELECT c_custkey, c_acctbal + CASE WHEN c_custkey % 9 = 0
                                     THEN 50.0 ELSE 0 END AS c_acctbal
  FROM customer WHERE c_custkey % 17 <> 0
  UNION ALL
  SELECT c_custkey + 3000000, 500.0 FROM customer
  WHERE c_custkey % 23 = 0
), joined AS (
  SELECT COALESCE(a.c_custkey, b.c_custkey) AS k,
         a.c_acctbal AS bal1, b.c_acctbal AS bal2
  FROM v1 a FULL OUTER JOIN v2 b USING (c_custkey)
)
SELECT CAST(SUM(CASE WHEN bal1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS added,
       CAST(SUM(CASE WHEN bal2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS removed,
       CAST(SUM(CASE WHEN bal1 IS NOT NULL AND bal2 IS NOT NULL
                      AND bal1 <> bal2 THEN 1 ELSE 0 END) AS BIGINT)
         AS changed,
       CAST(SUM(CASE WHEN bal1 = bal2 THEN 1 ELSE 0 END) AS BIGINT)
         AS unchanged,
       ROUND(SUM(COALESCE(bal2, 0) - COALESCE(bal1, 0)), 2)
         AS net_balance_drift
FROM joined
"""


@register("warehouse_snapshot_diff", oracle=SNAPSHOT_DIFF_ORACLE)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff manifest: ONE full-outer join on the key,
    then a map-side-combined conditional aggregate — the audit
    behind time travel (streaming/upsert.py's state_path_at gives
    the two versions in production; here v2 is derived so the oracle
    can pin exact counts). At 100 TB both sides partition on the
    join key and AQE picks SMJ; nothing is driver-side. The net
    drift column is the reconciliation number a warehouse closes
    its books on."""
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select("c_custkey", F.col("c_acctbal").alias("bal1"))
    v2 = (
        cust.filter(F.col("c_custkey") % 17 != 0)
        .select(
            "c_custkey",
            (
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 9 == 0, 50.0).otherwise(0.0)
            ).alias("bal2"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 23 == 0).select(
                (F.col("c_custkey") + 3000000).alias("c_custkey"),
                F.lit(500.0).alias("bal2"),
            )
        )
    )
    joined = v1.join(v2, "c_custkey", "full_outer")
    return joined.agg(
        F.sum(F.col("bal1").isNull().cast("long")).alias("added"),
        F.sum(F.col("bal2").isNull().cast("long")).alias("removed"),
        F.sum(
            (
                F.col("bal1").isNotNull()
                & F.col("bal2").isNotNull()
                & (F.col("bal1") != F.col("bal2"))
            ).cast("long")
        ).alias("changed"),
        F.sum((F.col("bal1") == F.col("bal2")).cast("long")).alias(
            "unchanged"
        ),
        F.round(
            F.sum(
                F.coalesce(F.col("bal2"), F.lit(0.0))
                - F.coalesce(F.col("bal1"), F.lit(0.0))
            ),
            2,
        ).alias("net_balance_drift"),
    )


INCR_MOMENTS_ORACLE = """
-- Incremental statistics maintenance (the never-re-scan-history
-- posture): a stats table over the "historical" events (first 20
-- days) is MERGED with a new batch's stats (last days) using the
-- parallel co-moment combination (Chan et al. 1979):
--   n = n1+n2; mean = (n1*m1 + n2*m2)/n;
--   M2 = M2_1 + M2_2 + (m2-m1)^2 * n1*n2/n
-- and the result must equal a full re-scan. Both paths are computed
-- and compared in-plan; the oracle states the identical algebra, so
-- the merge identity is value-checked, not asserted.
WITH hist AS (
  SELECT event_type, COUNT(*) AS n1, AVG(value) AS m1,
         VAR_POP(value) * COUNT(*) AS mm2_1,
         MIN(value) AS mn1, MAX(value) AS mx1
  FROM events WHERE ts < TIMESTAMP '2024-01-21'
  GROUP BY event_type
), batch AS (
  SELECT event_type, COUNT(*) AS n2, AVG(value) AS m2,
         VAR_POP(value) * COUNT(*) AS mm2_2,
         MIN(value) AS mn2, MAX(value) AS mx2
  FROM events WHERE ts >= TIMESTAMP '2024-01-21'
  GROUP BY event_type
), merged AS (
  SELECT h.event_type,
         h.n1 + b.n2 AS n,
         (h.n1 * h.m1 + b.n2 * b.m2) / (h.n1 + b.n2) AS mean,
         (h.mm2_1 + b.mm2_2
          + (b.m2 - h.m1) ^ 2 * h.n1 * b.n2 / (h.n1 + b.n2))
           / (h.n1 + b.n2) AS var,
         LEAST(h.mn1, b.mn2) AS mn, GREATEST(h.mx1, b.mx2) AS mx
  FROM hist h JOIN batch b USING (event_type)
), full_scan AS (
  SELECT event_type, COUNT(*) AS n, AVG(value) AS mean,
         VAR_POP(value) AS var, MIN(value) AS mn, MAX(value) AS mx
  FROM events GROUP BY event_type
)
SELECT m.event_type,
       CAST(m.n AS BIGINT)        AS n_events,
       ROUND(m.mean, 6)           AS merged_mean,
       ROUND(m.var, 4)            AS merged_var,
       ROUND(f.mean, 6)           AS fullscan_mean,
       ROUND(f.var, 4)            AS fullscan_var,
       ABS(m.mean - f.mean) < 1e-6 AND ABS(m.var - f.var) < 1e-4
         AND m.n = f.n AND m.mn = f.mn AND m.mx = f.mx
                                  AS merge_identity_holds
FROM merged m JOIN full_scan f USING (event_type)
ORDER BY m.event_type
"""


@register("warehouse_incremental_moments", oracle=INCR_MOMENTS_ORACLE)
def warehouse_incremental_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental warehouse statistics: merge a historical stats
    table with a new batch's stats via the parallel co-moment
    combination, and PROVE in-plan that the merged (n, mean, var,
    min, max) equal a full re-scan. At 100 TB this is the difference
    between touching one day of data and touching all of it — the
    merge runs on two |types|-row tables; the full-scan branch exists
    here only as the self-check (production drops it). Partial-state
    mergeability is the same property the sketch tier (HLL/theta/
    count-min) relies on; this pins it for exact moments."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-21").cast("timestamp")

    def stats(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            (F.var_pop("value") * F.count(F.lit(1))).alias("mm2"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    hist = stats(ev.filter(F.col("ts") < cut))
    batch = stats(ev.filter(F.col("ts") >= cut))
    h = hist.alias("h")
    b = batch.alias("b")
    n = F.col("h.n") + F.col("b.n")
    mean = (F.col("h.n") * F.col("h.m") + F.col("b.n") * F.col("b.m")) / n
    var = (
        F.col("h.mm2")
        + F.col("b.mm2")
        + F.pow(F.col("b.m") - F.col("h.m"), 2)
        * F.col("h.n")
        * F.col("b.n")
        / n
    ) / n
    merged = h.join(b, F.col("h.event_type") == F.col("b.event_type")).select(
        F.col("h.event_type").alias("event_type"),
        n.alias("n"),
        mean.alias("mean"),
        var.alias("var"),
        F.least("h.mn", "b.mn").alias("mn"),
        F.greatest("h.mx", "b.mx").alias("mx"),
    )
    full = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("fn"),
        F.avg("value").alias("fmean"),
        F.var_pop("value").alias("fvar"),
        F.min("value").alias("fmn"),
        F.max("value").alias("fmx"),
    )
    return (
        merged.join(full, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.round("mean", 6).alias("merged_mean"),
            F.round("var", 4).alias("merged_var"),
            F.round("fmean", 6).alias("fullscan_mean"),
            F.round("fvar", 4).alias("fullscan_var"),
            (
                (F.abs(F.col("mean") - F.col("fmean")) < 1e-6)
                & (F.abs(F.col("var") - F.col("fvar")) < 1e-4)
                & (F.col("n") == F.col("fn"))
                & (F.col("mn") == F.col("fmn"))
                & (F.col("mx") == F.col("fmx"))
            ).alias("merge_identity_holds"),
        )
        .orderBy("event_type")
    )


ZORDER_ORACLE = """
-- Z-order (Morton) layout vs single-key sort: interleave the bits of
-- (user bucket, value bucket) into a morton key, block rows 1000 at
-- a time in each layout, and measure DATA SKIPPING for point probes
-- on the SECONDARY dimension: a block can be skipped when the probed
-- user_id falls outside its [min,max]. Sorting only by value gives
-- near-zero skipping on user probes; morton order preserves locality
-- in BOTH dimensions. The skip fractions are exact properties of the
-- deterministic layout, so both engines state them identically.
WITH coded AS (
  SELECT event_id, user_id,
         CAST(FLOOR(value / 8.0) AS BIGINT) AS vb,
         user_id % 64 AS ub
  FROM events
), morton AS (
  SELECT event_id, user_id,
         -- interleave 6 bits of ub (odd positions) and vb (even)
         ((ub & 1) * 2 + (ub & 2) * 4 + (ub & 4) * 8
          + (ub & 8) * 16 + (ub & 16) * 32 + (ub & 32) * 64
          + (vb & 1) + (vb & 2) * 2 + (vb & 4) * 4
          + (vb & 8) * 8 + (vb & 16) * 16 + (vb & 32) * 32) AS zkey,
         vb
  FROM coded
), zblocks AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY zkey, event_id) - 1) // 1000
           AS blk,
         user_id
  FROM morton
), vblocks AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY vb, event_id) - 1) // 1000
           AS blk,
         user_id
  FROM morton
), zstats AS (
  SELECT blk, MIN(user_id) AS lo, MAX(user_id) AS hi FROM zblocks
  GROUP BY blk
), vstats AS (
  SELECT blk, MIN(user_id) AS lo, MAX(user_id) AS hi FROM vblocks
  GROUP BY blk
), probes AS (
  SELECT u.u AS probe FROM UNNEST(range(0, 150, 10)) u(u)
), zskip AS (
  SELECT p.probe, SUM(CASE WHEN p.probe < z.lo OR p.probe > z.hi
                           THEN 1 ELSE 0 END) AS skipped,
         COUNT(*) AS total
  FROM probes p CROSS JOIN zstats z GROUP BY p.probe
), vskip AS (
  SELECT p.probe, SUM(CASE WHEN p.probe < v.lo OR p.probe > v.hi
                           THEN 1 ELSE 0 END) AS skipped,
         COUNT(*) AS total
  FROM probes p CROSS JOIN vstats v GROUP BY p.probe
)
-- COALESCE: with zero events there are zero blocks and the scalar
-- subquery is NULL, while the Spark side counts 0 (empty-corpus
-- sweep, round 14); no-op whenever any block exists
SELECT CAST(COALESCE((SELECT MAX(total) FROM zskip), 0) AS BIGINT)
         AS n_blocks,
       ROUND((SELECT SUM(skipped) * 1.0 / SUM(total) FROM zskip), 4)
         AS zorder_skip_frac,
       ROUND((SELECT SUM(skipped) * 1.0 / SUM(total) FROM vskip), 4)
         AS valuesort_skip_frac,
       (SELECT SUM(skipped) FROM zskip) >= (SELECT SUM(skipped) FROM vskip)
         AS zorder_wins
"""


@register("warehouse_zorder_skipping", oracle=ZORDER_ORACLE)
def warehouse_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data layout: Morton (Z-order) interleaving of
    (user, value) buckets vs a single-key sort, measured by the thing
    that matters at 100 TB — min/max data skipping for probes on the
    secondary dimension. Blocks of 1000 rows stand in for parquet
    row groups; per-block [min,max] stats are exactly what the scan
    planner prunes with. The morton key is pure JVM bit algebra
    (identical expression in the oracle), the block assignment a
    deterministic ROW_NUMBER partition, and the skip fractions exact
    — value-checking that Z-ORDER CLUSTERING actually buys secondary-
    dimension pruning where value-sort gives none."""
    ev = load_table(spark, sf_dir, "events")
    coded = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") / 8.0).cast("long").alias("vb"),
        (F.col("user_id") % 64).alias("ub"),
    )
    ub, vb = F.col("ub"), F.col("vb")
    zkey = (
        (ub.bitwiseAND(1) * 2) + (ub.bitwiseAND(2) * 4)
        + (ub.bitwiseAND(4) * 8) + (ub.bitwiseAND(8) * 16)
        + (ub.bitwiseAND(16) * 32) + (ub.bitwiseAND(32) * 64)
        + vb.bitwiseAND(1) + (vb.bitwiseAND(2) * 2)
        + (vb.bitwiseAND(4) * 4) + (vb.bitwiseAND(8) * 8)
        + (vb.bitwiseAND(16) * 16) + (vb.bitwiseAND(32) * 32)
    )
    morton = coded.select("event_id", "user_id", zkey.alias("zkey"), "vb")

    def block_stats(df, order_col):
        w = Window.orderBy(order_col, "event_id")
        return (
            df.withColumn(
                "blk", ((F.row_number().over(w) - 1) / 1000).cast("long")
            )
            .groupBy("blk")
            .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        )

    zstats = block_stats(morton, F.col("zkey"))
    vstats = block_stats(morton, F.col("vb"))
    probes = ev.sparkSession.range(0, 150, 10).select(
        F.col("id").alias("probe")
    )

    def skip_frac(stats):
        j = probes.crossJoin(F.broadcast(stats))
        return j.agg(
            F.sum(
                F.when(
                    (F.col("probe") < F.col("lo"))
                    | (F.col("probe") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("skipped"),
            F.count(F.lit(1)).alias("total"),
        )

    z = skip_frac(zstats).select(
        F.col("skipped").alias("zs"), F.col("total").alias("zt")
    )
    v = skip_frac(vstats).select(
        F.col("skipped").alias("vs"), F.col("total").alias("vt")
    )
    nblk = zstats.agg(F.count(F.lit(1)).alias("n_blocks"))
    return (
        nblk.crossJoin(z)
        .crossJoin(v)
        .select(
            F.col("n_blocks").cast("long").alias("n_blocks"),
            F.round(F.col("zs") * 1.0 / F.col("zt"), 4).alias(
                "zorder_skip_frac"
            ),
            F.round(F.col("vs") * 1.0 / F.col("vt"), 4).alias(
                "valuesort_skip_frac"
            ),
            (F.col("zs") >= F.col("vs")).alias("zorder_wins"),
        )
    )


SCD2_TEMPORAL_ORACLE = """
-- Temporal dimension join (fact AS OF event time against an SCD2
-- versioned dimension): every user has three versions with
-- effective ranges splitting January 2024 at the 11th and 21st, and
-- a version-dependent attribute; each event joins the version whose
-- [eff_start, eff_end) contains its timestamp. The classic
-- point-in-time-correct enrichment (joining is_current instead
-- LEAKS the future — the training-data bug this operator exists to
-- prevent). Per-(version, tier) accounting.
WITH users AS (
  SELECT DISTINCT user_id FROM events
), versions AS (
  SELECT u.user_id, v.v AS version,
         CASE v.v WHEN 1 THEN TIMESTAMP '2023-01-01'
                  WHEN 2 THEN TIMESTAMP '2024-01-11'
                  ELSE TIMESTAMP '2024-01-21' END AS eff_start,
         CASE v.v WHEN 1 THEN TIMESTAMP '2024-01-11'
                  WHEN 2 THEN TIMESTAMP '2024-01-21'
                  ELSE TIMESTAMP '2099-01-01' END AS eff_end,
         u.user_id % 3 + v.v AS tier
  FROM users u, UNNEST(range(1, 4)) v(v)
)
SELECT v.version, CAST(v.tier AS INT) AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 2)  AS total_value
FROM events e
JOIN versions v
  ON v.user_id = e.user_id
 AND e.ts >= v.eff_start AND e.ts < v.eff_end
GROUP BY v.version, v.tier
ORDER BY version, tier
"""


@register("join_scd2_temporal", oracle=SCD2_TEMPORAL_ORACLE)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension enrichment: join each fact row
    to the SCD2 version effective AT ITS EVENT TIME (not is_current —
    current-version joins leak future attributes into training data).
    Scale shape: equi-join on the user key carries the range
    predicate as a post-join filter over the <=3 versions per key —
    never a BNLJ; the versioned dimension broadcasts when
    dimension-sized. Exactly-one-version coverage is guaranteed by
    construction (half-open ranges partition time)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    v = users.crossJoin(
        ev.sparkSession.range(1, 4).select(F.col("id").alias("version"))
    ).select(
        "user_id",
        "version",
        F.when(F.col("version") == 1, F.lit("2023-01-01"))
        .when(F.col("version") == 2, F.lit("2024-01-11"))
        .otherwise(F.lit("2024-01-21"))
        .cast("timestamp")
        .alias("eff_start"),
        F.when(F.col("version") == 1, F.lit("2024-01-11"))
        .when(F.col("version") == 2, F.lit("2024-01-21"))
        .otherwise(F.lit("2099-01-01"))
        .cast("timestamp")
        .alias("eff_end"),
        (F.col("user_id") % 3 + F.col("version")).alias("tier"),
    )
    joined = ev.join(F.broadcast(v), "user_id").filter(
        (F.col("ts") >= F.col("eff_start")) & (F.col("ts") < F.col("eff_end"))
    )
    return (
        joined.groupBy("version", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "version",
            F.col("tier").cast("int").alias("tier"),
            "n_events",
            "total_value",
        )
        .orderBy("version", "tier")
    )


DATE_GAPS_ORACLE = """
-- Date-coverage gap detection: generate the expected day range from
-- the observed min/max order date and anti-join the present days —
-- the freshness/completeness check a warehouse runs on every
-- time-partitioned table (a missing day = a failed upstream load).
-- The fixture is gap-free, so days are deterministically PLANTED
-- missing (every day whose epoch-day % 50 = 7 is deleted before the
-- check) to prove the detector fires; the summary row carries both
-- populations.
WITH present0 AS (
  -- o_orderdate is a midnight TIMESTAMP in the fixture; the day axis
  -- is a DATE in both engines
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
), present AS (
  SELECT d FROM present0
  WHERE CAST(epoch(CAST(d AS TIMESTAMP)) / 86400 AS BIGINT) % 50 <> 7
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM present0
), expected AS (
  SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
), missing AS (
  SELECT e.d FROM expected e
  WHERE NOT EXISTS (SELECT 1 FROM present p WHERE p.d = e.d)
)
SELECT (SELECT COUNT(*) FROM expected) AS n_expected_days,
       (SELECT COUNT(*) FROM present) AS n_present_days,
       CAST(COUNT(*) AS BIGINT) AS n_missing_days,
       STRFTIME(MIN(d), '%Y-%m-%d') AS first_missing,
       STRFTIME(MAX(d), '%Y-%m-%d') AS last_missing
FROM missing
"""


@register("quality_date_gaps", oracle=DATE_GAPS_ORACLE)
def quality_date_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-coverage gap detector: expected-day range (from observed
    min/max) anti-joined against present days — the per-partition
    completeness check that catches a silently failed daily load.
    Days are deterministically planted missing (epoch-day % 50 = 7)
    because the fixture is gap-free and an untestable detector is
    no detector.

    Plan: present days are one DISTINCT over the date column (scan-
    pruned to one column); the expected axis is a generated range
    (|days| rows, driver-free via sequence+explode); the anti-join
    is day-domain-sized. At 100 TB this runs on partition METADATA
    (directory listing) rather than data — same plan, cheaper scan;
    the data-level form here is the one that also catches a present-
    but-empty partition."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    present0 = orders.select(F.to_date("o_orderdate").alias("d")).distinct()
    present = present0.filter(
        (F.unix_timestamp(F.col("d").cast("timestamp")) / 86400).cast("long")
        % 50
        != 7
    )
    bounds = present0.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    expected = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    missing = expected.join(present, "d", "left_anti")
    n_expected = expected.agg(F.count(F.lit(1)).alias("c"))
    n_present = present.agg(F.count(F.lit(1)).alias("c"))
    return (
        missing.agg(
            F.count(F.lit(1)).cast("long").alias("n_missing_days"),
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_missing"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_missing"),
        )
        .crossJoin(
            F.broadcast(n_expected.select(F.col("c").alias("n_expected_days")))
        )
        .crossJoin(
            F.broadcast(n_present.select(F.col("c").alias("n_present_days")))
        )
        .select(
            "n_expected_days",
            "n_present_days",
            "n_missing_days",
            "first_missing",
            "last_missing",
        )
    )


# --------------------------- wave 21: unreferenced parent rows

UNREFERENCED_ORACLE = """
-- Dead-dimension audit — the converse of the child->parent orphan
-- check (quality_referential_integrity): how many PARENT rows are
-- never referenced by any child? Unreferenced parts/customers are
-- how warehouses accrete zombie dimensions; the count feeds both
-- vacuum policy and join-cardinality expectations. One distinct per
-- child FK + one anti-join per relation, all exact integers.
SELECT * FROM (
  SELECT 'customer<-orders' AS relation,
         CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS parent_rows,
         CAST((SELECT COUNT(*) FROM customer
               WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
              AS BIGINT) AS unreferenced
  UNION ALL
  SELECT 'nation<-customer',
         CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
         CAST((SELECT COUNT(*) FROM nation
               WHERE n_nationkey NOT IN
                 (SELECT c_nationkey FROM customer)) AS BIGINT)
  UNION ALL
  SELECT 'part<-lineitem',
         CAST((SELECT COUNT(*) FROM part) AS BIGINT),
         CAST((SELECT COUNT(*) FROM part
               WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem))
              AS BIGINT)
  UNION ALL
  SELECT 'supplier<-lineitem',
         CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
         CAST((SELECT COUNT(*) FROM supplier
               WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem))
              AS BIGINT)
)
ORDER BY relation
"""


@register("quality_unreferenced_parents", oracle=UNREFERENCED_ORACLE)
def quality_unreferenced_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-dimension audit (see oracle). Scale shape: each child
    side reduces to a DISTINCT key set first (map-side combined),
    and the anti join is keyed on the dimension key — for dims that
    fit, AQE turns it into a broadcast; for fact-sized 'dims' it is
    one co-partitioned shuffle each. The four relations are
    independent scans unioned at the end (no cross-relation
    barrier)."""
    rels = []
    for relation, parent, pk, child, fk in [
        ("customer<-orders", "customer", "c_custkey", "orders", "o_custkey"),
        ("nation<-customer", "nation", "n_nationkey", "customer", "c_nationkey"),
        ("part<-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
        ("supplier<-lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ]:
        p = load_table(spark, sf_dir, parent)
        c = load_table(spark, sf_dir, child).select(
            F.col(fk).alias(pk)
        ).distinct()
        stats = p.join(c, pk, "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("unreferenced")
        )
        total = p.agg(F.count(F.lit(1)).cast("long").alias("parent_rows"))
        rels.append(
            total.crossJoin(stats).select(
                F.lit(relation).alias("relation"),
                "parent_rows",
                "unreferenced",
            )
        )
    out = rels[0]
    for r in rels[1:]:
        out = out.unionByName(r)
    return out.orderBy("relation")


# -------------------- wave 30: functional-dependency violation profile

FD_PROFILE_ORACLE = """
-- Functional-dependency profile: for four candidate FDs over the
-- warehouse tables, how many LHS groups violate X -> Y (more than
-- one distinct RHS value), and how bad is the worst group? The
-- schema-discovery / DQ primitive behind key inference and
-- denormalization safety checks. In THIS fixture exactly one FD
-- is a true key (o_orderkey -> o_custkey); the composite
-- (l_orderkey, l_linenumber) -> l_partkey would be a key in real
-- TPC-H but the synthetic generator duplicates line numbers, so
-- its violation profile is itself a data-quality finding — which
-- is the point of the operator.
WITH fd1 AS (
  SELECT 'o_orderkey->o_custkey' AS fd, COUNT(*) AS n_groups,
         SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS n_violations,
         MAX(v) AS max_rhs_variants
  FROM (SELECT COUNT(DISTINCT o_custkey) AS v
        FROM orders GROUP BY o_orderkey)
), fd2 AS (
  SELECT 'l_orderkey->l_suppkey' AS fd, COUNT(*) AS n_groups,
         SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS n_violations,
         MAX(v) AS max_rhs_variants
  FROM (SELECT COUNT(DISTINCT l_suppkey) AS v
        FROM lineitem GROUP BY l_orderkey)
), fd3 AS (
  SELECT 'o_custkey->o_orderpriority' AS fd, COUNT(*) AS n_groups,
         SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS n_violations,
         MAX(v) AS max_rhs_variants
  FROM (SELECT COUNT(DISTINCT o_orderpriority) AS v
        FROM orders GROUP BY o_custkey)
), fd4 AS (
  SELECT 'l_orderkey,l_linenumber->l_partkey' AS fd, COUNT(*) AS n_groups,
         SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS n_violations,
         MAX(v) AS max_rhs_variants
  FROM (SELECT COUNT(DISTINCT l_partkey) AS v
        FROM lineitem GROUP BY l_orderkey, l_linenumber)
)
SELECT fd, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(max_rhs_variants AS BIGINT) AS max_rhs_variants,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS holds
FROM (SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
      UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4)
ORDER BY fd
"""


@register("quality_functional_dependencies", oracle=FD_PROFILE_ORACLE)
def quality_functional_dependencies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Candidate-FD violation profile over orders/lineitem (see
    oracle for the four dependencies and why each is interesting).

    Scale shape (r14 rework, -41% at sf1): each FD is ONE groupBy
    on its LHS with size(collect_set(RHS)) — a SINGLE LHS-keyed
    exchange with map-side partial sets, versus count_distinct's
    two-level rewrite (an (LHS,RHS)-keyed exchange plus an
    LHS-keyed one). Interleaved A/B: sf1 3.29 -> 1.94s with
    every variant sample beating every
    stock sample; sf0.1 a wash (1.43 vs 1.53) — KEEP(sf1).
    Rejected in the same probe: repartition-by-l_orderkey fusion
    of the two lineitem FDs (serializes the four pipelines behind
    one exchange: sf1 2.85 vs 2.31 stock) and scan fan-out
    (sf0.1 2.17). Memory bound, stated: collect_set holds each
    group's distinct-RHS set in one aggregation buffer, so this
    form assumes the CANDIDATE-FD regime (near-key LHS, per-group
    variants small — here max_rhs_variants <= a few). Profiling a
    wildly non-functional pair (tiny LHS domain x huge RHS) should
    use the two-level count_distinct form instead; that is a
    different workload, not this operator's. Two scans per table
    (different LHS keys cannot share one aggregation without a
    dense LHS x FD expansion, which would double the corpus —
    stated trade). At 100 TB each FD is exactly one shuffle keyed
    on its LHS."""
    od = load_table(spark, sf_dir, "orders", parallel=False)
    li = load_table(spark, sf_dir, "lineitem", parallel=False)

    def profile(df: DataFrame, name: str, lhs: list, rhs: str) -> DataFrame:
        v = F.col("v")
        return (
            df.groupBy(*lhs)
            .agg(F.size(F.collect_set(F.col(rhs))).alias("v"))
            .agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(v > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violations"),
                F.max(v).cast("long").alias("max_rhs_variants"),
            )
            .select(
                "fd", "n_groups", "n_violations", "max_rhs_variants",
                F.when(F.col("n_violations") == 0, 1)
                .otherwise(0)
                .cast("long")
                .alias("holds"),
            )
        )

    out = (
        profile(od, "o_orderkey->o_custkey", ["o_orderkey"], "o_custkey")
        .unionByName(
            profile(li, "l_orderkey->l_suppkey", ["l_orderkey"], "l_suppkey")
        )
        .unionByName(
            profile(
                od, "o_custkey->o_orderpriority", ["o_custkey"],
                "o_orderpriority",
            )
        )
        .unionByName(
            profile(
                li,
                "l_orderkey,l_linenumber->l_partkey",
                ["l_orderkey", "l_linenumber"],
                "l_partkey",
            )
        )
    )
    return out.orderBy("fd")
