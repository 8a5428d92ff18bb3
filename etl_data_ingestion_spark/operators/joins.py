"""Join operators (SURVEY.md §2.5): broadcast/shuffle equi-joins,
semi/anti, non-equi theta, range (band) join, full outer, and as-of.

Scale stance per query is documented on each builder: small sides are
broadcast explicitly; the only shuffles left are big-big joins keyed on
their join keys, which AQE re-plans (skew-join splitting) at runtime.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import fixed
from etl_data_ingestion_spark.plans.registry import register

BROADCAST_DIMS_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


@register("join_broadcast_dims", oracle=BROADCAST_DIMS_ORACLE)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈nation⋈region with explicit broadcasts: at 100 TB the
    fact side streams map-side through two BroadcastHashJoins — zero
    shuffles before the final small agg."""
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
ORDER BY c_custkey
"""


@register("join_left_semi", oracle=SEMI_ORACLE)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: existence check without duplication — Spark plans a
    semi-join that short-circuits per probe row (no fanout, no distinct
    needed afterwards)."""
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return (
        customer.join(
            big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_name")
    )


ANTI_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


@register("join_left_anti", oracle=ANTI_ORACLE)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: customers with no orders (reference has no joins at
    all — this is the BigQuery-side surface brought in-engine)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


THETA_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS late_lines
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("join_theta_late_shipments", oracle=THETA_ORACLE)
def join_theta_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed equi + theta condition: the equi part (orderkey) drives the
    shuffle/join strategy; the non-equi residual evaluates as a
    post-join filter — the scalable shape for theta joins (never a
    cartesian)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_lines"))
    )


BAND_ORACLE = """
SELECT b.band_name, COUNT(*) AS parts, ROUND(AVG(p_retailprice), 2) AS avg_price
FROM part p
JOIN (VALUES ('budget', 0.0, 500.0),
             ('mid', 500.0, 1200.0),
             ('premium', 1200.0, 1e9)) AS b(band_name, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band_name
ORDER BY b.band_name
"""


@register("join_range_price_bands", oracle=BAND_ORACLE)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact against tiny interval table. Broadcast
    nested-loop is the right plan when the build side is a handful of
    bands; Catalyst picks it because the small side is broadcast."""
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 1e9)],
        "band_name string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


FULL_OUTER_ORACLE = """
WITH cust AS (
  SELECT c_nationkey AS nk, COUNT(*) AS customers FROM customer GROUP BY c_nationkey
), supp AS (
  SELECT s_nationkey AS nk, COUNT(*) AS suppliers FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(cust.nk, supp.nk) AS nationkey,
       COALESCE(customers, 0) AS customers,
       COALESCE(suppliers, 0) AS suppliers
FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
ORDER BY nationkey
"""


@register("join_full_outer_nation_counts", oracle=FULL_OUTER_ORACLE)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides — aggregate BEFORE
    joining so the join input is |keys|, not |rows|."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    return (
        cust.join(supp, cust.nk == supp.nk, "full_outer")
        .select(
            F.coalesce(cust.nk, supp.nk).alias("nationkey"),
            F.coalesce(F.col("customers"), F.lit(0)).alias("customers"),
            F.coalesce(F.col("suppliers"), F.lit(0)).alias("suppliers"),
        )
    )


ASOF_ORACLE = """
SELECT p.event_id,
       p.user_id,
       ROUND(p.value, 3)  AS purchase_value,
       ROUND(v.value, 3)  AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY p.event_id
"""


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Generic as-of join (Spark has no native one; SURVEY.md §2.5).

    Union-and-window composition: tag both sides, sort within each
    ``by`` partition on the ``on`` column, and carry the right side's
    last non-null values forward onto left rows. One shuffle + one
    sort — the same cost as a sort-merge join, no per-group pandas.
    Right-side rows at exactly the same ``on`` value match (ts <=
    semantics), implemented by sorting right rows before left rows on
    ties.
    """
    lt = left.withColumn("_side", F.lit(1))
    rt = right.withColumn("_side", F.lit(0))
    cols = lt.columns + [c for c in rt.columns if c not in lt.columns]
    lt_full = lt.select(
        *[(F.col(c) if c in lt.columns else F.lit(None)).alias(c) for c in cols]
    )
    rt_full = rt.select(
        *[(F.col(c) if c in rt.columns else F.lit(None)).alias(c) for c in cols]
    )
    unioned = lt_full.unionByName(rt_full)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(v)), ignorenulls=True)
            .over(w)
            .alias(f"_asof_{v}")
            for v in value_cols
        ],
    )
    return carried.filter(F.col("_side") == 1)


@register("join_asof_purchase_view", oracle=ASOF_ORACLE)
def join_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's latest
    prior (or simultaneous) view event. DuckDB's native ASOF JOIN is
    the oracle; our Spark plan is the union+window composition."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    joined = asof_join(
        purchases, views, on="ts", by="user_id", value_cols=["view_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 3).alias("purchase_value"),
        F.round("_asof_view_value", 3).alias("last_view_value"),
    )


SMJ_ORACLE = """
-- revenue in EXACT integer cents: SUM(float) over ~6M lines per
-- priority group diverged by 1 ulp between engines at sf1 (different
-- summation order), flipping the printed cent after ROUND(,2) — the
-- r8 scale sweep caught it ('...572.26' vs '...572.27'). Per-line
-- half-up cents via FLOOR(x*100+0.5) is the identical IEEE chain in
-- both engines; the BIGINT sum is order-free (int64 headroom ~9e16
-- dollars, far past 100 TB group sums).
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("join_sortmerge_fact_fact", oracle=SMJ_ORACLE)
def join_sortmerge_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join forced to sort-merge via hint("merge") — the
    strategy this join NEEDS at 100 TB, where neither orders nor
    lineitem broadcasts. (At test SF Spark would broadcast orders;
    the hint makes the bench measure the scale-relevant plan: shuffle
    both sides on l_orderkey/o_orderkey, sort, streaming merge. With
    bucketed tables on the join key, both exchanges disappear.)"""
    orders = load_table(spark, sf_dir, "orders").hint("merge")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact-cents sum (see SMJ_ORACLE): order-free BIGINT
            # arithmetic instead of order-dependent float SUM+ROUND —
            # the float form flipped a cent vs the oracle at sf1
            (
                F.sum(fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2))
                / 100.0
            ).alias("revenue"),
        )
    )


SALTED_ORACLE = """
WITH fact AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 7 ELSE user_id END AS k,
         value
  FROM events
), dim AS (
  SELECT user_id AS k, COUNT(*) AS user_events
  FROM events GROUP BY user_id
)
SELECT f.k,
       COUNT(*)                    AS joined_rows,
       CAST(MAX(d.user_events) AS BIGINT) AS dim_attr,
       ROUND(SUM(f.value), 2)      AS total_value
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY f.k
ORDER BY f.k
"""


@register("join_salted_skew", oracle=SALTED_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for a hot key: a synthetic skew (key 7 carries ~1/3
    of the fact side) is joined against a small dim WITHOUT one reducer
    owning the hot key — fact rows get salt = event_id % N, the dim
    side is replicated ×N via explode(sequence), and the join key
    becomes (k, salt), spreading the hot key over N reducers. Salting
    preserves join semantics exactly, so the oracle is the PLAIN join:
    the test proves the rewrite is sound. (AQE skew-join splitting
    does this automatically for sort-merge joins; manual salting is
    the tool when the skew is known and extreme, or for aggregations.)
    """
    n_salts = 8
    events = load_table(spark, sf_dir, "events")
    fact = events.select(
        F.when(F.col("event_id") % 3 == 0, 7)
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
        F.pmod(F.col("event_id"), F.lit(n_salts)).alias("salt"),
    )
    dim = (
        events.groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("user_events"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    )
    return (
        fact.join(dim, ["k", "salt"])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("joined_rows"),
            F.max("user_events").alias("dim_attr"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


NULL_SAFE_ORACLE = """
WITH a AS (
  SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS k FROM customer WHERE c_custkey < 200
), b AS (
  SELECT NULLIF(n_nationkey % 5, 0) AS k, COUNT(*) AS n_nations
  FROM nation GROUP BY 1
)
SELECT a.c_custkey, a.k, b.n_nations
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY a.c_custkey
"""


@register("join_null_safe_eq", oracle=NULL_SAFE_ORACLE)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> ≡ IS NOT DISTINCT FROM): NULL keys
    MATCH each other, unlike `=` which drops them silently — the
    semantics a dedup/upsert on nullable keys needs. Plans as a normal
    hash join (null-safe equality is still a hashable key)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    a = cust.select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k")
    )
    nation = load_table(spark, sf_dir, "nation")
    b = (
        nation.select(F.nullif(F.col("n_nationkey") % 5, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    return (
        a.join(b, a.k.eqNullSafe(b.k))
        .select("c_custkey", a.k.alias("k"), "n_nations")
    )


SHUFFLE_HASH_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       ROUND(SUM(o_totalprice), 2) AS order_value
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("join_shufflehash_fact", oracle=SHUFFLE_HASH_ORACLE)
def join_shufflehash_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join via hint("shuffle_hash"): both sides shuffle
    on the key but the build side hashes in memory — no sort on either
    side, unlike sort-merge. The right call when one side is much
    smaller than the other but too big to broadcast; memory-risky on
    skew (no spill-friendly sort), which is why Spark defaults to SMJ.
    Plan shows ShuffledHashJoin BuildRight."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("o_totalprice"), 2).alias("order_value"),
        )
    )


BLOOM_PRUNED_ORACLE = """
-- Bloom-pruned fact⋈dim join: the bloom pre-filter has no false
-- negatives and every false positive is removed by the exact join
-- that follows, so the result equals the plain join — which is
-- exactly what the oracle computes.
-- revenue in exact integer cents (same device and rationale as
-- SMJ_ORACLE: order-free BIGINT sum, identical IEEE per-line chain).
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey = 7
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("join_bloom_pruned", oracle=BLOOM_PRUNED_ORACLE)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom) semi-join reduction, built distributively:
    the pattern that turns a fact⋈dim join into a fact-scan prune when
    the dim predicate is selective — Spark's own
    spark.sql.optimizer.runtime.bloomFilter applies it automatically in
    narrow cases; this operator is the explicit, always-available form.

    Shape: (1) build side (suppliers of one nation) folds into a
    4096-bit bloom as a 64-row aggregate — bucket = hash1(key) mod 64,
    bitmap = BIT_OR(1 << (hash2(key) mod 64)) — no driver collect, the
    bitmap IS a DataFrame; (2) the fact scan computes the same two
    hashes map-side, broadcast-joins the 64-row bitmap on bucket, and
    drops every row whose bit is absent BEFORE the exact join;
    (3) the exact broadcast join removes bloom false positives.

    At 100 TB: the probe is map-side-only (two xxhash64 + one AND per
    row against a broadcast smaller than a cache line per bucket), so
    rows that can't join never reach the join — with a selective dim
    filter that's a >90% cut in joined volume, and with a sort-merge
    fact-fact join it's a >90% cut in SHUFFLED bytes, which is the
    difference that matters. False-positive rate here:
    ~40 keys / 4096 bits ≈ 1%; size the bitmap at ~10 bits/key.
    """
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(64))
    # python-API shiftleft wants a literal shift; the per-row shift is
    # a SQL expression
    bit_mask = lambda c: F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({c}, 1), 64) AS INT))"
    )
    bitmap = dim.groupBy(bucket("s_suppkey").alias("bucket")).agg(
        F.bit_or(bit_mask("s_suppkey")).alias("bits")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    pruned = (
        li.withColumn("bucket", bucket("l_suppkey"))
        .join(F.broadcast(bitmap), "bucket", "left")
        .filter(
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(bit_mask("l_suppkey")) != 0)
        )
    )
    return (
        pruned.join(F.broadcast(dim), pruned.l_suppkey == dim.s_suppkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact-cents sum (same device and rationale as SMJ_ORACLE)
            (
                F.sum(fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2))
                / 100.0
            ).alias("revenue"),
        )
    )


ASOF_TOLERANCE_ORACLE = """
-- As-of with DIRECTION + TOLERANCE (pandas merge_asof parity, the
-- full as-of API): each purchase matched to the user's NEXT view
-- event within 30 minutes (forward as-of) — NULL when nothing
-- follows inside the window. Expressed as the windowed-min over
-- forward candidates; DuckDB computes the identical semantics via a
-- correlated min.
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
), matched AS (
  SELECT p.event_id, p.user_id,
         (SELECT MIN(v.ts) FROM v
          WHERE v.user_id = p.user_id AND v.ts >= p.ts
            AND v.ts <= p.ts + INTERVAL 30 MINUTE) AS next_view_ts
  FROM p
)
SELECT m.event_id, m.user_id,
       STRFTIME(m.next_view_ts, '%Y-%m-%d %H:%M:%S') AS next_view_ts,
       ROUND(ANY_VALUE(v.value), 3) AS next_view_value
FROM matched m
LEFT JOIN v ON v.user_id = m.user_id AND v.ts = m.next_view_ts
GROUP BY m.event_id, m.user_id, m.next_view_ts
ORDER BY m.event_id
"""


@register("join_asof_forward_tolerance", oracle=ASOF_TOLERANCE_ORACLE)
def join_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a 30-minute tolerance — the other half
    of the as-of API (join_asof_purchase_view is backward/unbounded):
    direction flips the window frame (following instead of
    preceding), tolerance becomes a post-filter on the matched
    timestamp. Same scale shape as the backward form: union the two
    streams tagged, ONE shuffle on (user_id), a single ordered window
    pass carrying the nearest candidate — no range self-join, no
    per-row subquery (the oracle's correlated MIN is the semantics
    statement, not the plan)."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("double").alias("v_value"), F.lit(1).alias("is_p"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.col("value").alias("v_value"), F.lit(0).alias("is_p"),
    )
    # purchases sort BEFORE a view at the same ts (is_p descending) so
    # a simultaneous view lands INSIDE the forward frame starting at
    # the purchase row — the oracle's match is inclusive (v.ts >= p.ts)
    tagged = p.unionByName(v)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_p"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt_ts = F.first(
        F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    nxt_val = F.first(
        F.when(F.col("is_p") == 0, F.col("v_value")), ignorenulls=True
    ).over(w)
    # reference the materialized columns: reusing the raw window
    # expressions after the is_p filter would re-run them over
    # purchase-only partitions (no views left -> all NULL)
    within = F.col("nxt_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")
    return (
        tagged.withColumn("nxt_ts", nxt_ts)
        .withColumn("nxt_val", nxt_val)
        .filter(F.col("is_p") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(
                within, F.date_format("nxt_ts", "yyyy-MM-dd HH:mm:ss")
            ).alias("next_view_ts"),
            F.round(F.when(within, F.col("nxt_val")), 3).alias(
                "next_view_value"
            ),
        )
    )


ASOF_NEAREST_ORACLE = """
-- Nearest as-of join (direction='nearest', completing the
-- backward/forward pair): each purchase matches the view closest in
-- time on EITHER side; equidistant ties prefer backward (pandas
-- merge_asof semantics). Fully pinned determinism: among same-ts
-- views the backward side takes the LATEST (ts desc, event_id
-- desc), the forward side the EARLIEST (ts asc, event_id asc). The
-- oracle states the semantics as per-purchase candidate ranking; the
-- Spark plan computes the same thing with two ordered windows over
-- ONE user_id shuffle — no per-row subquery, no range self-join.
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, value, event_id AS veid FROM events
  WHERE event_type = 'view'
), b AS (
  SELECT * FROM (
    SELECT p.event_id, v.ts, v.value,
           ROW_NUMBER() OVER (PARTITION BY p.event_id
                              ORDER BY v.ts DESC, v.veid DESC) AS rn
    FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
  ) WHERE rn = 1
), f AS (
  SELECT * FROM (
    SELECT p.event_id, v.ts, v.value,
           ROW_NUMBER() OVER (PARTITION BY p.event_id
                              ORDER BY v.ts ASC, v.veid ASC) AS rn
    FROM p JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
  ) WHERE rn = 1
)
SELECT p.event_id, p.user_id,
       CASE WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
            WHEN f.ts IS NULL THEN 'backward'
            WHEN b.ts IS NULL THEN 'forward'
            WHEN p.ts - b.ts <= f.ts - p.ts THEN 'backward'
            ELSE 'forward' END AS direction,
       STRFTIME(CASE WHEN f.ts IS NULL THEN b.ts
                     WHEN b.ts IS NULL THEN f.ts
                     WHEN p.ts - b.ts <= f.ts - p.ts THEN b.ts
                     ELSE f.ts END, '%Y-%m-%d %H:%M:%S') AS nearest_view_ts,
       ROUND(CASE WHEN f.ts IS NULL THEN b.value
                  WHEN b.ts IS NULL THEN f.value
                  WHEN p.ts - b.ts <= f.ts - p.ts THEN b.value
                  ELSE f.value END, 3) AS nearest_view_value
FROM p
LEFT JOIN b ON b.event_id = p.event_id
LEFT JOIN f ON f.event_id = p.event_id
ORDER BY p.event_id
"""


@register("join_asof_nearest", oracle=ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — direction='nearest' of the merge_asof
    API (backward and forward live in join_asof_purchase_view /
    join_asof_forward_tolerance). Same scale shape as both: union
    the streams tagged, ONE shuffle on user_id, and two ordered
    window passes (backward frame carries the latest preceding
    view, forward frame the earliest following) — the oracle's
    per-purchase candidate join is the semantics statement, not the
    plan. Equidistant ties prefer backward; all orderings are fully
    tie-broken (ts, then view event_id) so retries at 100 TB
    reproduce byte-identical output."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("double").alias("v_value"),
        F.lit(None).cast("long").alias("v_eid"),
        F.lit(1).alias("is_p"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.col("value").alias("v_value"),
        F.col("event_id").alias("v_eid"),
        F.lit(0).alias("is_p"),
    )
    tagged = p.unionByName(v)
    view_struct = F.when(
        F.col("is_p") == 0, F.struct("ts", "v_value")
    )
    # backward: views sort before the purchase at equal ts (is_p asc)
    # and by v_eid so "latest preceding" is (ts desc, v_eid desc)
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "v_eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: purchases sort before same-ts views (desc is_p), views
    # by v_eid asc so "earliest following" is (ts asc, v_eid asc)
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_p"), "v_eid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev = F.last(view_struct, ignorenulls=True).over(wb)
    nxt = F.first(view_struct, ignorenulls=True).over(wf)
    enriched = (
        tagged.withColumn("prev", prev)
        .withColumn("nxt", nxt)
        .filter(F.col("is_p") == 1)
    )
    # compare at FULL timestamp precision: the fixtures carry
    # sub-second components, and a cast("long") floors to seconds —
    # at sf1 that truncation flipped near-equidistant ties against
    # the oracle's exact interval comparison (found by the sf1
    # parity sweep). cast("double") keeps microseconds.
    d_back = F.col("ts").cast("double") - F.col("prev.ts").cast("double")
    d_fwd = F.col("nxt.ts").cast("double") - F.col("ts").cast("double")
    backward_wins = F.col("nxt").isNull() | (
        F.col("prev").isNotNull() & (d_back <= d_fwd)
    )
    chosen = F.when(backward_wins, F.col("prev")).otherwise(F.col("nxt"))
    return enriched.select(
        "event_id",
        "user_id",
        F.when(
            F.col("prev").isNull() & F.col("nxt").isNull(), F.lit(None)
        )
        .when(backward_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
        F.date_format(chosen["ts"], "yyyy-MM-dd HH:mm:ss").alias(
            "nearest_view_ts"
        ),
        F.round(chosen["v_value"], 3).alias("nearest_view_value"),
    ).orderBy("event_id")


INTERVAL_OVERLAP_ORACLE = """
-- Interval-overlap join: orders carry a service interval
-- [o_orderdate, o_orderdate + (o_orderkey % 20) days]; 26 promo
-- campaigns tile the 1995-2001 date range in 90-day steps, each
-- running 45 days. An order matches every campaign whose window
-- OVERLAPS its interval (start <= other.end on both sides) — the
-- canonical interval-intersection join (room bookings x maintenance
-- windows, sessions x incidents). Per campaign: matching orders +
-- revenue.
WITH promos AS (
  SELECT i AS promo_id,
         TIMESTAMP '1995-01-01' + i * 90 * INTERVAL 1 DAY AS p_start,
         TIMESTAMP '1995-01-01' + (i * 90 + 45) * INTERVAL 1 DAY AS p_end
  FROM range(26) t(i)
), iv AS (
  SELECT o_orderkey, o_totalprice, o_orderdate AS o_start,
         o_orderdate + (o_orderkey % 20) * INTERVAL 1 DAY AS o_end
  FROM orders
)
SELECT p.promo_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(iv.o_totalprice), 2) AS revenue
FROM promos p JOIN iv
  ON iv.o_start <= p.p_end AND p.p_start <= iv.o_end
GROUP BY p.promo_id
ORDER BY p.promo_id
"""


@register("join_interval_overlap", oracle=INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via GRID BUCKETING, the equi-join
    reduction that scales when BOTH interval sets are large: each
    interval explodes to the 90-day grid cells it touches (sequence
    + explode — bounded by interval span / cell width, here <= 2
    cells per order and exactly one per 45-day promo), the join runs
    as a plain hash equi-join on cell, and the exact overlap
    predicate filters residual false pairs inside the join — no
    CartesianProduct, no BroadcastNestedLoop over the fact table
    (.explain: SortMergeJoin/BHJ on cell). A pair overlapping in two
    shared cells would double-count, so cells join on
    GREATEST(o_start, p_start)'s cell only — each true pair survives
    in exactly ONE cell, making dedup-by-distinct (an extra fact
    shuffle) unnecessary. Promos here are tiny and Catalyst
    broadcasts them; the grid shape is what survives when they are
    not (campaign tables at ad-tech scale are millions of rows)."""
    orders = load_table(spark, sf_dir, "orders")
    cell_s = 90 * 86400  # grid cell width: seconds

    promos = spark.range(26).select(
        F.col("id").cast("int").alias("promo_id"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.col("id") * 90 * F.expr("INTERVAL 1 DAY")
        ).alias("p_start"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + (F.col("id") * 90 + 45) * F.expr("INTERVAL 1 DAY")
        ).alias("p_end"),
    )
    iv = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("o_start"),
        (
            F.col("o_orderdate")
            + (F.col("o_orderkey") % 20) * F.expr("INTERVAL 1 DAY")
        ).alias("o_end"),
    )

    def cells(start, end):
        # parquet dates land as TIMESTAMP_NTZ, which has no direct
        # long cast; route through TIMESTAMP (session is UTC-pinned,
        # session.py) for the epoch-seconds grid arithmetic
        return F.sequence(
            F.floor(start.cast("timestamp").cast("long") / cell_s),
            F.floor(end.cast("timestamp").cast("long") / cell_s),
        )

    p_cells = promos.select(
        "*", F.explode(cells(F.col("p_start"), F.col("p_end"))).alias("cell")
    )
    o_cells = iv.select(
        "*", F.explode(cells(F.col("o_start"), F.col("o_end"))).alias("cell")
    )
    # overlap + canonical-cell condition: count the pair only in the
    # cell containing max(o_start, p_start), so no distinct needed
    joined = o_cells.join(p_cells, "cell").filter(
        (F.col("o_start") <= F.col("p_end"))
        & (F.col("p_start") <= F.col("o_end"))
        & (
            F.floor(
                F.greatest("o_start", "p_start")
                .cast("timestamp")
                .cast("long")
                / cell_s
            )
            == F.col("cell")
        )
    )
    return (
        joined.groupBy("promo_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("promo_id")
    )


GEO_RADIUS_ORACLE = """
-- Geospatial radius join (find warehouses within 5 km of each store)
-- via the direct theta join — the ground truth the grid-bucketed
-- Spark plan must reproduce. Coordinates are synthesized from keys
-- inside a ~1 degree box around 40N; haversine stated identically in
-- both engines. NO intermediate rounding: raw doubles agree to ~1e-13
-- (libm ulp), so the single final ROUND is safe, whereas an inner
-- ROUND(d,6) MANUFACTURES exact .xxxx50 half-boundaries that the two
-- engines' ROUND break differently (found at sf1: 0.5025 vs 0.5024).
WITH stores AS (
  SELECT c_custkey AS store_id,
         40.0 + (c_custkey % 100) / 100.0  AS lat,
         -75.0 + (c_custkey % 137) / 137.0 AS lon
  FROM customer WHERE c_custkey < 2000
), wh AS (
  SELECT s_suppkey AS wh_id,
         40.0 + (s_suppkey % 97) / 97.0  AS lat,
         -75.0 + (s_suppkey % 73) / 73.0 AS lon
  FROM supplier
), pairs AS (
  SELECT s.store_id, w.wh_id,
         2 * 6371.0 * ASIN(SQRT(
           SIN(RADIANS(w.lat - s.lat) / 2) ^ 2
           + COS(RADIANS(s.lat)) * COS(RADIANS(w.lat))
             * SIN(RADIANS(w.lon - s.lon) / 2) ^ 2)) AS d_km
  FROM stores s, wh w
)
SELECT store_id,
       CAST(COUNT(*) AS BIGINT) AS n_within,
       ROUND(MIN(d_km), 4)      AS nearest_km
FROM pairs WHERE d_km <= 5.0
GROUP BY store_id ORDER BY store_id
"""


@register("join_geo_radius_grid", oracle=GEO_RADIUS_ORACLE)
def join_geo_radius_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join via grid-cell bucketing — the spatial-join pattern
    that replaces the O(stores x warehouses) cross product: snap
    warehouses to one (cell_lat, cell_lon) grid cell sized >= the
    radius in degrees (0.05 lat, 0.0625 lon — covers 5 km at all
    latitudes in the box), explode each store to its 3x3 neighbor
    cells, EQUI-join on the cell, then apply the exact haversine only
    to co-located candidates. Cell coverage is a proof obligation:
    any pair within 5 km differs by < 1 cell in each dimension, so
    the 9-cell probe finds exactly the theta join's pairs — the
    oracle IS that cross join, so equivalence is value-checked.
    At 100 TB: shuffle keys are grid cells (dense integers), the
    probe fan-out is a constant 9x on the smaller side, and skew maps
    to geographic hot spots — salt the hot cells exactly as
    join_salted_skew does."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 2000
    )
    supp = load_table(spark, sf_dir, "supplier")
    stores = cust.select(
        F.col("c_custkey").alias("store_id"),
        (40.0 + (F.col("c_custkey") % 100) / 100.0).alias("lat"),
        (-75.0 + (F.col("c_custkey") % 137) / 137.0).alias("lon"),
    )
    wh = supp.select(
        F.col("s_suppkey").alias("wh_id"),
        (40.0 + (F.col("s_suppkey") % 97) / 97.0).alias("wlat"),
        (-75.0 + (F.col("s_suppkey") % 73) / 73.0).alias("wlon"),
    )
    cl, co = 0.05, 0.0625
    wh_cells = wh.select(
        "wh_id",
        "wlat",
        "wlon",
        F.floor(F.col("wlat") / cl).alias("cell_lat"),
        F.floor(F.col("wlon") / co).alias("cell_lon"),
    )
    offsets = F.expr(
        "flatten(transform(sequence(-1,1), a -> "
        "transform(sequence(-1,1), b -> struct(a, b))))"
    )
    probes = stores.select(
        "store_id",
        "lat",
        "lon",
        F.explode(offsets).alias("o"),
    ).select(
        "store_id",
        "lat",
        "lon",
        (F.floor(F.col("lat") / cl) + F.col("o.a")).alias("cell_lat"),
        (F.floor(F.col("lon") / co) + F.col("o.b")).alias("cell_lon"),
    )
    d_km = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("wlat") - F.col("lat")) / 2), 2)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("wlat"))
                * F.pow(
                    F.sin(F.radians(F.col("wlon") - F.col("lon")) / 2), 2
                )
            )
        )
    )
    return (
        probes.join(wh_cells, ["cell_lat", "cell_lon"])
        .select("store_id", "wh_id", d_km.alias("d_km"))
        .filter(F.col("d_km") <= 5.0)
        .groupBy("store_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_within"),
            F.round(F.min("d_km"), 4).alias("nearest_km"),
        )
    )
