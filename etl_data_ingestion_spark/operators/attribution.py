"""Marketing-attribution and interval-coverage analytics over the
events stream — the remaining two workhorse behavioral shapes after
funnels/retention/transitions (funnel.py) and paths/streaks/RFM
(windows.py, aggregates.py): "which touch gets credit for this
purchase" and "how much wall-clock was each user actually active".

Both are single-shuffle window plans: the fact table exchanges ONCE
on user_id and every later step is frame arithmetic on the sorted
partition — no self-joins, no per-pair blowup, which is what keeps
them linear at 100 TB (the naive purchase×touch join is quadratic in
per-user event count).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.plans.registry import register

LAST_TOUCH_ORACLE = """
-- Last-touch attribution: every purchase credits the user's most
-- recent STRICTLY-EARLIER non-purchase event, but only if that touch
-- happened within the 3-day lookback; otherwise the purchase is
-- 'unattributed'. Equal-timestamp touches do NOT qualify (the touch
-- must precede the decision), enforced by ordering purchases BEFORE
-- same-ts touches so the preceding-rows frame excludes them.
WITH ordered AS (
  SELECT user_id, ts, event_type, value,
         event_type = 'purchase' AS is_p,
         LAST_VALUE(
           CASE WHEN event_type <> 'purchase'
                THEN struct_pack(t_ts := ts, t_type := event_type) END
           IGNORE NULLS
         ) OVER (
           PARTITION BY user_id
           ORDER BY ts, (event_type = 'purchase') DESC, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_touch
  FROM events
), attributed AS (
  SELECT CASE
           WHEN last_touch IS NULL THEN 'unattributed'
           WHEN ts - last_touch.t_ts > INTERVAL 3 DAY THEN 'unattributed'
           ELSE last_touch.t_type
         END AS touch_type,
         value
  FROM ordered WHERE is_p
)
SELECT touch_type,
       COUNT(*) AS n_purchases,
       ROUND(SUM(value), 2) AS attributed_value
FROM attributed
GROUP BY touch_type
ORDER BY touch_type
"""


@register("events_attribution_last_touch", oracle=LAST_TOUCH_ORACLE)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution in ONE user_id exchange: pack
    (touch_ts, touch_type) into a struct, take last(ignorenulls)
    over the preceding-rows frame, then a tiny |touch types|-sized
    aggregate. The frame orders purchases BEFORE equal-ts touches
    (ts ASC, is_purchase DESC, event_id) so a same-instant touch is
    outside the purchase's frame — "strictly earlier" holds even on
    ties, the as-of-join lesson from ADVICE round 4 applied from the
    start. The purchase×touch join formulation this replaces is
    O(per-user-events²); this is O(n log n) sort per partition and
    at 100 TB the single Exchange is the whole cost."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            (F.col("event_type") == "purchase").desc(),
            F.col("event_id").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")),
    )
    ordered = ev.select(
        "user_id",
        "ts",
        "value",
        (F.col("event_type") == "purchase").alias("is_p"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    attributed = ordered.filter("is_p").select(
        F.when(F.col("last_touch").isNull(), F.lit("unattributed"))
        .when(
            F.col("ts") - F.col("last_touch.t_ts")
            > F.expr("INTERVAL 3 DAY"),
            F.lit("unattributed"),
        )
        .otherwise(F.col("last_touch.t_type"))
        .alias("touch_type"),
        "value",
    )
    return (
        attributed.groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("touch_type")
    )


COVERAGE_ORACLE = """
-- Interval-union coverage (merge overlapping intervals): each event
-- opens a 30-minute presence interval; overlapping/adjacent
-- intervals per user merge into islands (classic gaps-and-islands
-- via running max of interval end over PRECEDING rows). Reports the
-- per-user-island population: how many distinct active sessions
-- exist, their total covered hours, and the longest single island.
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islanded AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), islands AS (
  SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
  FROM islanded GROUP BY user_id, island
)
SELECT COUNT(*) AS n_islands,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(EPOCH(i_end - i_start)) / 3600.0, 2) AS covered_hours,
       ROUND(MAX(EPOCH(i_end - i_start)) / 3600.0, 2) AS longest_hours
FROM islands
"""


@register("events_interval_union_coverage", oracle=COVERAGE_ORACLE)
def events_interval_union_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge-overlapping-intervals in one user_id exchange: running
    MAX(interval end) over the preceding frame marks island starts,
    a running SUM numbers islands, one groupBy collapses them. The
    first island's frame is empty -> running max NULL -> `s > NULL`
    is NULL -> coalesced to 0 in BOTH engines (CASE..ELSE 0 in the
    oracle), so every user's first island is island 0. No self-join
    and no island loop: the interval-merge that SQL folklore does
    with quadratic NOT EXISTS runs here as two linear window passes
    over one sorted shuffle. The follow-up groupBy on (user_id,
    island) reuses the same hash partitioning on user_id, so AQE
    plans it shuffle-free."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    prec = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = iv.withColumn(
        "new_island",
        F.coalesce(
            (F.col("s") > F.max("e").over(prec)).cast("int"), F.lit(0)
        ),
    )
    islanded = marked.withColumn("island", F.sum("new_island").over(run))
    islands = islanded.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    dur_s = F.col("i_end").cast("double") - F.col("i_start").cast("double")
    return islands.agg(
        F.count("*").alias("n_islands"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(dur_s) / 3600.0, 2).alias("covered_hours"),
        F.round(F.max(dur_s) / 3600.0, 2).alias("longest_hours"),
    )


DAU_WAU_ORACLE = """
-- DAU / WAU / MAU: distinct active users per day, trailing-7-day,
-- and trailing-30-day — THE product engagement triple. Computed
-- from the (day, user) distinct grid: each active day contributes
-- membership to its own DAU day, 7 WAU days, and 30 MAU days; the
-- trailing windows are therefore bounded row EXPANSION (7x/30x of
-- the user-day grid, NOT of raw events) followed by one distinct
-- count per (metric, day). Only days present in the data appear.
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM du
), wau AS (
  SELECT dy.d, COUNT(DISTINCT du.user_id) AS wau
  FROM days dy JOIN du
    ON du.d BETWEEN dy.d - 6 AND dy.d
  GROUP BY dy.d
), mau AS (
  SELECT dy.d, COUNT(DISTINCT du.user_id) AS mau
  FROM days dy JOIN du
    ON du.d BETWEEN dy.d - 29 AND dy.d
  GROUP BY dy.d
), dau AS (
  SELECT d, COUNT(*) AS dau FROM du GROUP BY d
)
SELECT STRFTIME(dau.d, '%Y-%m-%d') AS day, dau.dau, w.wau, m.mau,
       ROUND(dau.dau * 1.0 / m.mau, 4) AS stickiness
FROM dau JOIN wau w USING (d) JOIN mau m USING (d)
ORDER BY day
"""


@register("events_dau_wau_mau", oracle=DAU_WAU_ORACLE)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct actives without a rolling-distinct window
    (which Spark cannot express) and without re-scanning the fact
    table per window length: reduce once to the DISTINCT (day, user)
    grid — the only fact-sized exchange — then EXPLODE each user-day
    into the trailing days it supports (1 for DAU, 7 for WAU, 30 for
    MAU: sequence + explode, bounded expansion of the already-small
    grid) and count distinct per day. At 100 TB the grid is
    |users|x|days| << |events|, so the 30x expansion is cheap where
    the naive per-day-re-aggregation (365 scans/year) or a
    sliding-window collect_set (unbounded state) are not. Stickiness
    = DAU/MAU, the ratio product teams steer by. Days are clamped to
    the observed day set to match the oracle's day spine."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()

    def trailing(n: int, name: str) -> DataFrame:
        contrib = du.select(
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.date_add(F.col("d"), n - 1),
                )
            ).alias("d_to"),
            "user_id",
        )
        return (
            contrib.join(F.broadcast(days), contrib["d_to"] == days["d"])
            .groupBy("d_to")
            .agg(F.countDistinct("user_id").alias(name))
        )

    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    wau = trailing(7, "wau")
    mau = trailing(30, "mau")
    return (
        dau.join(wau, dau["d"] == wau["d_to"])
        .drop("d_to")
        .join(mau, dau["d"] == mau["d_to"])
        .drop("d_to")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") * 1.0 / F.col("mau"), 4).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


WINSORIZE_ORACLE = """
-- Winsorized statistics: per event type, clip values at the exact
-- [p05, p95] percentiles and report raw vs winsorized mean — the
-- outlier-robust mean that analysts quote next to MAD
-- (timeseries_anomaly_mad) when heavy tails poison averages. The
-- percentile table is |types|-sized and broadcasts; clipping is a
-- map-side expression, so the second pass adds no shuffle beyond
-- the per-type aggregate.
WITH pct AS (
  SELECT event_type,
         QUANTILE_CONT(value, 0.05) AS p05,
         QUANTILE_CONT(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(AVG(e.value), 4) AS raw_mean,
       ROUND(AVG(LEAST(GREATEST(e.value, p.p05), p.p95)), 4)
         AS winsorized_mean,
       ROUND(p.p05, 4) AS p05,
       ROUND(p.p95, 4) AS p95,
       CAST(SUM(CASE WHEN e.value < p.p05 OR e.value > p.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM events e JOIN pct p USING (event_type)
GROUP BY e.event_type, p.p05, p.p95
ORDER BY e.event_type
"""


@register("agg_winsorized_mean", oracle=WINSORIZE_ORACLE)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping): exact per-type p05/p95
    via one grouped percentile pass, broadcast the |types|-row
    bounds back onto the scan, clip with LEAST/GREATEST in the map
    stage, aggregate. Same broadcast-stats discipline as the MAD op
    — the fact table shuffles only on event_type, twice (once per
    percentile pass, once for the final means); at 100 TB swap
    percentile() for approx_percentile and the plan shape is
    unchanged. Exact interpolated percentiles here because the
    oracle's QUANTILE_CONT is interpolated — both engines use the
    same linear-interpolation definition."""
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("value"), F.col("p05")), F.col("p95")
    )
    return (
        ev.join(F.broadcast(pct), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.round(F.avg("value"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.sum(
                (
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95"))
                ).cast("long")
            ).alias("n_clipped"),
        )
        .select(
            "event_type",
            "raw_mean",
            "winsorized_mean",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            F.col("n_clipped").cast("long").alias("n_clipped"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- session-gap histogram

SESSION_GAP_ORACLE = """
-- Log2-bucketed histogram of per-user inter-event gaps — the
-- empirical basis for choosing a session timeout (the 30-minute
-- constant every sessionizer hardcodes should come FROM this
-- distribution). Gaps are exact integer seconds (epoch diff);
-- bucket = FLOOR(LOG2(gap + 0.5)) — the +0.5 keeps the argument
-- strictly between powers of two (a half-integer can never equal
-- 2^k), so a 1-ulp libm difference between engines can never flip
-- the FLOOR: the bucket function is total and engine-stable on
-- integer gaps. Simultaneous events (gap 0) get bucket -1.
WITH gaps AS (
  SELECT (EPOCH_US(ts)
          - EPOCH_US(LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)))
         // 1000000 AS gap
  FROM events
), bucketed AS (
  SELECT CASE WHEN gap <= 0 THEN -1
              ELSE CAST(FLOOR(LOG2(gap + 0.5)) AS BIGINT) END AS bucket
  FROM gaps WHERE gap IS NOT NULL
)
SELECT bucket,
       CAST(POWER(2, GREATEST(bucket, 0)) AS BIGINT) AS gap_from_sec,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       FLOOR(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM bucketed)
             * 10000 + 0.5) / 10000 AS frac
FROM bucketed GROUP BY bucket
ORDER BY bucket
"""


@register("events_session_gap_histogram", oracle=SESSION_GAP_ORACLE)
def events_session_gap_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of per-user inter-event gaps in log2 buckets —
    the data that justifies (or indicts) the 30-minute session
    timeout used by events_sessionize/stream_session_window.

    Scale shape: ONE Exchange on user_id for the lag window (same
    partitioning every per-user operator shares), then a
    map-side-combined groupBy onto ~40 buckets. The bucket function
    FLOOR(LOG2(gap + 0.5)) is engine-stable on integer gaps (the
    half-integer argument can never sit on a power of two, so libm
    ulp differences cannot flip the floor — see oracle header)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag(F.col("ts")).over(w))
        ).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull()).select(
        F.expr("gap_us div 1000000").alias("gap")
    )
    bucketed = gaps.select(
        F.when(F.col("gap") <= 0, F.lit(-1))
        .otherwise(F.floor(F.log2(F.col("gap") + 0.5)))
        .cast("long")
        .alias("bucket")
    )
    wa = Window.partitionBy()
    return (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.greatest(F.col("bucket"), F.lit(0)))
            .cast("long")
            .alias("gap_from_sec"),
            F.col("n_gaps").cast("long"),
            snap(
                F.col("n_gaps") * 1.0 / F.sum("n_gaps").over(wa), 4
            ).alias("frac"),
        )
        .orderBy("bucket")
    )


# -------------------- wave 22: position-based (U-shaped) attribution

POSITION_ATTR_ORACLE = """
-- Position-based (U-shaped, 40/20/40) multi-touch attribution: each
-- user's FIRST purchase distributes credit over their strictly
-- earlier non-purchase touches — 40% to the first touch, 40% to the
-- last, the middle 20% split evenly (1 touch takes 100%, 2 take
-- 50/50). The multi-touch complement of the last-touch operator.
-- EXACT device: per-touch weights are snapped to 1e-9 integers (the
-- only rational with a data-dependent denominator is 0.2/(k-2),
-- snapped identically in both engines), so channel credit is an
-- order-free BIGINT sum. Users whose first purchase has no prior
-- touch credit 'unattributed'.
WITH conv AS (
  SELECT user_id, ts AS cts FROM (
    SELECT user_id, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
), touch AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e JOIN conv c ON c.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < c.cts
), pos AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS k
  FROM touch
), credit AS (
  SELECT event_type AS channel,
         CASE
           WHEN k = 1 THEN CAST(1000000000 AS BIGINT)
           WHEN k = 2 THEN CAST(500000000 AS BIGINT)
           WHEN p = 1 OR p = k THEN CAST(400000000 AS BIGINT)
           ELSE CAST(FLOOR(200000000.0 / (k - 2) + 0.5) AS BIGINT)
         END AS c9
  FROM pos
  UNION ALL
  SELECT 'unattributed', CAST(1000000000 AS BIGINT)
  FROM conv c
  WHERE NOT EXISTS (SELECT 1 FROM touch t WHERE t.user_id = c.user_id)
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       FLOOR(SUM(c9) / 1000000000.0 * 10000 + 0.5) / 10000
         AS attributed_conversions
FROM credit
GROUP BY channel
ORDER BY channel
"""


@register("events_attribution_position_based", oracle=POSITION_ATTR_ORACLE)
def events_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped 40/20/40 multi-touch attribution (see oracle).

    Scale shape: conversions and touch positions each take ONE
    window over the user key (same Exchange, AQE-reused); credit is
    map-side arithmetic and the channel rollup is a 5-row aggregate.
    The 1e-9 integer credit grid keeps every accumulation order-free
    — no float-sum-order exposure no matter how many touches a user
    has."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("cts"))
    )
    touch = (
        ev.filter(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("cts"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    wk = Window.partitionBy("user_id")
    pos = touch.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("p"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    c9 = (
        F.when(F.col("k") == 1, F.lit(1000000000))
        .when(F.col("k") == 2, F.lit(500000000))
        .when(
            (F.col("p") == 1) | (F.col("p") == F.col("k")),
            F.lit(400000000),
        )
        .otherwise(fixed(200000000.0 / (F.col("k") - 2), 0))
        .cast("long")
    )
    credited = pos.select(F.col("event_type").alias("channel"), c9.alias("c9"))
    unattributed = (
        conv.join(touch.select("user_id").distinct(), "user_id", "left_anti")
        .select(
            F.lit("unattributed").alias("channel"),
            F.lit(1000000000).cast("long").alias("c9"),
        )
    )
    return (
        credited.unionByName(unattributed)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            snap(F.sum("c9") / 1000000000.0, 4).alias("attributed_conversions"),
        )
        .orderBy("channel")
    )
