"""Behavioral analytics over the events stream: time-bound funnel
conversion and daily retention cohorts — the two workhorse product
queries every event warehouse serves (and the reference's BigQuery
tier would be asked for first).

Both are built on the same scale discipline as the rest of §2.5: the
fact table aggregates with map-side partials; everything user- or
cohort-sized (first-touch tables, cohort sizes) broadcasts back onto
the fact scan instead of shuffling it again.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.plans.registry import register

FUNNEL_ORACLE = """
-- Time-bound funnel (view -> click within 1h -> purchase within 1h):
-- each step anchors on the user's FIRST qualifying event after the
-- previous step's anchor, the standard product-analytics semantics
-- (unordered co-occurrence would overcount; unbounded ordering makes
-- every dense user convert).
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase,
       ROUND((SELECT COUNT(*) FROM c) * 1.0 /
             (SELECT COUNT(*) FROM v), 4) AS click_rate,
       ROUND((SELECT COUNT(*) FROM p) * 1.0 /
             NULLIF((SELECT COUNT(*) FROM c), 0), 4) AS purchase_rate
"""


@register("funnel_view_click_purchase", oracle=FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step funnel with 1-hour step windows. Each stage is one
    aggregation over the events scan plus a BROADCAST of the previous
    stage's user-sized anchor table — the fact table is never
    shuffled on user_id, and the per-stage anchor tables are bounded
    by |users| regardless of event volume. (The single-pass
    window-function formulation needs events sorted per user —
    a full fact shuffle + sort; three filtered aggs with broadcast
    anchors beat it whenever |users| << |events|, which is what 100 TB
    of events looks like.)"""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_view"), 4).alias("click_rate"),
            F.round(
                F.col("n_purchase") / F.nullif(F.col("n_click"), F.lit(0)), 4
            ).alias("purchase_rate"),
        )
    )


RETENTION_ORACLE = """
-- Daily retention cohorts: users grouped by first-activity day, each
-- later active day counted at its day offset; retention = active
-- users / cohort size. Dates emitted as formatted strings (engine
-- date dtypes round-trip differently through pandas).
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), first AS (
  SELECT user_id, MIN(d) AS cohort_day FROM act GROUP BY user_id
), sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_size FROM first GROUP BY cohort_day
), ret AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.d) AS day_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM act a JOIN first f USING (user_id)
  GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.d)
)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(r.day_offset AS BIGINT) AS day_offset,
       CAST(r.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(r.n_active * 1.0 / s.cohort_size, 4) AS retention
FROM ret r JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


@register("retention_daily_cohorts", oracle=RETENTION_ORACLE)
def retention_daily_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: one distinct-(user, day) pass over
    the fact table (the only corpus-sized shuffle), then the
    user-sized first-touch table broadcasts back, and the final
    aggregate runs on |users|×|active days| rows. Cohort sizes are
    |cohorts| rows — broadcast again. At 100 TB the (user, day)
    distinct is the entire cost and it's exactly one Exchange."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        act.join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("d", "cohort_day").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return (
        ret.join(F.broadcast(sizes), "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("long").alias("day_offset"),
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
    )


PATH_TRIGRAMS_ORACLE = """
-- Top event-type trigram paths: per user, events ordered by (ts,
-- event_id) form a behavior sequence; every window of 3 consecutive
-- events is a path. The canonical sequence-mining primitive behind
-- "what do users do before churning/purchasing". LEAD x2 keeps it
-- pure window math in both engines; top-10 with a full deterministic
-- tie-break (count desc, then path asc).
WITH seq AS (
  SELECT user_id, event_type AS s1,
         LEAD(event_type, 1) OVER w AS s2,
         LEAD(event_type, 2) OVER w AS s3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE s3 IS NOT NULL
GROUP BY s1, s2, s3
ORDER BY n_paths DESC, s1, s2, s3
LIMIT 10
"""


@register("events_path_trigrams", oracle=PATH_TRIGRAMS_ORACLE)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behavior paths (event-type trigrams) across all
    users. Scale shape: ONE shuffle on user_id for the ordered
    window (LEAD is frame-free running state, no buffering beyond 2
    rows), then a partial-aggregated groupBy on the |event_types|³
    path space — tiny key domain, so the second Exchange moves
    almost nothing. TakeOrdered handles the top-10 without a global
    sort. The same plan at 100 TB: the user_id window is the only
    fact-sized Exchange, identical to any sessionization pass."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    return (
        seq.filter(F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "s1", "s2", "s3")
        .limit(10)
    )


STREAKS_ORACLE = """
-- Longest consecutive-day activity streak per user (gaps-and-islands
-- via the date-minus-row_number trick: consecutive days share the
-- same anchor date). The engagement metric behind "7-day streak"
-- product features; pure window + groupBy math in both engines.
-- Top-20 users, deterministic tie-break (streak desc, user asc).
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE event_type = 'purchase'
), isl AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM days
), runs AS (
  SELECT user_id, grp, COUNT(*) AS run_len
  FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(SUM(run_len) AS BIGINT) AS active_days
FROM runs
GROUP BY user_id
ORDER BY longest_streak DESC, user_id
LIMIT 20
"""


@register("events_purchase_streaks", oracle=STREAKS_ORACLE)
def events_purchase_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day purchase streak per user —
    gaps-and-islands: distinct active days, anchor = day minus
    row_number (consecutive days collapse to one anchor), run
    lengths per (user, anchor), max per user. Scale shape: the
    distinct and the window share the user_id partitioning (one
    Exchange reused), islands aggregate map-side, and only
    user-sized rows reach the final top-20 TakeOrdered. No self-join
    — the naive day-to-next-day join would be a fact-sized range
    join for the same answer."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    days = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub("d", F.row_number().over(w))
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("run_len").alias("longest_streak"),
            F.sum("run_len").alias("active_days"),
        )
        .orderBy(F.desc("longest_streak"), "user_id")
        .limit(20)
    )


RFM_ORACLE = """
-- RFM segmentation: per-user Recency (days since last purchase,
-- against the global max event day as "today"), Frequency (purchase
-- count), Monetary (total value), then quartile codes via NTILE —
-- the classic warehouse segmentation. NTILE over deterministic
-- tie-broken orderings so both engines assign identical quartiles.
WITH p AS (
  SELECT user_id,
         MAX(CAST(ts AS DATE)) AS last_day,
         COUNT(*) AS freq,
         ROUND(SUM(value), 2) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), today AS (
  SELECT MAX(CAST(ts AS DATE)) AS d FROM events
), rfm AS (
  SELECT user_id,
         (SELECT d FROM today) - last_day AS recency_days,
         freq, monetary,
         NTILE(4) OVER (ORDER BY last_day DESC, user_id) AS r_q,
         NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
         NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM p
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS users,
       CAST(SUM(freq) AS BIGINT) AS purchases,
       ROUND(SUM(monetary), 2) AS total_value
FROM rfm
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@register("events_rfm_segmentation", oracle=RFM_ORACLE)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation. Scale shape: ONE partial-aggregated
    Exchange reduces the fact table to user grain; the three NTILE
    windows then run on the user-sized table — at 100 TB that table
    is ~millions of rows, fine for a global sort, and the quartile
    boundaries could equally come from approx_percentile to avoid
    it. The segment rollup at the end is a 64-key groupBy. The
    global "today" is a broadcast scalar, not a per-row subquery."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    today = events.agg(F.max(F.to_date("ts")).alias("d"))
    rfm = (
        p.crossJoin(F.broadcast(today))
        .withColumn("recency_days", F.datediff("d", "last_day"))
        .withColumn(
            "r_q",
            F.ntile(4).over(
                Window.orderBy(F.desc("last_day"), F.asc("user_id"))
            ),
        )
        .withColumn(
            "f_q",
            F.ntile(4).over(
                Window.orderBy(F.desc("freq"), F.asc("user_id"))
            ),
        )
        .withColumn(
            "m_q",
            F.ntile(4).over(
                Window.orderBy(F.desc("monetary"), F.asc("user_id"))
            ),
        )
    )
    return (
        rfm.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.sum("freq").alias("purchases"),
            F.round(F.sum("monetary"), 2).alias("total_value"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


COHORT_LTV_ORACLE = """
-- Cohort lifetime-value curve: users cohort by first-seen WEEK, and
-- each cohort accumulates purchase revenue by week-age (weeks since
-- cohort start). The cumulative-revenue-per-cohort-user curve is how
-- growth teams read payback: cohort rows are (cohort_week, age) with
-- cum_ltv_per_user monotone in age. Week grain (not day) keeps the
-- output cohort²-ish instead of day²-ish.
WITH first_touch AS (
  SELECT user_id,
         DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), cohort_size AS (
  SELECT cohort_week, COUNT(*) AS n_users
  FROM first_touch GROUP BY cohort_week
), rev AS (
  SELECT f.cohort_week,
         -- DuckDB DATE_TRUNC('week', ts) yields DATE, so the
         -- difference is integer DAYS (not an interval)
         CAST(FLOOR((DATE_TRUNC('week', e.ts) - f.cohort_week)
                    / 7.0) AS BIGINT) AS age_weeks,
         SUM(e.value) AS wk_revenue
  FROM events e JOIN first_touch f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), curve AS (
  SELECT cohort_week, age_weeks,
         SUM(wk_revenue) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_revenue
  FROM rev
)
SELECT STRFTIME(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       c.age_weeks,
       ROUND(c.cum_revenue, 2) AS cum_revenue,
       s.n_users,
       ROUND(c.cum_revenue / s.n_users, 4) AS cum_ltv_per_user
FROM curve c JOIN cohort_size s USING (cohort_week)
ORDER BY cohort_week, age_weeks
"""


@register("events_cohort_ltv", oracle=COHORT_LTV_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: first-touch table (one user-grain agg),
    broadcast back onto the purchase-filtered scan, aggregate to
    (cohort_week, age_weeks) — already tiny — then the cumulative
    window runs on the weeks²-sized curve, not the fact table. Same
    broadcast-anchors discipline as the funnel/retention ops: the
    events table is never shuffled on user_id for the revenue pass,
    and the only fact-sized exchange is the user-grain first-touch
    aggregate. Week age is (truncated-week delta / 7 days) on both
    sides — Spark in epoch seconds, DuckDB in DATE-difference days —
    and both engines truncate weeks to Monday, so ages align."""
    ev = load_table(spark, sf_dir, "events")
    first_touch = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    cohort_size = first_touch.groupBy("cohort_week").agg(
        F.count("*").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_touch), "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                (
                    F.date_trunc("week", F.col("ts"))
                    .cast("timestamp")
                    .cast("long")
                    - F.col("cohort_week").cast("timestamp").cast("long")
                )
                / 604800
            )
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(F.sum("value").alias("wk_revenue"))
    )
    from pyspark.sql.window import Window

    cum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = rev.withColumn(
        "cum_revenue", F.sum("wk_revenue").over(cum)
    )
    return (
        curve.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "age_weeks",
            F.round("cum_revenue", 2).alias("cum_revenue"),
            "n_users",
            F.round(F.col("cum_revenue") / F.col("n_users"), 4).alias(
                "cum_ltv_per_user"
            ),
        )
        .orderBy("cohort_week", "age_weeks")
    )


PATTERN_MATCH_ORACLE = """
-- MATCH_RECOGNIZE-lite sequence-pattern matching: per user, the
-- ordered event-type sequence is serialized to a symbol string and
-- scanned with a regex — here the conversion pattern
-- view (anything-but-purchase)* purchase, non-overlapping count, and
-- the bounce pattern view followed immediately by another view.
-- Deterministic serialization: one char per event type, ordered by
-- (ts, event_id).
WITH syms AS (
  SELECT user_id,
         string_agg(CASE event_type WHEN 'view' THEN 'v'
                                    WHEN 'click' THEN 'c'
                                    WHEN 'purchase' THEN 'p'
                                    WHEN 'signup' THEN 's'
                                    ELSE 'e' END,
                    '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS BIGINT)                         AS n_events,
       CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT)
         AS n_conversions,
       CAST(len(regexp_extract_all(seq, 'vv')) AS BIGINT)  AS n_bounces,
       len(regexp_extract_all(seq, 'v[^p]*p')) > 0         AS converted
FROM syms ORDER BY user_id
"""


@register("events_pattern_match_regex", oracle=PATTERN_MATCH_ORACLE)
def events_pattern_match_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams (the
    MATCH_RECOGNIZE workload, expressed portably): serialize each
    user's ordered event types to a one-char-per-event symbol string
    (array_sort over (ts, event_id, sym) structs -> join), then count
    non-overlapping regex matches — conversions (view ... purchase
    with no intervening purchase) and immediate view-view bounces.

    Scale shape: ONE user_id Exchange; the regex scan is per-user
    map-side JVM work on a string of |user events| chars. Unlike a
    self-join formulation (events x events on user), cost is linear
    in stream length — the sequence never leaves its group."""
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seqs = (
        ev.select(
            "user_id", F.struct("ts", "event_id", sym.alias("sym")).alias("s")
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["sym"]
                ),
                "",
            ).alias("seq")
        )
    )
    conv = F.size(F.expr("regexp_extract_all(seq, 'v[^p]*p', 0)"))
    bounce = F.size(F.expr("regexp_extract_all(seq, 'vv', 0)"))
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        conv.cast("long").alias("n_conversions"),
        bounce.cast("long").alias("n_bounces"),
        (conv > 0).alias("converted"),
    )


FUNNEL_LATENCY_ORACLE = """
-- Time-to-convert percentiles: for each user's FIRST view -> FIRST
-- subsequent purchase, the conversion latency distribution in
-- minutes — the product-metric companion to the windowed funnel.
-- Exact discrete percentiles (order statistics — engine-identical);
-- integer minutes via explicit FLOOR(epoch/60) — duckdb's // does
-- NOT floor DOUBLE operands (epoch() returns fractional seconds).
WITH first_view AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), first_purchase AS (
  SELECT f.user_id, MIN(e.ts) AS p_ts
  FROM first_view f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND e.ts > f.v_ts
  GROUP BY f.user_id
), lat AS (
  SELECT FLOOR(epoch(p.p_ts) / 60) - FLOOR(epoch(f.v_ts) / 60) AS mins
  FROM first_view f JOIN first_purchase p USING (user_id)
)
SELECT CAST(COUNT(*) AS BIGINT)                        AS n_converted,
       CAST(quantile_disc(mins, 0.50) AS BIGINT)       AS p50_minutes,
       CAST(quantile_disc(mins, 0.90) AS BIGINT)       AS p90_minutes,
       CAST(quantile_disc(mins, 0.99) AS BIGINT)       AS p99_minutes,
       CAST(MAX(mins) AS BIGINT)                       AS max_minutes
FROM lat
"""


@register("funnel_conversion_latency", oracle=FUNNEL_LATENCY_ORACLE)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles (first view -> first later
    purchase per user): two filtered per-user MIN aggregates (one
    user_id Exchange each, map-side combined), a user-sized join,
    then exact discrete percentiles over the |converted users|-sized
    latency column. Integer-minute latencies via epoch-second floor
    division keep the order statistics engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    fp = (
        fv.join(
            ev.filter(F.col("event_type") == "purchase"),
            "user_id",
        )
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = fv.join(fp, "user_id").select(
        (
            F.floor(F.unix_timestamp("p_ts") / 60)
            - F.floor(F.unix_timestamp("v_ts") / 60)
        ).alias("mins")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY mins)")
        .cast("long")
        .alias("p50_minutes"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY mins)")
        .cast("long")
        .alias("p90_minutes"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY mins)")
        .cast("long")
        .alias("p99_minutes"),
        F.max("mins").cast("long").alias("max_minutes"),
    )


# ------------------------------------------------- survival curve

SURVIVAL_ORACLE = """
-- User-lifetime survival curve S(t) = fraction of users whose
-- observed lifetime (days between first and last event) is >= t,
-- for t = 0..14 — the retention complement of
-- retention_daily_cohorts: cohorts ask "did they come back on day
-- t", survival asks "how long do they last at all". Exact integer
-- counting; fractions under the floor device.
WITH lifetimes AS (
  SELECT user_id,
         DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS lt
  FROM events GROUP BY user_id
), spine AS (
  SELECT UNNEST(GENERATE_SERIES(0, 14)) AS t
)
SELECT t,
       CAST(SUM(CASE WHEN lt >= t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving,
       FLOOR(SUM(CASE WHEN lt >= t THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             * 10000 + 0.5) / 10000 AS survival_frac
FROM spine CROSS JOIN lifetimes
GROUP BY t ORDER BY t
"""


@register("events_survival_curve", oracle=SURVIVAL_ORACLE)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S(t) for user lifetimes at t = 0..14 days — how long users
    last, the decay curve product teams read next to the cohort
    retention grid.

    Scale shape: one map-side-combined groupBy to |users| lifetimes
    (the only fact-sized pass), then a broadcast 15-row spine join
    and a rollup to 15 rows. The cross join is |users|×15 of 8-byte
    ints — bounded expansion of the already-reduced grid, the
    events_dau_wau_mau doctrine."""
    ev = load_table(spark, sf_dir, "events")
    lifetimes = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        ).alias("lt")
    )
    spine = spark.range(0, 15).select(F.col("id").cast("int").alias("t"))
    surv = (F.col("lt") >= F.col("t")).cast("long")
    return (
        lifetimes.crossJoin(F.broadcast(spine))
        .groupBy("t")
        .agg(
            F.sum(surv).cast("long").alias("n_surviving"),
            snap(F.sum(surv) * 1.0 / F.count(F.lit(1)), 4).alias(
                "survival_frac"
            ),
        )
        .orderBy("t")
    )


# ------------------------------- wave 22: weekly churn rate

CHURN_ORACLE = """
-- Weekly churn: of the users active in week w, what share have NO
-- activity in week w+1? The retention-triangle summary a growth
-- dashboard actually plots (retention_daily_cohorts keeps the full
-- cohort matrix; this is the week-grain roll-off). The last week
-- has no successor and is excluded. Exact integer counts; one
-- division under the snap.
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
  FROM events
), nxt AS (
  SELECT a.wk,
         COUNT(*) AS active,
         SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS churned
  FROM uw a
  LEFT JOIN uw b
    ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
  GROUP BY a.wk
)
SELECT STRFTIME(wk, '%Y-%m-%d') AS week_start,
       CAST(active AS BIGINT) AS active_users,
       CAST(churned AS BIGINT) AS churned_users,
       FLOOR(churned * 1.0 / active * 1000000 + 0.5) / 1000000
         AS churn_rate
FROM nxt
WHERE wk < (SELECT MAX(wk) FROM uw)
ORDER BY week_start
"""


@register("events_churn_rate_weekly", oracle=CHURN_ORACLE)
def events_churn_rate_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active-user churn (see oracle). Scale shape: facts
    collapse to the distinct (user, week) table map-side; the
    successor probe is a self-join co-partitioned on user_id (the
    week shift rides along); week totals are a |weeks|-row rollup."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    nxt = uw.select(
        "user_id", (F.col("wk") - F.expr("INTERVAL 7 DAY")).alias("wk")
    ).withColumn("seen_next", F.lit(1))
    per_week = (
        uw.join(nxt, ["user_id", "wk"], "left")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("active"),
            F.sum(
                F.when(F.col("seen_next").isNull(), 1).otherwise(0)
            ).alias("churned"),
        )
    )
    last_wk = uw.agg(F.max("wk").alias("mx"))
    return (
        per_week.crossJoin(F.broadcast(last_wk))
        .filter(F.col("wk") < F.col("mx"))
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            F.col("active").cast("long").alias("active_users"),
            F.col("churned").cast("long").alias("churned_users"),
            snap(F.col("churned") * 1.0 / F.col("active"), 6).alias("churn_rate"),
        )
        .orderBy("week_start")
    )


# -------------------- wave 24: exponential fit of inter-event gaps

EXP_GAP_FIT_ORACLE = """
-- Are inter-purchase gaps memoryless? Fit an exponential by MLE
-- (lambda = n / sum(gaps)) to per-user purchase inter-arrival times
-- and measure the KS distance between the empirical CDF and the
-- fitted one — the Poisson-process health check behind rate-anomaly
-- alerting (agg_poisson_rate_anomaly assumes exactly this; a big KS
-- here says its alerts are mis-calibrated). EXACT device: gaps are
-- exact integer seconds; the empirical CDF runs on the DISTINCT-gap
-- domain with exact cumulative counts (the Kruskal cum-count
-- device), so D+ = max(cum/n - F(g)) and D- = max(F(g) - prev/n)
-- are maxima of per-row 1e-9-snapped values — order-free; exp()
-- ulps sit behind the snap (accepted ln/exp boundary posture).
WITH p AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), g AS (
  SELECT date_diff('second',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts),
                   ts) AS gap
  FROM p
), gg AS (
  SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(gap) AS BIGINT) AS s FROM gg
), dom AS (
  SELECT gap, COUNT(*) AS c FROM gg GROUP BY gap
), cum AS (
  SELECT gap, c,
         SUM(c) OVER (ORDER BY gap) AS cum
  FROM dom
), ks AS (
  SELECT
    MAX(CAST(FLOOR((cum * 1.0 / n
                    - (1 - exp(-(n * 1.0 / s) * gap)))
                   * 1000000000 + 0.5) AS BIGINT)) AS dplus9,
    MAX(CAST(FLOOR(((1 - exp(-(n * 1.0 / s) * gap))
                    - (cum - c) * 1.0 / n)
                   * 1000000000 + 0.5) AS BIGINT)) AS dminus9
  FROM cum, tot
)
SELECT CAST(n AS BIGINT) AS n_gaps,
       FLOOR(n * 3600.0 / s * 1000000 + 0.5) / 1000000
         AS lambda_per_hour,
       FLOOR(GREATEST(dplus9, dminus9) / 1000000000.0 * 1000000 + 0.5)
         / 1000000 AS ks_stat
FROM ks, tot
"""


@register("events_exp_gap_fit", oracle=EXP_GAP_FIT_ORACLE)
def events_exp_gap_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential MLE + KS goodness-of-fit on per-user purchase
    inter-arrival seconds (see oracle) — the memorylessness check
    under the Poisson-rate alerting family.

    Scale shape: one fact pass -> per-user LAG (user-partitioned
    window, co-partitioned with the event layout); gaps collapse to
    the DISTINCT-second domain with exact cumulative counts, so the
    KS sweep is domain-sized, never fact-sized; both KS branches are
    maxima of snapped integers (order-free), and lambda comes from
    two exact integer sums."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    wu = Window.partitionBy("user_id").orderBy("ts")
    g = p.select(
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wu))
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    dom = g.groupBy("gap").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("gap").rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    cum = dom.select(
        "gap",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum(F.col("gap") * F.col("c")).over(w_all).cast("long").alias("s"),
    )
    n, s, gap, c, cumc = (
        F.col("n"),
        F.col("s"),
        F.col("gap"),
        F.col("c"),
        F.col("cum"),
    )
    fexp = 1 - F.exp(-(n * 1.0 / s) * gap)
    # global aggregation, NOT groupBy(n, s): (n, s) are window
    # constants so the group count is 1 on any populated input
    # (identical values), but the grouped form emits ZERO rows on an
    # empty corpus where the oracle's aggregate emits its n_gaps = 0
    # summary row (empty-corpus sweep, round 14)
    ks = cum.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max(fixed(cumc * 1.0 / n - fexp, 9)).alias("dplus9"),
        F.max(fixed(fexp - (cumc - c) * 1.0 / n, 9)).alias("dminus9"),
    )
    return ks.select(
        F.coalesce(n.cast("long"), F.lit(0)).alias("n_gaps"),
        snap(n * 3600.0 / s, 6).alias("lambda_per_hour"),
        snap(
            F.greatest(F.col("dplus9"), F.col("dminus9"))
            / 1000000000.0,
            6,
        ).alias("ks_stat"),
    )


# ---------------------- wave 26: exponentially decayed engagement

DECAYED_ENGAGEMENT_ORACLE = """
-- Time-decayed engagement score per user with a 7-day half-life:
-- score = sum over the user's events of 0.5^(age_days/7), age
-- measured from the corpus max timestamp — the recency-weighted
-- activity ranking behind churn/win-back targeting (a plain count
-- ranks a user who left last year above one active yesterday).
-- Top-20 by (score desc, user_id). EXACT device: each decay term
-- snaps to a 1e-9 integer so per-user sums are order-free BIGINT
-- sums; exp2 ulps sit behind the snap (accepted boundary posture).
WITH mx AS (
  SELECT MAX(ts) AS t FROM events
), term AS (
  SELECT user_id,
         CAST(FLOOR(POWER(0.5, date_diff('second', e.ts, mx.t)
                               / 86400.0 / 7.0)
                    * 1000000000 + 0.5) AS BIGINT) AS d9
  FROM events e, mx
), agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(d9) AS BIGINT) AS s9
  FROM term GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events,
       FLOOR(s9 / 1000000000.0 * 1000000 + 0.5) / 1000000
         AS engagement_score
FROM agg
ORDER BY s9 DESC, user_id
LIMIT 20
"""


@register("events_decayed_engagement", oracle=DECAYED_ENGAGEMENT_ORACLE)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score per user, top-20 (see
    oracle) — the recency-weighted ranking plain counts can't give.

    Scale shape: one fact pass; the corpus max-ts is a 1-row
    broadcast; each event's decay term snaps map-side to a 1e-9
    integer so the per-user reduction is an order-free BIGINT sum
    (map-side combined); ranking is TakeOrdered on the EXACT integer
    s9 (ties broken by user_id), so the top-20 cut is
    order-stable in both engines."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    mx = ev.agg(F.max("ts").alias("t"))
    age_days = (
        F.unix_timestamp("t") - F.unix_timestamp("ts")
    ) / 86400.0
    d9 = fixed(F.pow(F.lit(0.5), age_days / 7.0), 9)
    agg = (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", d9.alias("d9"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("d9").cast("long").alias("s9"),
        )
    )
    return (
        agg.orderBy(F.desc("s9"), "user_id")
        .limit(20)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            snap(F.col("s9") / 1000000000.0, 6).alias("engagement_score"),
        )
    )


# --------------------------- wave 27: session bounce-rate rollup

BOUNCE_RATE_ORACLE = """
-- Per-source... no: per event-type-of-entry bounce rate over
-- 30-minute-gap sessions: a session that contains exactly ONE event
-- is a bounce; rate grouped by the session's ENTRY event type — the
-- engagement-quality rollup on top of the sessionizer
-- (window_sessionize_gaps emits sessions; this scores them). Same
-- gaps-and-islands device, exact integer accounting.
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sid AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
), per AS (
  SELECT user_id, session_id,
         FIRST(event_type ORDER BY ts, event_id) AS entry_type,
         COUNT(*) AS n_events
  FROM sid GROUP BY user_id, session_id
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS bounce_rate
FROM per GROUP BY entry_type ORDER BY entry_type
"""


@register("events_bounce_rate_by_entry", oracle=BOUNCE_RATE_ORACLE)
def events_bounce_rate_by_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate (single-event sessions) grouped by the session's
    entry event type (see oracle) — the quality rollup over the
    30-minute-gap sessionizer.

    Scale shape: one user-partitioned window pass (LAG + running
    sum — co-partitioned, the sessionizer's audited shape), one
    (user, session) aggregation with MIN_BY for the entry event,
    one entry-type rollup. Sub-second timestamps compared at full
    double precision (the sessionizer's round-4 lesson)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(wu)
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            prev_ts.isNull()
            | (F.col("ts").cast("double") - prev_ts.cast("double") > 1800),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # Both windows order by (ts, event_id) so duplicate-timestamp rows
    # get a deterministic session assignment (same rule as
    # window_sessionize_gaps); entry pick is struct-keyed to match.
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sid = s.withColumn("session_id", F.sum("new_s").over(wsum))
    per = sid.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias(
            "entry_type"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(bounce).cast("long").alias("n_bounces"),
            F.round(F.sum(bounce) * 1.0 / F.count(F.lit(1)), 4).alias(
                "bounce_rate"
            ),
        )
        .orderBy("entry_type")
    )


# ------------------- wave 33: post-stratified lift (activity terciles)

POST_STRATIFIED_ORACLE = """
-- Post-stratified A/B lift on user conversion (even/odd cohorts,
-- converted = any purchase), stratified by activity terciles: the
-- variance-reduction step the plain z-test operator skips — when
-- activity correlates with conversion, stratifying on it shrinks
-- the SE without changing the estimand. EXACT device: per-user
-- rows collapse to (stratum, cohort) cells; tercile cutoffs are
-- exact PERCENTILE_DISC order statistics on event counts; the
-- naive and stratified lifts, the per-stratum weights, and the
-- stratified SE are per-stratum rationals snapped to 1e-12
-- integers (order-free sums over the 3-stratum domain), then one
-- fixed chain.
WITH per_user AS (
  SELECT user_id, user_id % 2 AS g, COUNT(*) AS n_ev,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), cuts AS (
  SELECT PERCENTILE_DISC(0.3333333333333333)
           WITHIN GROUP (ORDER BY n_ev) AS q1,
         PERCENTILE_DISC(0.6666666666666666)
           WITHIN GROUP (ORDER BY n_ev) AS q2
  FROM per_user
), strat AS (
  SELECT g, conv,
         CASE WHEN n_ev <= q1 THEN 0
              WHEN n_ev <= q2 THEN 1 ELSE 2 END AS s
  FROM per_user, cuts
), cells AS (
  SELECT s,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN g = 0 THEN conv ELSE 0 END) AS BIGINT) AS x0,
         CAST(SUM(1) AS BIGINT) AS ns,
         CAST(SUM(SUM(1)) OVER () AS BIGINT) AS nn
  FROM strat GROUP BY s
), terms AS (
  SELECT n1, x1, n0, x0, ns, nn,
         CAST(FLOOR(ns * 1.0 / nn * (x1 * 1.0 / n1 - x0 * 1.0 / n0)
                    * 1000000000000 + 0.5) AS BIGINT) AS lift12,
         CAST(FLOOR((ns * 1.0 / nn) * (ns * 1.0 / nn)
                    * ((x1 * 1.0 / n1) * (1 - x1 * 1.0 / n1) / n1
                       + (x0 * 1.0 / n0) * (1 - x0 * 1.0 / n0) / n0)
                    * 1000000000000 + 0.5) AS BIGINT) AS var12
  FROM cells
), s AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS tn1, CAST(SUM(x1) AS BIGINT) AS tx1,
         CAST(SUM(n0) AS BIGINT) AS tn0, CAST(SUM(x0) AS BIGINT) AS tx0,
         CAST(SUM(lift12) AS BIGINT) AS l12, CAST(SUM(var12) AS BIGINT) AS v12
  FROM terms
)
SELECT CAST(tn1 + tn0 AS BIGINT) AS n_users,
       FLOOR((tx1 * 1.0 / tn1 - tx0 * 1.0 / tn0) * 1000000 + 0.5)
         / 1000000 AS naive_lift,
       FLOOR(l12 / 1000000000000.0 * 1000000 + 0.5) / 1000000
         AS stratified_lift,
       FLOOR(SQRT(v12 / 1000000000000.0) * 1000000 + 0.5) / 1000000
         AS stratified_se,
       FLOOR(l12 / 1000000000000.0 / SQRT(v12 / 1000000000000.0)
             * 10000 + 0.5) / 10000 AS z_score
FROM s
"""


@register("events_post_stratified_lift", oracle=POST_STRATIFIED_ORACLE)
def events_post_stratified_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-stratified conversion lift between the even/odd cohorts
    with activity-tercile strata (see oracle).

    Scale shape: ONE fact pass to per-user rows; the tercile cutoffs
    are two exact order statistics; the (stratum, cohort) cells and
    every later step are 3-row domain work. Per-stratum lift and
    variance terms snap to 1e-12 integers so the domain sums are
    order-free."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("g"),
        F.count(F.lit(1)).alias("n_ev"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cuts = per_user.agg(
        F.expr(
            "percentile_disc(0.3333333333333333) WITHIN GROUP (ORDER BY n_ev)"
        ).alias("q1"),
        F.expr(
            "percentile_disc(0.6666666666666666) WITHIN GROUP (ORDER BY n_ev)"
        ).alias("q2"),
    )
    strat = per_user.crossJoin(F.broadcast(cuts)).select(
        "g",
        "conv",
        F.when(F.col("n_ev") <= F.col("q1"), 0)
        .when(F.col("n_ev") <= F.col("q2"), 1)
        .otherwise(2)
        .alias("s"),
    )
    cells = strat.groupBy("s").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("g") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x0"),
        F.count(F.lit(1)).cast("long").alias("ns"),
    )
    cells = cells.withColumn(
        "nn", F.sum("ns").over(Window.partitionBy())
    )
    p1 = F.col("x1") * 1.0 / F.col("n1")
    p0 = F.col("x0") * 1.0 / F.col("n0")
    w = F.col("ns") * 1.0 / F.col("nn")
    lift12 = fixed(w * (p1 - p0), 12)
    var12 = fixed(
        w * w * (p1 * (1 - p1) / F.col("n1") + p0 * (1 - p0) / F.col("n0")),
        12,
    )
    s = cells.select(
        "n1", "x1", "n0", "x0",
        lift12.alias("lift12"),
        var12.alias("var12"),
    ).agg(
        F.sum("n1").cast("long").alias("tn1"),
        F.sum("x1").cast("long").alias("tx1"),
        F.sum("n0").cast("long").alias("tn0"),
        F.sum("x0").cast("long").alias("tx0"),
        F.sum("lift12").cast("long").alias("l12"),
        F.sum("var12").cast("long").alias("v12"),
    )
    tn1, tx1, tn0, tx0 = (
        F.col(c) for c in ["tn1", "tx1", "tn0", "tx0"]
    )
    sl = F.col("l12") / 1000000000000.0
    sv = F.col("v12") / 1000000000000.0
    return s.select(
        (tn1 + tn0).alias("n_users"),
        snap(tx1 * 1.0 / tn1 - tx0 * 1.0 / tn0, 6).alias("naive_lift"),
        snap(sl, 6).alias("stratified_lift"),
        snap(F.sqrt(sv), 6).alias("stratified_se"),
        snap(sl / F.sqrt(sv), 4).alias("z_score"),
    )


# ----------------------- wave 35: CUPED covariate-adjusted lift

CUPED_ORACLE = """
-- CUPED variance-reduced A/B lift: adjust each user's experiment
-- outcome (purchases in days 16-30) by their PRE-period activity
-- (events in days 1-15) via Y_adj = Y - theta * (X - mean(X)),
-- theta = cov(X, Y) / var(X) — the continuous-covariate companion
-- of the post-stratified operator (strata bucket a covariate;
-- CUPED regresses it out, the standard trick that cuts experiment
-- runtimes when pre-period behavior predicts the metric). EXACT
-- device: per-user (X, Y) are exact integer counts; ALL moments —
-- global and per-cohort — come from ONE reduction; theta, the
-- adjusted lift identity lift_adj = (Y1-Y0) - theta*(X1-X0), and
-- the variance-reduction readout are a 1-row fixed chain.
WITH per_user AS (
  SELECT user_id, user_id % 2 AS g,
         CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN day(ts) >= 16 AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
  FROM per_user
), f AS (
  SELECT n, n1, n0,
         (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS theta,
         sy1 * 1.0 / n1 - sy0 * 1.0 / n0 AS naive_lift,
         sx1 * 1.0 / n1 - sx0 * 1.0 / n0 AS x_gap,
         (n * syy - sy * sy) * 1.0 / (n * 1.0 * n) AS var_y,
         ((n * syy - sy * sy) * 1.0
          - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
            * (n * sxy - sx * sy)) / (n * 1.0 * n) AS var_resid
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_users,
       FLOOR(theta * 1000000 + 0.5) / 1000000 AS theta,
       FLOOR(naive_lift * 1000000 + 0.5) / 1000000 AS naive_lift,
       FLOOR((naive_lift - theta * x_gap) * 1000000 + 0.5) / 1000000
         AS cuped_lift,
       FLOOR((1.0 - var_resid / var_y) * 10000 + 0.5) / 100
         AS var_reduction_pct
FROM f
"""


@register("events_cuped_adjusted_lift", oracle=CUPED_ORACLE)
def events_cuped_adjusted_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED-adjusted conversion lift between the even/odd cohorts
    (see oracle for the identity-form device).

    Scale shape: ONE fact pass to per-user (pre-X, post-Y), ONE
    reduction to twelve exact-integer moments, a 1-row chain.
    Nothing after the user aggregation grows with the corpus; count
    products stay inside int64 to ~3e9 events/user-period (WIDE
    cutover documented)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("g"),
        F.sum(F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                (F.dayofmonth("ts") >= 16)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    x, y, g = F.col("x"), F.col("y"), F.col("g")
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(F.when(g == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(g == 1, x).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(g == 1, y).otherwise(0)).cast("long").alias("sy1"),
        F.sum(F.when(g == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(g == 0, x).otherwise(0)).cast("long").alias("sx0"),
        F.sum(F.when(g == 0, y).otherwise(0)).cast("long").alias("sy0"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy", "syy"]
    )
    theta = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
    naive = F.col("sy1") * 1.0 / F.col("n1") - F.col("sy0") * 1.0 / F.col(
        "n0"
    )
    x_gap = F.col("sx1") * 1.0 / F.col("n1") - F.col("sx0") * 1.0 / F.col(
        "n0"
    )
    var_y = (n * syy - sy * sy) * 1.0 / (n * 1.0 * n)
    var_resid = (
        (n * syy - sy * sy) * 1.0 - theta * (n * sxy - sx * sy)
    ) / (n * 1.0 * n)
    return m.select(
        n.cast("long").alias("n_users"),
        snap(theta, 6).alias("theta"),
        snap(naive, 6).alias("naive_lift"),
        snap(naive - theta * x_gap, 6).alias("cuped_lift"),
        (fixed(1.0 - var_resid / var_y, 4) / 100).alias("var_reduction_pct"),
    )
