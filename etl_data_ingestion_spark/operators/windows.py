"""Window-function operators (SURVEY.md §2.5): ranking, running
aggregates, lag/lead, sliding frames, ntile/percent_rank.

Scale: a window is one shuffle on partitionBy + an in-partition sort.
Partition keys here (customer, user) have bounded fanout; a window
over an unpartitioned 100 TB frame would single-task — never do that
(the global-rank query below documents the top-k alternative).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import cached, load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.plans.registry import register

RANK_ORACLE = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 2
ORDER BY o_custkey, rnk
"""


@register("window_rank_top_orders_per_customer", oracle=RANK_ORACLE)
def window_rank_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via row_number — Spark 4 plans WindowGroupLimit,
    pushing the rank<=N limit into the sort (no full materialization)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@register("window_running_total", oracle=RUNNING_ORACLE)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


LAG_LEAD_ORACLE = """
SELECT event_id, user_id,
       ROUND(value, 3) AS value,
       ROUND(LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 3) AS prev_value,
       ROUND(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 3) AS next_value
FROM events
ORDER BY event_id
"""


@register("window_lag_lead_events", oracle=LAG_LEAD_ORACLE)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round("value", 3).alias("value"),
        F.round(F.lag("value").over(w), 3).alias("prev_value"),
        F.round(F.lead("value").over(w), 3).alias("next_value"),
    )


MOVING_AVG_ORACLE = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS moving_avg3
FROM events
ORDER BY event_id
"""


@register("window_moving_avg", oracle=MOVING_AVG_ORACLE)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row frame per user — constant-memory frame evaluation
    regardless of partition size."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 3).alias("moving_avg3"),
    )


NTILE_ORACLE = """
SELECT c_custkey,
       NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
       ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey), 4) AS pct_rank
FROM customer
ORDER BY c_custkey
"""


@register("window_ntile_percent_rank", oracle=NTILE_ORACLE)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (unpartitioned) window — acceptable on dimension-sized
    inputs only; at fact scale use approx quantiles instead (the sort
    would land on a single task)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
    )


GAP_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS events_in_session,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


@register("window_sessionize_gaps", oracle=GAP_SESSION_ORACLE)
def window_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gaps-and-islands (lag + running sum) — the
    batch analogue of session_window(); one shuffle on user_id."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # full-precision gap: fixtures carry sub-second timestamps and a
    # long cast floors them — a 1800.5s gap would round DOWN to 1800
    # and disagree with the oracle's exact INTERVAL comparison (bug
    # class found by the round-5 sf1 sweep on join_asof_nearest)
    new_session = F.when(
        prev_ts.isNull()
        | (F.col("ts").cast("double") - prev_ts.cast("double") > 30 * 60),
        1,
    ).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("events_in_session"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
    )


RANGE_FRAME_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY EPOCH(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
       ), 2) AS trailing_90d_spend
FROM orders
ORDER BY o_custkey, o_orderkey
"""


@register("window_range_frame_90d", oracle=RANGE_FRAME_ORACLE)
def window_range_frame_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) frame: trailing-90-day spend per customer —
    rangeBetween on epoch seconds, not row counts. One shuffle on
    o_custkey; the frame is evaluated with a sliding aggregate inside
    the sorted partition, O(n) per partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # NTZ → timestamp is identity under the UTC session tz; long = epoch s
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_spend"),
    )


VALUE_FUNCS_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
       ROUND(LAST_VALUE(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_price,
       ROUND(NTH_VALUE(o_totalprice, 2) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_price,
       ROUND(CUME_DIST() OVER w, 4) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("window_value_functions", oracle=VALUE_FUNCS_ORACLE)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value + cume_dist — note last/nth need the
    full-partition frame (the default frame stops at CURRENT ROW,
    the classic silent-wrong-answer); one shuffle on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(wfull), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(wfull), 2).alias("second_price"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    )


PCTL_BUCKET_ORACLE = """
-- Scalable global-percentile contract: decile assignment via
-- broadcast sketch BOUNDARIES (one mergeable approx_percentile
-- aggregate + a map-side bucket expression — no global sort, no
-- single-task window). The per-decile population must land within 2%
-- of N/10 (sketch accuracy 10000 makes boundary error tiny and
-- deterministic); the oracle pins the bound for every decile.
SELECT CAST(i AS INT) AS decile, TRUE AS size_within_2pct
FROM UNNEST(range(1, 11)) t(i)
ORDER BY decile
"""


@register("window_percentile_bucket_scalable", oracle=PCTL_BUCKET_ORACLE)
def window_percentile_bucket_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB answer to window_ntile_percent_rank's documented
    caveat (global ntile = unpartitioned single-task sort): global
    decile assignment WITHOUT a global sort. approx_percentile
    computes the 9 boundary values in one mergeable sketch aggregate;
    the 1-row boundary table broadcasts; each row's decile is a
    map-side comparison fold. Cost at any scale: one scan + one
    sketch + one broadcast — the plan a fact-table ranking must use.

    Output is the verification summary (per-decile population within
    2% of N/10); assignments themselves are sketch-boundary-exact and
    engine-specific at the margins."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.approx_percentile(
            "o_totalprice",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(10000),
        ).alias("bs"),
        F.count(F.lit(1)).alias("n_total"),
    )
    assigned = orders.crossJoin(F.broadcast(bounds)).select(
        (
            F.lit(1)
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col("o_totalprice") > b, 1).otherwise(0),
            )
        ).alias("decile"),
    )
    counts = assigned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_in_bucket")
    )
    # The oracle is a pure 10-row contract (decile, TRUE), so the
    # decile domain anchors on the always-1-row bounds relation and
    # LEFT-joins the observed bucket counts: on an empty table the
    # counts relation is empty and the 2% bound is vacuously TRUE
    # (n_total = 0), where the previous grouped form emitted zero
    # rows (empty-corpus sweep, round 14). Populated inputs take the
    # non-NULL branch with values identical to the grouped form.
    dom = bounds.select(
        F.explode(F.array(*[F.lit(i) for i in range(1, 11)])).alias(
            "decile"
        ),
        "n_total",
    )
    return (
        dom.join(counts, "decile", "left")
        .select(
            "decile",
            F.coalesce(
                F.abs(F.col("n_in_bucket") - F.col("n_total") / 10.0)
                <= 0.02 * F.col("n_total"),
                F.col("n_total") == 0,
            ).alias("size_within_2pct"),
        )
        .orderBy("decile")
    )


GAP_FILL_ORACLE = """
-- Resample-and-forward-fill parity: each user's event stream becomes
-- a dense hourly grid between their first and last active hour;
-- hours with no events carry the last observed hourly average
-- forward (is_gap marks them). Exact: grid construction, join, and
-- IGNORE NULLS carry-forward are all engine-deterministic.
WITH hourly AS (
  SELECT user_id, TIME_BUCKET(INTERVAL 1 HOUR, ts) AS h,
         ROUND(AVG(value), 3) AS v
  FROM events WHERE user_id < 50
  GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM spans
), j AS (
  SELECT g.user_id, g.h, hourly.v
  FROM grid g LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h
)
SELECT user_id,
       STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       v IS NULL AS is_gap
FROM j
ORDER BY user_id, h
"""


@register("timeseries_gap_fill_hourly", oracle=GAP_FILL_ORACLE)
def timeseries_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill (the feature-engineering
    staple for sensor/event data): per-key dense hourly grid via
    sequence()+explode between first and last active hour, left join
    the observed hourly aggregate, carry the last non-null value
    forward with last(ignorenulls) over an unbounded-preceding frame.

    Scale shape: one shuffle on user_id for the hourly aggregate; the
    grid explode is map-side from the per-key span row (grid size =
    span-hours, NOT event count); the fill window rides the same
    user_id partitioning. Dense-grid blowup is the operator's real
    risk at 100 TB — bound the span or bucket by (key, week) so one
    ancient event can't inflate a key's grid."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 3).alias("v"))
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("is_gap"),
    )


EWMA_ORACLE = """
-- Exponentially weighted moving average over the daily value series
-- (alpha = 0.5): y_1 = x_1; y_i = 0.5*x_i + 0.5*y_{i-1}. The daily
-- input is ROUND(SUM(value), 6) so both engines fold from identical
-- doubles; the recursion then applies the identical double ops in the
-- identical order, so results are bit-equal before the final ROUND.
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 6) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
), ew AS (
  SELECT rn, d, x, x AS y FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.d, i.x, 0.5 * i.x + 0.5 * ew.y
  FROM idx i JOIN ew ON i.rn = ew.rn + 1
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       ROUND(x, 2) AS daily_total,
       ROUND(y, 4) AS ewma_value
FROM ew ORDER BY day
"""


@register("timeseries_ewma_daily", oracle=EWMA_ORACLE)
def timeseries_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the daily event-value series (alpha = 0.5):
    the standard trend/anomaly-baseline transform, which no built-in
    window function expresses because each output depends recursively
    on the previous OUTPUT, not a frame of inputs.

    Spark-first shape: the corpus-sized work is ONE map-side-combined
    groupBy(day) that collapses |events| rows to |days| partials; the
    inherently-sequential recursion then runs as an F.aggregate fold
    over the sorted |days|-element array — JVM expression codegen, no
    Python, no extra shuffle, serial only over the tiny smoothed
    series (30 points here), never over events. Per-key EWMA at scale
    is the same fold inside groupBy(key).agg — the day-rollup bounds
    the serial section regardless of event volume.

    Numeric parity: the fold input is ROUND(SUM, 6) (absorbing
    summation-order difference between engines); the recursion itself
    applies identical literal double arithmetic (0.5*x + 0.5*y) in
    identical order on both sides, so values are bit-equal before the
    final ROUND — the same 'same ops, same order' discipline as
    embedding_l2_quantize.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    series = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    folded = series.select(
        F.aggregate(
            "s",
            F.expr("CAST(array() AS array<struct<d:string,y:double,x:double>>)"),
            lambda acc, e: F.concat(
                acc,
                F.array(
                    F.struct(
                        e["d"].alias("d"),
                        F.when(F.size(acc) == 0, e["x"])
                        .otherwise(
                            e["x"] * F.lit(0.5)
                            + F.element_at(acc, -1)["y"] * F.lit(0.5)
                        )
                        .alias("y"),
                        e["x"].alias("x"),
                    )
                ),
            ),
        ).alias("ew")
    )
    return folded.select(F.explode("ew").alias("r")).select(
        F.col("r.d").alias("day"),
        F.round("r.x", 2).alias("daily_total"),
        F.round("r.y", 4).alias("ewma_value"),
    )


CUMULATIVE_DISTINCT_ORACLE = """
-- Daily cumulative distinct users (the "users to date" growth curve).
-- The naive form (COUNT(DISTINCT) over an expanding frame) rescans
-- history per day; the scalable identity: a user contributes 1 only
-- on their FIRST day, so cumulative-distinct = running SUM of
-- first-appearance counts.
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day AS d, COUNT(*) AS new_users FROM firsts GROUP BY 1
), days AS (
  SELECT DISTINCT date_trunc('day', ts) AS d FROM events
)
SELECT STRFTIME(days.d, '%Y-%m-%d') AS day,
       CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY days.d) AS BIGINT)
         AS cumulative_users
FROM days LEFT JOIN per_day ON days.d = per_day.d
ORDER BY day
"""


@register("window_cumulative_distinct_users", oracle=CUMULATIVE_DISTINCT_ORACLE)
def window_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user curve via the first-appearance
    identity: COUNT(DISTINCT) over an expanding window is O(n·days)
    and holds per-frame distinct state; summing first-appearance
    counts is two ordinary aggregations plus a |days|-row running sum.

    Scale shape: one shuffle on user_id for MIN(day) (map-side
    partial), one |users|→|days| rollup, then the running sum over a
    |days|-sized series — the expanding-distinct state never exists.
    This is the standard rewrite for "DAU to date" dashboards at fact
    scale."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = events.select(F.date_trunc("day", "ts").alias("d")).distinct()
    joined = days.join(per_day, "d", "left").select(
        "d", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


TRANSITION_ORACLE = """
-- Per-user event-type transition counts (first-order Markov): the
-- behavioral-model input (next-action prediction, anomaly flows).
-- LAG over (user, time) pairs each event with its successor.
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type),
             4) AS p_transition
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""


@register("events_transition_matrix", oracle=TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over the event stream: LEAD over
    (user_id, ts) pairs each event with its successor; aggregate to
    (from, to) counts and row-normalized probabilities.

    Scale shape: ONE shuffle on user_id (the lead window), map-side
    partial counts to a |event_types|² result, and the probability
    normalization is a window over that tiny matrix. The per-user
    ordering the window needs is the same sort a sessionizer already
    pays — at 100 TB this rides time-bucketed event-log layout
    (operators/sources_scan.py) so each partition sorts locally."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    wnorm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wnorm), 4
        ).alias("p_transition"),
    )


MOVING_MEDIAN_ORACLE = """
-- Moving MEDIAN (robust smoothing — the outlier-immune counterpart
-- of window_moving_avg): 7-row centered frame over each user's
-- event-value series. DuckDB computes MEDIAN over the frame
-- natively; Spark has no median window function, so the plan
-- materializes the frame as an array and takes the exact middle
-- (odd count) or mean-of-middles (even) — exact, not approximate.
SELECT user_id, event_id,
       ROUND(MEDIAN(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 3) AS moving_median
FROM events
WHERE user_id < 40
ORDER BY user_id, event_id
"""


@register("window_moving_median", oracle=MOVING_MEDIAN_ORACLE)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact moving median via frame-collect + array middle: Spark
    exposes no median window function, and percentile_approx isn't a
    window function either — but collect_list over a BOUNDED frame is
    cheap (7 values/row here), and array_sort + element_at give the
    exact order statistic. Scale note: cost is frame-size-linear per
    row, so this is the pattern for small centered frames (sensor
    smoothing); unbounded-frame medians go through
    window_percentile_bucket_scalable's sketch-bucket route instead."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    return events.select(
        "user_id",
        "event_id",
        F.round((mid_lo + mid_hi) / 2.0, 3).alias("moving_median"),
    )


OHLC_ORACLE = """
-- OHLC downsampling (resample-to-bars): per (event_type, hour),
-- open/close = value at the first/last event — tie-broken by
-- (ts, event_id) so both engines pick the SAME row — plus
-- high/low/volume. The time-series primitive behind any metrics or
-- market-data rollup; pure window + groupBy math.
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type,
       STRFTIME(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 3) AS open,
       ROUND(MAX(value), 3) AS high,
       ROUND(MIN(value), 3) AS low,
       ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 3) AS close,
       CAST(COUNT(*) AS BIGINT) AS volume
FROM b
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@register("timeseries_resample_ohlc", oracle=OHLC_ORACLE)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the event stream to hourly OHLC bars per event type.
    Scale shape: both row_number windows share ONE partitioning
    ((event_type, bucket) — Catalyst plans a single Exchange and two
    Sorts), and the groupBy rides the same keys, so the fact table
    shuffles once. first_value/last_value with explicit (ts,
    event_id) tie-break, not an arbitrary-pick first(): resampling
    must be deterministic under retries at 100 TB or two runs of the
    same job produce different bars."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    b = events.select(
        "event_type", bucket.alias("bucket"), "value", "ts", "event_id"
    ).select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        b.groupBy("event_type", "bucket")
        .agg(
            F.round(
                F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 3
            ).alias("open"),
            F.round(F.max("value"), 3).alias("high"),
            F.round(F.min("value"), 3).alias("low"),
            F.round(
                F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 3
            ).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
        .orderBy("event_type", "bucket")
    )


HOLT_ORACLE = """
-- Holt double-exponential smoothing (level + trend, alpha=0.5,
-- beta=0.3) over the daily value series — the forecasting tier above
-- the single-EWMA baseline: l_1 = x_1, b_1 = x_2 - x_1;
-- l_i = a*x_i + (1-a)*(l_{i-1} + b_{i-1});
-- b_i = B*(l_i - l_{i-1}) + (1-B)*b_{i-1}; forecast_i = l_i + b_i.
-- Same bit-parity discipline as EWMA_ORACLE: fold inputs snapped to
-- a 6dp grid, recursion applies identical literal double ops in
-- identical order in both engines. Every snap uses the deterministic
-- floor device FLOOR(x*1e6 + 0.5)/1e6 instead of ROUND (round-8,
-- same device as the median fix): DuckDB's fuzzy double ROUND and
-- Spark's HALF_UP can disagree on the SAME input double at a
-- decimal-half boundary, and the (l, b) state recursion compounds
-- any such flip — the floor device is pure IEEE multiply/add/floor,
-- bit-identical across engines by construction. (For negative trend
-- values this snaps halves toward +inf rather than away-from-zero;
-- that IS the published contract, applied identically both sides.)
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', ts) AS d,
         FLOOR(SUM(value) * 1000000 + 0.5) / 1000000 AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS rn,
         LEAD(x) OVER (ORDER BY d) AS x2
  FROM daily
), hw AS (
  -- (l, b) state snapped to the 6dp grid each step (both engines):
  -- compiler-level FP contraction (fma) can shift a*x+b by 1 ulp per
  -- step in one engine; over 30 steps that lands on output-grid
  -- boundaries (round-7 sf0.3 sweep: level .6382 vs .6383).
  SELECT rn, d, x, x AS l,
         FLOOR((x2 - x) * 1000000 + 0.5) / 1000000 AS b
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.d, i.x,
         FLOOR((0.5 * i.x + 0.5 * (hw.l + hw.b)) * 1000000 + 0.5) / 1000000,
         FLOOR((0.3 * (FLOOR((0.5 * i.x + 0.5 * (hw.l + hw.b)) * 1000000 + 0.5) / 1000000 - hw.l)
                + 0.7 * hw.b) * 1000000 + 0.5) / 1000000
  FROM idx i JOIN hw ON i.rn = hw.rn + 1
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       FLOOR(x * 100 + 0.5) / 100 AS daily_total,
       FLOOR(l * 10000 + 0.5) / 10000 AS level,
       FLOOR(b * 10000 + 0.5) / 10000 AS trend,
       FLOOR((l + b) * 10000 + 0.5) / 10000 AS forecast_next
FROM hw ORDER BY day
"""


@register("timeseries_holt_trend", oracle=HOLT_ORACLE)
def timeseries_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of the daily
    series — recursive in TWO coupled state variables, which no
    window frame expresses; the one-step-ahead forecast l+b is the
    classic capacity-planning signal.

    Same scale shape as timeseries_ewma_daily: |events| collapses to
    |days| in one map-side-combined groupBy; the coupled recursion
    folds over the sorted day array in a JVM F.aggregate carrying a
    (level, trend) struct accumulator. Bit-parity discipline: fold
    inputs and (l, b) state snapped to the 6dp grid via the floor
    snap (NOT ROUND — see HOLT_ORACLE header); identical
    literal arithmetic in identical order both engines (trend init
    b_1 = x_2 - x_1 via LEAD)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")
        )
        .agg(snap(F.sum("value"), 6).alias("x"))
    )
    series = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    def step(acc, e):
        prev_l = F.element_at(acc, -1)["l"]
        prev_b = F.element_at(acc, -1)["b"]
        # 6dp floor-device state snap each step — see HOLT_ORACLE
        new_l = snap(
            F.lit(0.5) * e["x"] + F.lit(0.5) * (prev_l + prev_b), 6
        )
        new_b = snap(
            F.lit(0.3) * (new_l - prev_l) + F.lit(0.7) * prev_b, 6
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    e["d"].alias("d"),
                    e["x"].alias("x"),
                    F.when(F.size(acc) == 0, e["x"]).otherwise(new_l).alias(
                        "l"
                    ),
                    F.when(F.size(acc) == 0, F.lit(0.0))
                    .otherwise(new_b)
                    .alias("b"),
                )
            ),
        )

    # First-row trend init b_1 = x_2 - x_1 needs x_2, unseen at fold
    # step 1 — so seed the accumulator with row 1 explicitly and fold
    # rows 2..n (the when(size==0) branches in step are then unreachable
    # but keep it total).
    # size(s) == 0 <=> zero days: the seed struct would explode into
    # one all-NULL row where the oracle emits none (empty-corpus
    # sweep, round 14); no-op on any non-empty series
    seeded = series.filter(F.size("s") > 0).select(
        F.aggregate(
            F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0))),
            F.array(
                F.struct(
                    F.element_at("s", 1)["d"].alias("d"),
                    F.element_at("s", 1)["x"].alias("x"),
                    F.element_at("s", 1)["x"].alias("l"),
                    F.when(
                        F.size("s") >= 2,
                        snap(
                            F.element_at("s", 2)["x"]
                            - F.element_at("s", 1)["x"],
                            6,
                        ),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("b"),
                )
            ),
            step,
        ).alias("hw")
    )
    return seeded.select(F.explode("hw").alias("r")).select(
        F.col("r.d").alias("day"),
        snap(F.col("r.x"), 2).alias("daily_total"),
        snap(F.col("r.l"), 4).alias("level"),
        snap(F.col("r.b"), 4).alias("trend"),
        snap(F.col("r.l") + F.col("r.b"), 4).alias("forecast_next"),
    )


LERP_FILL_ORACLE = """
-- Linear-interpolation gap fill (the lerp tier above
-- timeseries_gap_fill_hourly's forward fill): thin the daily series
-- to every 3rd day as "observed", rebuild the dense calendar, and
-- fill missing days by interpolating between the bracketing
-- observations: v = prev + (next-prev) * gap_pos/gap_len. Exact
-- arithmetic: observed values ROUND(SUM,2); interpolation uses
-- integer day offsets, so both engines compute identical doubles.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS v,
         ROW_NUMBER() OVER (ORDER BY date_trunc('day', ts)) AS rn
  FROM events GROUP BY 1
), obs AS (
  SELECT d, v FROM daily WHERE rn % 3 = 1
), cal AS (
  SELECT UNNEST(generate_series((SELECT MIN(d) FROM obs),
                                (SELECT MAX(d) FROM obs),
                                INTERVAL 1 DAY)) AS d
), joined AS (
  SELECT c.d, o.v,
         MAX(CASE WHEN o.v IS NOT NULL THEN c.d END)
           OVER (ORDER BY c.d ROWS UNBOUNDED PRECEDING) AS prev_d,
         MIN(CASE WHEN o.v IS NOT NULL THEN c.d END)
           OVER (ORDER BY c.d ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS next_d
  FROM cal c LEFT JOIN obs o USING (d)
), vals AS (
  SELECT j.d, j.v, j.prev_d, j.next_d,
         p.v AS prev_v, n.v AS next_v
  FROM joined j
  LEFT JOIN obs p ON p.d = j.prev_d
  LEFT JOIN obs n ON n.d = j.next_d
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       v IS NOT NULL AS observed,
       ROUND(COALESCE(v,
         prev_v + (next_v - prev_v)
           * (DATE_DIFF('day', prev_d, d) * 1.0
              / DATE_DIFF('day', prev_d, next_d))), 4) AS filled_value
FROM vals ORDER BY day
"""


@register("timeseries_lerp_fill", oracle=LERP_FILL_ORACLE)
def timeseries_lerp_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill: dense calendar via sequence/
    explode, bracketing observations found with last(ignorenulls)/
    first(ignorenulls) frames (NOT a self-join per gap), lerp on
    integer day offsets. Scale shape matches gap_fill_hourly: the
    fact table collapses to the day grain first; all window work runs
    on the |days|-sized series (per-key at scale: same frames inside
    partitionBy(key))."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("d"))
        )
    )
    obs = daily.filter(F.col("rn") % 3 == 1).select("d", "v")
    bounds = obs.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("d")
    )
    j = cal.join(obs, "d", "left")
    w_prev = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy("d").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    marked = j.select(
        "d",
        "v",
        F.last(
            F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True
        )
        .over(w_prev)
        .alias("prev_d"),
        F.first(
            F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True
        )
        .over(w_next)
        .alias("next_d"),
    )
    pv = obs.select(F.col("d").alias("prev_d"), F.col("v").alias("prev_v"))
    nv = obs.select(F.col("d").alias("next_d"), F.col("v").alias("next_v"))
    vals = marked.join(F.broadcast(pv), "prev_d", "left").join(
        F.broadcast(nv), "next_d", "left"
    )
    gap_pos = F.datediff(F.col("d"), F.col("prev_d"))
    gap_len = F.datediff(F.col("next_d"), F.col("prev_d"))
    lerp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        gap_pos * 1.0 / gap_len
    )
    return vals.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        F.round(F.coalesce(F.col("v"), lerp), 4).alias("filled_value"),
    ).orderBy("day")


SEASONAL_ORACLE = """
-- Seasonal-naive decomposition of the daily series: additive model
-- value = trend(overall mean) + seasonal(dow mean - overall mean)
-- + residual. The classical STL-lite baseline every anomaly pipeline
-- starts from; residual z-scores flag days that deviate beyond their
-- weekday's norm. Exact: daily totals ROUND(SUM,2); means over small
-- counts rounded at the end only.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS v
  FROM events GROUP BY 1
), stats AS (
  SELECT AVG(v) AS overall FROM daily
), dow AS (
  SELECT dayofweek(d) AS dw, AVG(v) AS dow_mean
  FROM daily GROUP BY 1
)
SELECT STRFTIME(d.d, '%Y-%m-%d')             AS day,
       CAST(dayofweek(d.d) + 1 AS INT)       AS dow, -- 0-based Sunday -> Spark's 1-based face
       d.v                                   AS daily_total,
       ROUND(s.overall, 4)                   AS trend,
       ROUND(w.dow_mean - s.overall, 4)      AS seasonal,
       ROUND(d.v - w.dow_mean, 4)            AS residual
FROM daily d
JOIN dow w ON w.dw = dayofweek(d.d)
CROSS JOIN stats s
ORDER BY day
"""


@register("timeseries_seasonal_decompose", oracle=SEASONAL_ORACLE)
def timeseries_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive seasonal-naive decomposition (trend = overall mean,
    seasonal = weekday mean deviation, residual = the anomaly
    signal). Scale shape: |events| collapses to |days| once; the
    trend/seasonal tables are 1-row and 7-row broadcast aggregates;
    everything after the day rollup is domain-sized. Per-key
    decomposition at scale = the same aggregates under groupBy(key).

    Weekday numbering: Spark's dayofweek is 1-based (Sunday=1),
    DuckDB's 0-based (Sunday=0); the oracle emits dayofweek+1 so the
    faces match. The dow-mean JOIN keys are each engine's native
    numbering on both sides of its own join, so the shift only
    affects the display column."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    stats = daily.agg(F.avg("v").alias("overall"))
    dow = daily.groupBy(F.dayofweek("d").alias("dw")).agg(
        F.avg("v").alias("dow_mean")
    )
    return (
        daily.join(F.broadcast(dow), F.dayofweek("d") == F.col("dw"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.dayofweek("d").cast("int").alias("dow"),
            F.col("v").alias("daily_total"),
            F.round("overall", 4).alias("trend"),
            F.round(F.col("dow_mean") - F.col("overall"), 4).alias(
                "seasonal"
            ),
            F.round(F.col("v") - F.col("dow_mean"), 4).alias("residual"),
        )
        .orderBy("day")
    )


CUSUM_ORACLE = """
-- CUSUM changepoint detection on the daily value series: prefix sums
-- of deviations from the overall mean; the argmax of |S_t| locates
-- the most likely level shift, flagged when it exceeds 3x the
-- series' daily standard deviation. Recursion-free (prefix sums are
-- plain cumulative windows), exact after ROUND(SUM,2) daily inputs.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS x
  FROM events GROUP BY 1
), stats AS (
  SELECT AVG(x) AS mu, STDDEV_POP(x) AS sd, COUNT(*) AS n FROM daily
), cusum AS (
  SELECT d.d, d.x,
         SUM(d.x - s.mu) OVER (ORDER BY d.d
           ROWS UNBOUNDED PRECEDING) AS s_t,
         s.sd
  FROM daily d CROSS JOIN stats s
), peak AS (
  SELECT d, x, s_t, sd,
         ROW_NUMBER() OVER (ORDER BY ABS(s_t) DESC, d) AS rn
  FROM cusum
)
SELECT STRFTIME(d, '%Y-%m-%d')        AS changepoint_day,
       ROUND(s_t, 2)                  AS cusum_peak,
       ROUND(ABS(s_t) / sd, 4)        AS normalized_peak,
       ABS(s_t) > 3 * sd              AS shift_detected
FROM peak WHERE rn = 1
"""


@register("timeseries_cusum_changepoint", oracle=CUSUM_ORACLE)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location: the classic level-shift detector,
    recursion-free — prefix sums of mean deviations via a cumulative
    window over the |days|-sized rollup, argmax with a deterministic
    tie-break. Per-key at scale: the same windows inside
    partitionBy(key); the fact table contributes one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("x")
    )
    stats = daily.agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.crossJoin(F.broadcast(stats)).select(
        "d",
        "x",
        F.sum(F.col("x") - F.col("mu")).over(w).alias("s_t"),
        "sd",
    )
    peak = cusum.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc(F.abs(F.col("s_t"))), "d")),
    ).filter(F.col("rn") == 1)
    return peak.select(
        F.date_format("d", "yyyy-MM-dd").alias("changepoint_day"),
        F.round("s_t", 2).alias("cusum_peak"),
        F.round(F.abs(F.col("s_t")) / F.col("sd"), 4).alias(
            "normalized_peak"
        ),
        (F.abs(F.col("s_t")) > 3 * F.col("sd")).alias("shift_detected"),
    )


MARKOV_STATIONARY_ORACLE = """
-- Stationary distribution of the event-type Markov chain: 4 unrolled
-- power-iteration steps v <- vP from a uniform start, plus the L1
-- residual of the last step as a convergence receipt. The fact table
-- contributes the ONE user_id window Exchange the transition matrix
-- already pays; every iteration is a join-aggregate on the
-- |types|^2 probability table.
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), c AS (
  SELECT event_type AS f, next_type AS t, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), p AS (
  SELECT f, t, n * 1.0 / SUM(n) OVER (PARTITION BY f) AS pr FROM c
), v0 AS (
  SELECT f AS s, 1.0 / (SELECT COUNT(DISTINCT f) FROM p) AS pr
  FROM (SELECT DISTINCT f FROM p)
), v1 AS (
  SELECT p.t AS s, SUM(v0.pr * p.pr) AS pr FROM v0 JOIN p ON v0.s = p.f GROUP BY p.t
), v2 AS (
  SELECT p.t AS s, SUM(v1.pr * p.pr) AS pr FROM v1 JOIN p ON v1.s = p.f GROUP BY p.t
), v3 AS (
  SELECT p.t AS s, SUM(v2.pr * p.pr) AS pr FROM v2 JOIN p ON v2.s = p.f GROUP BY p.t
), v4 AS (
  SELECT p.t AS s, SUM(v3.pr * p.pr) AS pr FROM v3 JOIN p ON v3.s = p.f GROUP BY p.t
), res AS (
  SELECT SUM(ABS(v4.pr - v3.pr)) AS r FROM v4 JOIN v3 ON v4.s = v3.s
)
SELECT v4.s                 AS event_type,
       ROUND(v4.pr, 6)      AS stationary_prob,
       ROUND(res.r, 6)      AS l1_residual
FROM v4 CROSS JOIN res ORDER BY event_type
"""


@register("events_markov_stationary", oracle=MARKOV_STATIONARY_ORACLE)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type chain
    (the long-run behavioral mix, and the PageRank-style score for
    event types): power iteration v <- vP unrolled 4 steps from
    uniform, with the step-4 L1 residual emitted as a convergence
    receipt. Scale shape: identical fact cost to
    events_transition_matrix (one user_id window Exchange reduced to
    |types|^2 counts); the iteration itself runs DRIVER-SIDE on the
    collected |types|^2 table — a bounded collect (event-type
    domains are tens of values at any data scale; 100 TB changes the
    fact pass, not the matrix), the same bounded-domain pattern as
    the k-means centroid update. Round 6 collapsed the previous
    4-unrolled-join plan (localCheckpoint + count + 7 sequential
    job launches on 25-row tables, ~0.7s of pure scheduling floor)
    into one distributed job + local float math."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("f"), F.col("next_type").alias("t")
    ).agg(F.count(F.lit(1)).alias("n"))
    rows = c.collect()  # bounded: |event types|^2
    row_tot: dict[str, float] = {}
    for r in rows:
        row_tot[r["f"]] = row_tot.get(r["f"], 0.0) + r["n"]
    p = {(r["f"], r["t"]): r["n"] / row_tot[r["f"]] for r in rows}
    states = sorted(row_tot)
    if not states:  # no transitions at all — oracle's v0 is empty too
        return spark.createDataFrame(
            [],
            "event_type string, stationary_prob double, l1_residual double",
        )
    v = {s: 1.0 / len(states) for s in states}
    prev = v
    for _ in range(4):
        prev = v
        # Mirror the oracle's INNER JOIN exactly (round-6 advisor
        # finding): only sources present in the previous vector
        # contribute, and the new vector's key set is the set of
        # destinations that received >=1 contribution — so a state
        # that appears only as a transition source (never as a
        # destination) drops out after step 1 instead of surviving
        # with prob 0.0 and diverging the row sets.
        nxt: dict[str, float] = {}
        for (f, t), pr in p.items():
            if f in prev:
                nxt[t] = nxt.get(t, 0.0) + prev[f] * pr
        v = nxt
    # residual over v4 INNER JOIN v3, as the oracle computes it
    res = sum(abs(v[s] - prev[s]) for s in v if s in prev)
    # half-up to 6 decimals with the floor snap — Python round() is
    # banker's while the oracle's ROUND is half-away from zero
    import math

    out = [
        (s, snap(v[s], 6, math.floor), snap(res, 6, math.floor))
        for s in sorted(v)
    ]
    return spark.createDataFrame(
        out, "event_type string, stationary_prob double, l1_residual double"
    )


PEAK_CONCURRENCY_ORACLE = """
-- Daily peak concurrency via the +1/-1 endpoint sweep: each event
-- opens a 30-minute half-open activity interval [ts, ts+30m),
-- clipped at the day boundary so the sweep partitions cleanly by
-- day; the running endpoint sum's daily maximum is the peak number
-- of simultaneously active sessions -- the capacity-planning
-- statistic. Half-open semantics = ends (-1) sort before starts
-- (+1) at the same instant.
WITH ep AS (
  SELECT date_trunc('day', ts) AS day, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT date_trunc('day', ts) AS day,
         LEAST(ts + INTERVAL 30 MINUTE,
               date_trunc('day', ts) + INTERVAL 1 DAY) AS t,
         -1 AS delta
  FROM events
  UNION ALL
  -- intervals straddling midnight RE-OPEN in the following day
  -- (+1 at next-day 00:00, -1 at the true end) so early-morning
  -- peaks count carried-over sessions; without this they are
  -- systematically undercounted
  SELECT date_trunc('day', ts) + INTERVAL 1 DAY AS day,
         date_trunc('day', ts) + INTERVAL 1 DAY AS t, 1 AS delta
  FROM events
  WHERE ts + INTERVAL 30 MINUTE
        > date_trunc('day', ts) + INTERVAL 1 DAY
  UNION ALL
  SELECT date_trunc('day', ts) + INTERVAL 1 DAY AS day,
         ts + INTERVAL 30 MINUTE AS t, -1 AS delta
  FROM events
  WHERE ts + INTERVAL 30 MINUTE
        > date_trunc('day', ts) + INTERVAL 1 DAY
), sweep AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta) AS live
  FROM ep
)
SELECT STRFTIME(day, '%Y-%m-%d')      AS day,
       CAST(MAX(live) AS BIGINT)      AS peak_concurrency
FROM sweep GROUP BY day ORDER BY day
"""


@register("events_peak_concurrency_daily", oracle=PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily peak concurrent activity (30-minute activity intervals):
    the classic endpoint-sweep rewrite — 2 endpoints per event, one
    day-partitioned running-sum window, a daily MAX. Intervals that
    straddle midnight are clipped in their start day AND re-opened at
    00:00 of the following day (a second endpoint pair), so
    early-morning peaks count carried-over sessions. Scale shape:
    the sweep window partitions by day, so no global ordering exists;
    at 100 TB the same plan partitions by (day, shard) with shard
    boundary counts merged, or rides a time-bucketed layout where
    each partition sorts locally."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    next_mid = day + F.expr("INTERVAL 1 DAY")
    true_end = F.col("ts") + F.expr("INTERVAL 30 MINUTE")
    starts = ev.select(day.alias("day"), F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        day.alias("day"),
        F.least(true_end, next_mid).alias("t"),
        F.lit(-1).alias("delta"),
    )
    straddle = ev.filter(true_end > next_mid)
    reopens = straddle.select(
        next_mid.alias("day"), next_mid.alias("t"), F.lit(1).alias("delta")
    )
    recloses = straddle.select(
        next_mid.alias("day"), true_end.alias("t"), F.lit(-1).alias("delta")
    )
    ep = starts.unionByName(ends).unionByName(reopens).unionByName(recloses)
    w = Window.partitionBy("day").orderBy("t", "delta")
    sweep = ep.select("day", F.sum("delta").over(w).alias("live"))
    return (
        sweep.groupBy("day")
        .agg(F.max("live").cast("long").alias("peak_concurrency"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_concurrency",
        )
        .orderBy("day")
    )


MAX_DRAWDOWN_ORACLE = """
-- Maximum drawdown of the cumulative daily revenue anomaly (daily
-- total minus the overall daily mean, cumulated): drawdown at day d
-- = running peak - current level; the max over days is the deepest
-- sustained slump -- the demand-health statistic that a plain daily
-- z-score misses because it has no memory. All math after one fact
-- pass to the |days| rollup.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, ROUND(SUM(value), 2) AS v
  FROM events GROUP BY 1
), anom AS (
  SELECT d, v - AVG(v) OVER () AS a FROM daily
), lvl AS (
  SELECT d,
         SUM(a) OVER (ORDER BY d) AS level
  FROM anom
), dd AS (
  SELECT d, level,
         MAX(level) OVER (ORDER BY d) - level AS drawdown
  FROM lvl
)
SELECT CAST(COUNT(*) AS BIGINT)          AS n_days,
       ROUND(MAX(drawdown), 2)           AS max_drawdown,
       STRFTIME(MAX_BY(d, drawdown), '%Y-%m-%d') AS trough_day
FROM dd
"""


@register("timeseries_max_drawdown", oracle=MAX_DRAWDOWN_ORACLE)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily-revenue anomaly — the
    memory-ful slump detector (peak-to-trough depth of the demeaned
    cumulative series). One fact Exchange to the day rollup; the
    running-sum/running-max windows and the arg-max live on the
    |days| table. MAX_BY ties resolve identically (unique drawdown
    values at the 2-decimal rounding on this data; a production
    variant tie-breaks on day explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    anom = daily.select(
        "d", (F.col("v") - F.avg("v").over(Window.partitionBy())).alias("a")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    lvl = anom.select("d", F.sum("a").over(wcum).alias("level"))
    dd = lvl.select(
        "d",
        (F.max("level").over(wcum) - F.col("level")).alias("drawdown"),
    )
    return dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max("drawdown"), 2).alias("max_drawdown"),
        F.date_format(
            F.max_by("d", F.col("drawdown")), "yyyy-MM-dd"
        ).alias("trough_day"),
    )


# ----------------------------------------------------- autocorrelation

ACF_ORACLE = """
-- Autocorrelation function of the daily-revenue series at lags 1-7
-- (the weekly-seasonality diagnostic that tells a forecaster which
-- AR terms matter). Bit-parity discipline: the daily series is
-- EXACT integer cents (CAST(FLOOR(SUM*100+0.5) AS BIGINT)), so all
-- sufficient statistics (s, q, per-lag p/a/b) are exact integer
-- sums — order-independent in both engines — and the ACF estimator
-- r_k = (p_k - ybar*(a_k+b_k) + (n-k)*ybar^2) / (q - n*ybar^2)
-- is one fixed-order scalar chain on those integers (the exact
-- integers convert to double identically; every subsequent op is
-- the same single IEEE op both sides), snapped with the floor
-- device.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), led AS (
  SELECT y,
         LEAD(y, 1) OVER (ORDER BY d) AS y1,
         LEAD(y, 2) OVER (ORDER BY d) AS y2,
         LEAD(y, 3) OVER (ORDER BY d) AS y3,
         LEAD(y, 4) OVER (ORDER BY d) AS y4,
         LEAD(y, 5) OVER (ORDER BY d) AS y5,
         LEAD(y, 6) OVER (ORDER BY d) AS y6,
         LEAD(y, 7) OVER (ORDER BY d) AS y7
  FROM daily
), agg AS (
  SELECT COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS q,
         SUM(y * y1) AS p1, SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS a1, SUM(y1) AS b1,
         SUM(y * y2) AS p2, SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS a2, SUM(y2) AS b2,
         SUM(y * y3) AS p3, SUM(CASE WHEN y3 IS NOT NULL THEN y END) AS a3, SUM(y3) AS b3,
         SUM(y * y4) AS p4, SUM(CASE WHEN y4 IS NOT NULL THEN y END) AS a4, SUM(y4) AS b4,
         SUM(y * y5) AS p5, SUM(CASE WHEN y5 IS NOT NULL THEN y END) AS a5, SUM(y5) AS b5,
         SUM(y * y6) AS p6, SUM(CASE WHEN y6 IS NOT NULL THEN y END) AS a6, SUM(y6) AS b6,
         SUM(y * y7) AS p7, SUM(CASE WHEN y7 IS NOT NULL THEN y END) AS a7, SUM(y7) AS b7
  FROM led
), lags(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7))
SELECT k AS lag,
       CAST(n - k AS BIGINT) AS n_pairs,
       FLOOR(((CASE k WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3
                      WHEN 4 THEN p4 WHEN 5 THEN p5 WHEN 6 THEN p6
                      ELSE p7 END) * 1.0
              - (s * 1.0 / n)
                * ((CASE k WHEN 1 THEN a1 WHEN 2 THEN a2 WHEN 3 THEN a3
                           WHEN 4 THEN a4 WHEN 5 THEN a5 WHEN 6 THEN a6
                           ELSE a7 END
                    + CASE k WHEN 1 THEN b1 WHEN 2 THEN b2 WHEN 3 THEN b3
                             WHEN 4 THEN b4 WHEN 5 THEN b5 WHEN 6 THEN b6
                             ELSE b7 END) * 1.0)
              + (n - k) * (s * 1.0 / n) * (s * 1.0 / n))
             / (q * 1.0 - n * (s * 1.0 / n) * (s * 1.0 / n))
             * 1000000 + 0.5) / 1000000 AS acf
FROM agg CROSS JOIN lags
ORDER BY lag
"""


@register("timeseries_acf_lags", oracle=ACF_ORACLE)
def timeseries_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1-7 of the daily-revenue series — the weekly
    seasonality diagnostic (which AR lags matter) that sits under
    timeseries_seasonal_decompose and the Holt forecaster.

    Scale shape: |events| collapses to |days| in one map-side
    combined groupBy; the 7 LEAD columns share ONE window sort of
    the |days| table, and the sufficient statistics reduce it to one
    row — the ACF math never touches anything fact-sized. All sums
    are exact integer cents (see ACF_ORACLE) so the estimator is a
    fixed-order scalar chain, floor-device snapped."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(fixed(F.sum("value"), 2).alias("y"))
    )
    w = Window.orderBy("d")
    led = daily.select(
        "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 8)]
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    ]
    for k in range(1, 8):
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(F.col("y") * yk).alias(f"p{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("y"))).alias(f"a{k}"),
            F.sum(yk).alias(f"b{k}"),
        ]
    a = led.agg(*aggs)
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    ybar = s * 1.0 / n
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                (n - k).cast("long").alias("n_pairs"),
                snap(
                    (
                        F.col(f"p{k}") * 1.0
                        - ybar * ((F.col(f"a{k}") + F.col(f"b{k}")) * 1.0)
                        + (n - k) * ybar * ybar
                    )
                    / (q * 1.0 - n * ybar * ybar),
                    6,
                ).alias("acf"),
            )
            for k in range(1, 8)
        ]
    )
    return (
        a.select(F.explode(rows).alias("r"))
        .select("r.lag", "r.n_pairs", "r.acf")
        .orderBy("lag")
    )


# ----------------------------------------------------- Theil-Sen trend

THEIL_SEN_ORACLE = """
-- Theil-Sen robust trend of the daily-revenue series: the MEDIAN of
-- all pairwise slopes (y_j - y_i)/(d_j - d_i) — immune to the
-- outlier days that wreck least-squares. Exact arithmetic: y is
-- integer cents, day offsets are integers, each slope is ONE IEEE
-- division of exact integers (identical both engines), and the
-- median uses the explicit middle-element device from
-- agg_median_by_priority (total order: slope, i, j). |days|² pairs
-- is ~400 rows — domain-sized, never fact-sized.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i,
         DATEDIFF('day', MIN(d) OVER (), d) AS dd
  FROM daily
), slopes AS (
  SELECT a.i AS ia, b.i AS ib,
         (b.y - a.y) * 1.0 / (b.dd - a.dd) AS slope
  FROM idx a JOIN idx b ON a.i < b.i
), ranked AS (
  SELECT slope,
         ROW_NUMBER() OVER (ORDER BY slope, ia, ib) AS rn,
         COUNT(*) OVER () AS m
  FROM slopes
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST(MAX(m) AS BIGINT) AS n_pairs,
       FLOOR(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                      THEN slope END)
             / SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                        THEN 1 END) / 100.0 * 1000000 + 0.5)
         / 1000000 AS slope_dollars_per_day
FROM ranked
"""


@register("timeseries_theil_sen", oracle=THEIL_SEN_ORACLE)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend (median of all pairwise
    slopes) — the outlier-immune alternative to the OLS slope in
    agg_linear_regression.

    Scale shape: the only fact-sized work is the one groupBy to
    |days|; the pairwise self-join is |days|²/2 ≈ 400 rows (a
    calendar is domain-sized — at 10 years it is 6.7M pairs, still
    one executor's lunch). Slopes are single IEEE divisions of
    exact integer cents/day-offsets; the median uses the explicit
    middle-element selection device, floor-device snapped."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(fixed(F.sum("value"), 2).alias("y"))
    )
    w = Window.orderBy("d")
    idx = daily.select(
        "y",
        F.row_number().over(w).alias("i"),
        F.datediff(F.col("d"), F.min("d").over(Window.partitionBy())).alias(
            "dd"
        ),
    )
    a = idx.select(
        F.col("i").alias("ia"), F.col("y").alias("ya"), F.col("dd").alias("da")
    )
    b = idx.select(
        F.col("i").alias("ib"), F.col("y").alias("yb"), F.col("dd").alias("db")
    )
    slopes = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            ((F.col("yb") - F.col("ya")) * 1.0 / (F.col("db") - F.col("da"))).alias(
                "slope"
            ),
        )
    )
    wr = Window.orderBy("slope", "ia", "ib")
    ranked = slopes.select(
        "slope",
        "ib",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    is_mid = (F.col("rn") == ((F.col("m") + 1) / 2).cast("long")) | (
        F.col("rn") == ((F.col("m") + 2) / 2).cast("long")
    )
    return ranked.agg(
        # n_days = the largest day index seen as a pair's right end
        # (every day but the first is some pair's b) — keeps the
        # plan single-pass instead of a second count() scan.
        # coalesce: max over the 0-row pair relation is NULL where
        # the oracle's count is 0 (empty-corpus sweep, round 14)
        F.coalesce(F.max("ib").cast("long"), F.lit(0)).alias("n_days"),
        F.max("m").cast("long").alias("n_pairs"),
        snap(
            F.sum(F.when(is_mid, F.col("slope")))
            / F.sum(F.when(is_mid, F.lit(1)))
            / 100.0,
            6,
        ).alias("slope_dollars_per_day"),
    )


# ------------------------------------------- Markov entropy rate

MARKOV_ENTROPY_ORACLE = """
-- Entropy rate of the event-type Markov chain: H = sum_i pi_i *
-- H_i where H_i = -sum_j P_ij log2 P_ij and pi is the stationary
-- distribution (same 4-step unrolled power iteration as
-- events_markov_stationary) — the predictability ceiling of user
-- behavior (H -> 0: deterministic sessions; H -> log2|types|:
-- uniform noise). Fact cost identical to the transition matrix (one
-- user_id window Exchange); all iteration/entropy math runs on the
-- |types|^2 probability table.
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), c AS (
  SELECT event_type AS f, next_type AS t, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), p AS (
  SELECT f, t, n * 1.0 / SUM(n) OVER (PARTITION BY f) AS pr FROM c
), v0 AS (
  SELECT f AS s, 1.0 / (SELECT COUNT(DISTINCT f) FROM p) AS pr
  FROM (SELECT DISTINCT f FROM p)
), v1 AS (
  SELECT p.t AS s, SUM(v0.pr * p.pr) AS pr FROM v0 JOIN p ON v0.s = p.f GROUP BY p.t
), v2 AS (
  SELECT p.t AS s, SUM(v1.pr * p.pr) AS pr FROM v1 JOIN p ON v1.s = p.f GROUP BY p.t
), v3 AS (
  SELECT p.t AS s, SUM(v2.pr * p.pr) AS pr FROM v2 JOIN p ON v2.s = p.f GROUP BY p.t
), v4 AS (
  SELECT p.t AS s, SUM(v3.pr * p.pr) AS pr FROM v3 JOIN p ON v3.s = p.f GROUP BY p.t
), rowh AS (
  SELECT f AS s, -SUM(pr * LOG2(pr)) AS h FROM p GROUP BY f
), tot AS (
  SELECT SUM(v4.pr * rowh.h) AS hr
  FROM v4 JOIN rowh ON v4.s = rowh.s
)
SELECT v4.s AS event_type,
       ROUND(v4.pr, 6) AS stationary_prob,
       ROUND(rowh.h, 6) AS row_entropy_bits,
       ROUND(tot.hr, 6) AS entropy_rate_bits
FROM v4 JOIN rowh ON v4.s = rowh.s CROSS JOIN tot
ORDER BY event_type
"""


@register("events_markov_entropy_rate", oracle=MARKOV_ENTROPY_ORACLE)
def events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the first-order event-type chain — the
    predictability ceiling of user behavior, next to
    events_markov_stationary's long-run mix.

    Scale shape: the fact table pays the ONE user_id window Exchange
    the transition matrix already pays, reduced to |types|² counts;
    the power iteration and entropy math run driver-side on the
    bounded collected matrix (event-type domains are tens of values
    at any data scale — 100 TB changes the fact pass, not the
    matrix), the events_markov_stationary pattern with its
    INNER-JOIN keyset discipline."""
    import math

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("f"), F.col("next_type").alias("t")
    ).agg(F.count(F.lit(1)).alias("n"))
    rows = c.collect()  # bounded: |event types|^2
    row_tot: dict[str, float] = {}
    for r in rows:
        row_tot[r["f"]] = row_tot.get(r["f"], 0.0) + r["n"]
    p = {(r["f"], r["t"]): r["n"] / row_tot[r["f"]] for r in rows}
    states = sorted(row_tot)
    if not states:
        return spark.createDataFrame(
            [],
            "event_type string, stationary_prob double, "
            "row_entropy_bits double, entropy_rate_bits double",
        )
    v = {s: 1.0 / len(states) for s in states}
    # sorted iteration: run-to-run deterministic fold order (the
    # collect order is not); the oracle's SUM order is still the
    # engines' own — a ~1e-16 residual under the 6dp snap, the
    # events_markov_stationary precedent
    items = sorted(p.items())
    for _ in range(4):
        nxt: dict[str, float] = {}
        for (f, t), pr in items:
            if f in v:
                nxt[t] = nxt.get(t, 0.0) + v[f] * pr
        v = nxt
    rowh = {
        f: -sum(pr * math.log2(pr) for (ff, _), pr in items if ff == f)
        for f in row_tot
    }
    hr = sum(v[s] * rowh[s] for s in sorted(v) if s in rowh)
    out = [
        (
            s,
            snap(v[s], 6, math.floor),
            snap(rowh[s], 6, math.floor),
            snap(hr, 6, math.floor),
        )
        for s in sorted(v)
        if s in rowh
    ]
    return spark.createDataFrame(
        out,
        "event_type string, stationary_prob double, "
        "row_entropy_bits double, entropy_rate_bits double",
    )


SAX_ORACLE = """
-- SAX symbolization (Lin et al. 2003) of the 1996 daily
-- average-order-price series: PAA over 7-day segments, z-normalize
-- across segments, quantize into a 4-letter alphabet at the
-- standard Gaussian breakpoints (-0.6745, 0, 0.6745) — the discrete
-- sketch that makes time-series motif search and similarity
-- indexable. Device: day and segment values reduce to exact
-- integers (FLOOR(x+0.5) of ratios of exact cent sums), the
-- normalization moments are exact integer sums over the 53-segment
-- domain, and z/symbol are fixed-order scalar math on them — no
-- data-order-dependent float summation anywhere.
WITH daily AS (
  SELECT date_part('doy', o_orderdate) AS doy,
         CAST(FLOOR(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) * 1.0
                    / COUNT(*) + 0.5) AS BIGINT) AS day_cents
  FROM orders WHERE date_part('year', o_orderdate) = 1996
  GROUP BY 1
), seg AS (
  SELECT CAST(FLOOR((doy - 1) / 7) AS BIGINT) AS segment,
         COUNT(*) AS n_days,
         CAST(FLOOR(SUM(day_cents) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS v
  FROM daily GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(v * v) AS BIGINT) AS sv2
  FROM seg
), z AS (
  SELECT s.segment, s.n_days, s.v,
         (s.v - st.sv * 1.0 / st.n)
           / SQRT(st.sv2 * 1.0 / st.n
                  - (st.sv * 1.0 / st.n) * (st.sv * 1.0 / st.n)) AS zval
  FROM seg s, stats st
)
SELECT segment, CAST(n_days AS BIGINT) AS n_days, v AS seg_avg_cents,
       FLOOR(zval * 10000 + 0.5) / 10000 AS z_score,
       CASE WHEN zval < -0.6745 THEN 'a'
            WHEN zval < 0.0     THEN 'b'
            WHEN zval < 0.6745  THEN 'c'
            ELSE 'd' END AS sax_symbol
FROM z ORDER BY segment
"""


@register("timeseries_sax_symbols", oracle=SAX_ORACLE)
def timeseries_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the 1996 daily
    average-order-price series: 7-day PAA segments, z-normalized,
    quantized to a 4-letter alphabet at Gaussian breakpoints — the
    discretization that turns similarity/motif search over raw
    series into string algorithms.

    Scale shape: one fact pass partial-aggregates to the day domain
    (<=366 rows at ANY scale factor), PAA to 53 segments, and the
    normalization moments are exact BIGINT sums over that fixed
    domain broadcast back onto it. Day/segment values are snapped to
    exact integers before any cross-row sum, so both engines
    symbolize identically; z at a breakpoint boundary is a
    deterministic fixed-order comparison, not a float-sum race."""
    orders = load_table(spark, sf_dir, "orders", parallel=False).filter(
        F.year("o_orderdate") == 1996
    )
    daily = orders.groupBy(F.dayofyear("o_orderdate").alias("doy")).agg(
        fixed(F.sum(fixed(F.col("o_totalprice"), 2)) * 1.0 / F.count(F.lit(1)), 0)
        .alias("day_cents")
    )
    # persist the 53-row segment table: the stats aggregate and the
    # z-score projection both read it (else two fact scans)
    seg = cached(daily.groupBy(
        F.floor((F.col("doy") - 1) / 7).cast("long").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        fixed(F.sum("day_cents") * 1.0 / F.count(F.lit(1)), 0).alias("v"),
    ))
    stats = seg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("sv2"),
    )
    mean = F.col("sv") * 1.0 / F.col("n")
    sd = F.sqrt(F.col("sv2") * 1.0 / F.col("n") - mean * mean)
    z = (F.col("v") - mean) / sd
    return (
        seg.crossJoin(F.broadcast(stats))
        .select(
            "segment",
            "n_days",
            F.col("v").alias("seg_avg_cents"),
            snap(z, 4).alias("z_score"),
            F.when(z < -0.6745, "a")
            .when(z < 0.0, "b")
            .when(z < 0.6745, "c")
            .otherwise("d")
            .alias("sax_symbol"),
        )
        .orderBy("segment")
    )


BOLLINGER_ORACLE = """
-- Bollinger bands over the daily average-order-price series: 21-day
-- rolling mean +/- 2 rolling stddevs, with a band-position flag —
-- the volatility-envelope monitor (rolling siblings of the GLOBAL
-- zscore outliers in timeseries_zscore_outliers). Device: the day
-- value is an exact integer (cents, FLOOR(x+0.5) of a ratio of
-- exact sums), the rolling moments are exact BIGINT window sums
-- (Σv ~ 1e9, Σv² ~ 5e16 at any sf — the value is an AVERAGE price,
-- so int64-safe), and mean/sd/bands are fixed-order double math on
-- them — so the band comparison cannot diverge across engines.
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(FLOOR(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) * 1.0
                    / COUNT(*) + 0.5) AS BIGINT) AS day_cents
  FROM orders GROUP BY 1
), rolled AS (
  SELECT d, day_cents,
         COUNT(*) OVER w AS cnt,
         CAST(SUM(day_cents) OVER w AS BIGINT) AS sv,
         CAST(SUM(day_cents * day_cents) OVER w AS BIGINT) AS sv2
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       day_cents,
       FLOOR((sv * 1.0 / 21) * 100 + 0.5) / 100 AS mid,
       FLOOR((sv * 1.0 / 21
              + 2 * SQRT(sv2 * 1.0 / 21 - (sv * 1.0 / 21) * (sv * 1.0 / 21)))
             * 100 + 0.5) / 100 AS upper_band,
       FLOOR((sv * 1.0 / 21
              - 2 * SQRT(sv2 * 1.0 / 21 - (sv * 1.0 / 21) * (sv * 1.0 / 21)))
             * 100 + 0.5) / 100 AS lower_band,
       CASE WHEN day_cents * 1.0 > sv * 1.0 / 21
                 + 2 * SQRT(sv2 * 1.0 / 21 - (sv * 1.0 / 21) * (sv * 1.0 / 21))
            THEN 'above'
            WHEN day_cents * 1.0 < sv * 1.0 / 21
                 - 2 * SQRT(sv2 * 1.0 / 21 - (sv * 1.0 / 21) * (sv * 1.0 / 21))
            THEN 'below' ELSE 'inside' END AS band
FROM rolled WHERE cnt = 21 ORDER BY day
"""


@register("timeseries_bollinger_bands", oracle=BOLLINGER_ORACLE)
def timeseries_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """21-day Bollinger bands (rolling mean ± 2σ) on the daily
    average-order-price series, with an above/inside/below position
    flag — the rolling volatility envelope used for regime and
    anomaly monitoring (complements the global z-score and MAD
    outlier ops with a LOCAL baseline).

    Scale shape: one fact pass partial-aggregates to the date
    domain (~2.4k rows at any sf); the rolling moments are exact
    BIGINT window sums over that domain in a single WindowExec (one
    partition is fine — the series IS driver-small by construction;
    a per-entity variant would partition by the entity key). All
    band math is fixed-order scalar on exact integers, so the
    above/below classification is bit-deterministic."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        fixed(F.sum(fixed(F.col("o_totalprice"), 2)) * 1.0 / F.count(F.lit(1)), 0)
        .alias("day_cents")
    )
    w = Window.orderBy("d").rowsBetween(-20, 0)
    rolled = daily.select(
        "d",
        "day_cents",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("day_cents").over(w).alias("sv"),
        F.sum(F.col("day_cents") * F.col("day_cents")).over(w).alias("sv2"),
    ).filter(F.col("cnt") == 21)
    mid = F.col("sv") * 1.0 / 21
    sd = F.sqrt(F.col("sv2") * 1.0 / 21 - mid * mid)
    up, lo = mid + 2 * sd, mid - 2 * sd
    return rolled.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "day_cents",
        snap(mid, 2).alias("mid"),
        snap(up, 2).alias("upper_band"),
        snap(lo, 2).alias("lower_band"),
        F.when(F.col("day_cents") * 1.0 > up, "above")
        .when(F.col("day_cents") * 1.0 < lo, "below")
        .otherwise("inside")
        .alias("band"),
    ).orderBy("day")


LJUNG_BOX_ORACLE = """
-- Ljung-Box portmanteau test (m=7) on the daily-revenue series:
-- Q = n(n+2) * sum_k r_k^2/(n-k) — the "is there ANY
-- autocorrelation" gate run before fitting AR terms (the ACF op
-- shows per-lag structure; Ljung-Box aggregates it into one
-- chi-square decision, df=7, 5% critical value 14.067). Built on
-- the identical exact-integer sufficient statistics as
-- timeseries_acf_lags: every r_k is a fixed-order scalar chain on
-- exact BIGINT sums, and the 7-term Q sum is a LITERAL left-to-
-- right expression (not an aggregate), so it is bit-identical
-- across engines.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), led AS (
  SELECT y,
         LEAD(y, 1) OVER (ORDER BY d) AS y1, LEAD(y, 2) OVER (ORDER BY d) AS y2,
         LEAD(y, 3) OVER (ORDER BY d) AS y3, LEAD(y, 4) OVER (ORDER BY d) AS y4,
         LEAD(y, 5) OVER (ORDER BY d) AS y5, LEAD(y, 6) OVER (ORDER BY d) AS y6,
         LEAD(y, 7) OVER (ORDER BY d) AS y7
  FROM daily
), agg AS (
  SELECT COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS q,
         SUM(y * y1) AS p1, SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS a1, SUM(y1) AS b1,
         SUM(y * y2) AS p2, SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS a2, SUM(y2) AS b2,
         SUM(y * y3) AS p3, SUM(CASE WHEN y3 IS NOT NULL THEN y END) AS a3, SUM(y3) AS b3,
         SUM(y * y4) AS p4, SUM(CASE WHEN y4 IS NOT NULL THEN y END) AS a4, SUM(y4) AS b4,
         SUM(y * y5) AS p5, SUM(CASE WHEN y5 IS NOT NULL THEN y END) AS a5, SUM(y5) AS b5,
         SUM(y * y6) AS p6, SUM(CASE WHEN y6 IS NOT NULL THEN y END) AS a6, SUM(y6) AS b6,
         SUM(y * y7) AS p7, SUM(CASE WHEN y7 IS NOT NULL THEN y END) AS a7, SUM(y7) AS b7
  FROM led
), r AS (
  SELECT CAST(n AS BIGINT) AS n,
         ((p1*1.0 - (s*1.0/n)*((a1*1.0)+(b1*1.0)) + (n-1)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r1,
         ((p2*1.0 - (s*1.0/n)*((a2*1.0)+(b2*1.0)) + (n-2)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r2,
         ((p3*1.0 - (s*1.0/n)*((a3*1.0)+(b3*1.0)) + (n-3)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r3,
         ((p4*1.0 - (s*1.0/n)*((a4*1.0)+(b4*1.0)) + (n-4)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r4,
         ((p5*1.0 - (s*1.0/n)*((a5*1.0)+(b5*1.0)) + (n-5)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r5,
         ((p6*1.0 - (s*1.0/n)*((a6*1.0)+(b6*1.0)) + (n-6)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r6,
         ((p7*1.0 - (s*1.0/n)*((a7*1.0)+(b7*1.0)) + (n-7)*(s*1.0/n)*(s*1.0/n)) / (q*1.0 - n*(s*1.0/n)*(s*1.0/n))) AS r7
  FROM agg
)
SELECT n AS n_days,
       CAST(7 AS BIGINT) AS df,
       FLOOR((n * (n + 2.0)
              * (r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3) + r4*r4/(n-4)
                 + r5*r5/(n-5) + r6*r6/(n-6) + r7*r7/(n-7)))
             * 1000000 + 0.5) / 1000000 AS q_stat,
       CASE WHEN n * (n + 2.0)
                 * (r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3) + r4*r4/(n-4)
                    + r5*r5/(n-5) + r6*r6/(n-6) + r7*r7/(n-7)) > 14.067
            THEN 'autocorrelated' ELSE 'white_noise' END AS verdict
FROM r
"""


@register("timeseries_ljung_box", oracle=LJUNG_BOX_ORACLE)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q test (m=7, df=7, 5% critical 14.067) on daily
    revenue — the one-number "any autocorrelation at all?" gate a
    forecasting pipeline runs before spending on AR terms
    (timeseries_acf_lags is its per-lag diagnostic sibling, and
    this op reuses that op's exact-integer sufficient-statistic
    device verbatim).

    Scale shape: identical to the ACF op — facts collapse to the
    day domain, one window sort of |days|, one-row sufficient
    statistics; Q's 7-term sum is a literal fixed-order expression,
    never an aggregate, so cross-engine bit-parity holds with no
    snapping before the final floor device."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    led = daily.select(
        "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 8)]
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    ]
    for k in range(1, 8):
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(F.col("y") * yk).alias(f"p{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("y"))).alias(f"a{k}"),
            F.sum(yk).alias(f"b{k}"),
        ]
    agg = led.agg(*aggs)
    n = F.col("n")
    ybar = F.col("s") * 1.0 / n
    den = F.col("q") * 1.0 - n * ybar * ybar

    def r(k):
        return (
            F.col(f"p{k}") * 1.0
            - ybar * ((F.col(f"a{k}") * 1.0) + (F.col(f"b{k}") * 1.0))
            + (n - k) * ybar * ybar
        ) / den

    qsum = r(1) * r(1) / (n - 1)
    for k in range(2, 8):
        qsum = qsum + r(k) * r(k) / (n - k)
    qstat = n * (n + 2.0) * qsum
    return agg.select(
        n.cast("long").alias("n_days"),
        F.lit(7).cast("long").alias("df"),
        snap(qstat, 6).alias("q_stat"),
        F.when(qstat > 14.067, "autocorrelated")
        .otherwise("white_noise")
        .alias("verdict"),
    )


BOT_REGULARITY_ORACLE = """
-- Bot-likeness by inter-event regularity: per user with >= 5 gaps,
-- the coefficient of variation of inter-event times (machine
-- traffic is metronomic, cv -> 0; humans are bursty, cv >~ 1) —
-- the behavioral bot filter a training-data pipeline runs over
-- clickstream-adjacent corpora. Gaps are exact integer seconds
-- (floored from exact epoch-microsecond differences), so all
-- moments are exact BIGINT sums and cv is a fixed-order chain.
-- Top-10 most-regular users, deterministic tie-break.
WITH gaps AS (
  SELECT user_id,
         CAST(FLOOR((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1000000.0)
              AS BIGINT) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), stats AS (
  SELECT user_id, COUNT(gap_s) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS sg,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
  HAVING COUNT(gap_s) >= 5 AND SUM(gap_s) > 0
)
SELECT user_id,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       FLOOR((sg * 1.0 / n_gaps) * 100 + 0.5) / 100 AS mean_gap_s,
       FLOOR((SQRT(sgg * 1.0 / n_gaps - (sg * 1.0 / n_gaps) * (sg * 1.0 / n_gaps))
              / (sg * 1.0 / n_gaps)) * 1000000 + 0.5) / 1000000 AS cv
FROM stats
ORDER BY FLOOR((SQRT(sgg * 1.0 / n_gaps - (sg * 1.0 / n_gaps) * (sg * 1.0 / n_gaps))
                / (sg * 1.0 / n_gaps)) * 1000000 + 0.5) / 1000000,
         user_id
LIMIT 10
"""


@register("events_bot_regularity", oracle=BOT_REGULARITY_ORACLE)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-time regularity score per user (coefficient of
    variation of gaps): the behavioral bot screen — metronomic
    actors score near 0, organic users near or above 1. Emits the
    ten most-regular users for review.

    Scale shape: one fact pass; the LAG window partitions by
    user_id (embarrassingly parallel, no global sort) and the
    per-user moments partial-aggregate to the user domain. Gaps are
    exact integer seconds from epoch-microsecond arithmetic, so cv
    is a fixed-order chain on exact BIGINTs; the top-10 is
    TakeOrderedAndProject on the snapped score with a user_id
    tie-break."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id",
        F.floor((us - F.lag(us).over(w)) / 1000000.0).cast("long").alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").alias("sg"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
        )
        .filter((F.col("n_gaps") >= 5) & (F.col("sg") > 0))
    )
    mean = F.col("sg") * 1.0 / F.col("n_gaps")
    cv = F.sqrt(F.col("sgg") * 1.0 / F.col("n_gaps") - mean * mean) / mean
    return (
        stats.select(
            "user_id",
            "n_gaps",
            snap(mean, 2).alias("mean_gap_s"),
            snap(cv, 6).alias("cv"),
        )
        .orderBy("cv", "user_id")
        .limit(10)
    )


ROLLING_Z_BY_KEY_ORACLE = """
-- Per-supplier rolling z-score anomalies on weekly net revenue:
-- 8-week rolling mean/sd per supplier, flag weeks with |z| > 2 —
-- the PARTITIONED rolling-anomaly shape (every rolling op so far
-- ran on one global series; at 100 TB the per-key form is the one
-- that matters, because each key's window is independent and the
-- whole computation is embarrassingly parallel across keys).
-- Weekly values are exact integer cents; rolling moments are exact
-- BIGINT window sums; z and the flag are fixed-order chains.
WITH weekly AS (
  SELECT l_suppkey,
         STRFTIME(date_trunc('week', l_shipdate), '%Y-%m-%d') AS wk,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1, 2
), rolled AS (
  SELECT l_suppkey, wk, cents,
         COUNT(*) OVER w AS cnt,
         CAST(SUM(cents) OVER w AS BIGINT) AS sv,
         CAST(SUM(cents * cents) OVER w AS BIGINT) AS sv2
  FROM weekly
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY wk
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
), z AS (
  SELECT l_suppkey, wk, cents,
         (cents - sv * 1.0 / 8)
           / SQRT(sv2 * 1.0 / 8 - (sv * 1.0 / 8) * (sv * 1.0 / 8)) AS zval
  FROM rolled
  WHERE cnt = 8
    AND sv2 * 1.0 / 8 - (sv * 1.0 / 8) * (sv * 1.0 / 8) > 0
)
SELECT l_suppkey, wk AS week_start, CAST(cents AS BIGINT) AS week_cents,
       FLOOR(zval * 10000 + 0.5) / 10000 AS z_score
FROM z WHERE ABS(zval) > 2
ORDER BY l_suppkey, wk
"""


@register("timeseries_rolling_zscore_by_key", oracle=ROLLING_Z_BY_KEY_ORACLE)
def timeseries_rolling_zscore_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier 8-week rolling z-score anomalies on net weekly
    revenue — the PARTITIONED rolling-anomaly operator (the global-
    series rolling ops don't exercise the shape that matters at
    100 TB: windows partitioned by a high-cardinality key, where
    every partition is independent and Spark parallelizes across
    the key domain with no global sort).

    Scale shape: one fact pass partial-aggregates to (supplier,
    week); the window sorts WITHIN supplier partitions only (the
    per-partition sort is |weeks|-sized); moments are exact BIGINT
    window sums over integer cents, so the |z|>2 flag is a
    deterministic fixed-order comparison. Zero-variance windows are
    excluded in both engines before the division."""
    li = load_table(spark, sf_dir, "lineitem", parallel=False)
    weekly = li.groupBy(
        "l_suppkey",
        F.date_format(F.date_trunc("week", "l_shipdate"), "yyyy-MM-dd").alias(
            "wk"
        ),
    ).agg(
        F.sum(
            fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        ).alias("cents")
    )
    w = Window.partitionBy("l_suppkey").orderBy("wk").rowsBetween(-7, 0)
    rolled = weekly.select(
        "l_suppkey",
        "wk",
        "cents",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("cents").over(w).alias("sv"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("sv2"),
    )
    mean = F.col("sv") * 1.0 / 8
    var = F.col("sv2") * 1.0 / 8 - mean * mean
    zval = (F.col("cents") - mean) / F.sqrt(var)
    return (
        rolled.filter((F.col("cnt") == 8) & (var > 0))
        .filter(F.abs(zval) > 2)
        .select(
            "l_suppkey",
            F.col("wk").alias("week_start"),
            F.col("cents").alias("week_cents"),
            snap(zval, 4).alias("z_score"),
        )
        .orderBy("l_suppkey", "wk")
    )


CROSS_CORR_ORACLE = """
-- Lagged cross-correlation between two daily event-count series
-- (views leading purchases): Pearson corr of (views_t,
-- purchases_{t+lag}) for lag 0..7 — the does-X-lead-Y question
-- behind campaign attribution. All five moments are exact BIGINT
-- sums of integer daily counts, so corr is a fixed-order float
-- chain on identical integers in both engines; one sqrt at the
-- end, snapped on the 6-decimal grid.
WITH daily AS (
  SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events GROUP BY 1
), lags AS (
  SELECT l.lag, a.v AS x, b.p AS y
  FROM daily a
  JOIN (SELECT UNNEST(RANGE(0, 8)) AS lag) l ON TRUE
  JOIN daily b ON b.d = STRFTIME(CAST(a.d AS DATE) + l.lag * INTERVAL 1 DAY,
                                 '%Y-%m-%d')
), mom AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM lags GROUP BY lag
)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       FLOOR((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
             * 1000000 + 0.5) / 1000000 AS ccf
FROM mom
ORDER BY lag
"""


@register("timeseries_cross_correlation", oracle=CROSS_CORR_ORACLE)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation (CCF) between the daily view and
    purchase count series, lags 0..7 — 'do views lead purchases,
    and by how many days?'.

    Plan: one events pass conditional-aggregates to |days| rows;
    the 8-lag expansion is an 8-row broadcast cross join plus an
    equi-join back on the shifted date (|days| * 8 rows — driver-
    tiny next to the fact scan); all Pearson moments are exact
    BIGINT sums of integer counts, so the only float math is the
    final fixed-order corr expression — identical in both engines
    on identical integers. At 100 TB the daily rollup is the
    standard map-side-combine reduction; the CCF itself never sees
    the raw events."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "p"
        ),
    )
    lags = spark.range(0, 8).select(F.col("id").alias("lag"))
    pairs = (
        daily.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            daily.select(F.col("d").alias("bd"), F.col("p").alias("y")),
            F.col("bd")
            == F.date_format(
                F.date_add(F.to_date("a.d"), F.col("lag").cast("int")),
                "yyyy-MM-dd",
            ),
        )
        .select("lag", F.col("a.v").alias("x"), "y")
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx) * 1.0 * (n * F.col("syy") - sy * sy)
    )
    return mom.select(
        "lag",
        n.cast("long").alias("n_pairs"),
        snap(num / den, 6).alias("ccf"),
    ).orderBy("lag")


GRANGER_ORACLE = """
-- Granger-style lead-lag probe: does yesterday's VIEW count improve
-- the 1-step autoregression of today's PURCHASE count? Compares
-- R^2 of p_t ~ p_{t-1} against p_t ~ p_{t-1} + v_{t-1} (closed-form
-- OLS). All raw moments are exact BIGINT sums of integer daily
-- counts; the centered S-terms (n*Sxy - Sx*Sy) stay exact in int64
-- (~1e12 at sf1 daily scale; exact-double to 2^53, i.e. through
-- ~sf100 — documented boundary); the determinant algebra is one
-- fixed-order float chain, identical in both engines.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
  FROM events GROUP BY 1
), lagged AS (
  SELECT p AS y,
         LAG(p) OVER (ORDER BY d) AS x1,
         LAG(v) OVER (ORDER BY d) AS x2
  FROM daily
  QUALIFY x1 IS NOT NULL
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
         SUM(x1*x1) AS sx1x1, SUM(x2*x2) AS sx2x2, SUM(x1*x2) AS sx1x2,
         SUM(x1*y) AS sx1y, SUM(x2*y) AS sx2y, SUM(y*y) AS syy
  FROM lagged
), cs AS (
  SELECT n,
         CAST(n*sx1x1 - sx1*sx1 AS DOUBLE) AS s11,
         CAST(n*sx2x2 - sx2*sx2 AS DOUBLE) AS s22,
         CAST(n*sx1x2 - sx1*sx2 AS DOUBLE) AS s12,
         CAST(n*sx1y - sx1*sy AS DOUBLE) AS s1y,
         CAST(n*sx2y - sx2*sy AS DOUBLE) AS s2y,
         CAST(n*syy - sy*sy AS DOUBLE) AS sy2
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       FLOOR(s1y * s1y / (s11 * sy2) * 1000000 + 0.5) / 1000000 AS r2_ar1,
       FLOOR((s1y * (s22 * s1y - s12 * s2y) + s2y * (s11 * s2y - s12 * s1y))
             / ((s11 * s22 - s12 * s12) * sy2)
             * 1000000 + 0.5) / 1000000 AS r2_with_views,
       FLOOR(((s1y * (s22 * s1y - s12 * s2y) + s2y * (s11 * s2y - s12 * s1y))
              / ((s11 * s22 - s12 * s12) * sy2)
              - s1y * s1y / (s11 * sy2))
             * 1000000 + 0.5) / 1000000 AS delta_r2
FROM cs
"""


@register("timeseries_granger_lag1", oracle=GRANGER_ORACLE)
def timeseries_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag probe: R^2 gain of adding yesterday's
    view count to the purchase AR(1) regression — the 'does X lead
    Y' causal screen behind media-mix attribution, in closed form
    (no iterative fit).

    Plan: one events pass -> |days| x 2 daily rollup; one lag window
    over the single day-ordered series (|days| rows — the only sort);
    one single-row aggregate of all nine raw moments (exact BIGINT
    on integer counts, map-side combine); the OLS determinant
    algebra runs on the driver-sized row as a fixed-order float
    chain. Exactness boundary: centered S-terms are exact doubles
    to 2^53 (~sf100 daily volumes); past that, rescale counts to
    thousands — documented, not silently wrong (the sweep would
    flag)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "p"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "v"
        ),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        F.col("p").alias("y"),
        F.lag("p").over(w).alias("x1"),
        F.lag("v").over(w).alias("x2"),
    ).filter(F.col("x1").isNotNull())
    mom = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    s11 = (n * F.col("sx1x1") - F.col("sx1") * F.col("sx1")).cast("double")
    s22 = (n * F.col("sx2x2") - F.col("sx2") * F.col("sx2")).cast("double")
    s12 = (n * F.col("sx1x2") - F.col("sx1") * F.col("sx2")).cast("double")
    s1y = (n * F.col("sx1y") - F.col("sx1") * F.col("sy")).cast("double")
    s2y = (n * F.col("sx2y") - F.col("sx2") * F.col("sy")).cast("double")
    sy2 = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r2a = s1y * s1y / (s11 * sy2)
    r2b = (s1y * (s22 * s1y - s12 * s2y) + s2y * (s11 * s2y - s12 * s1y)) / (
        (s11 * s22 - s12 * s12) * sy2
    )
    return mom.select(
        n.cast("long").alias("n_pairs"),
        snap(r2a, 6).alias("r2_ar1"),
        snap(r2b, 6).alias("r2_with_views"),
        snap(r2b - r2a, 6).alias("delta_r2"),
    )


DTW_ORACLE = """
-- Dynamic-time-warping distance between the daily VIEW and PURCHASE
-- count series — the shape-alignment measure that tolerates lag and
-- local stretching where Euclidean (lockstep) distance does not;
-- reported next to the lockstep sum so the gap IS the warping gain.
-- Cost |a_i - b_j| on exact integer counts makes the whole DP exact
-- BIGINT arithmetic: no float enters at any point, so the distance
-- is deterministic by construction. The oracle runs the DP as an
-- ANTI-DIAGONAL WAVEFRONT recursive CTE (each diagonal depends only
-- on the previous two, so every cell of a diagonal is one
-- list_transform; the within-row D(i,j-1) dependency that blocks a
-- row-major SQL formulation lands on the previous diagonal).
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events GROUP BY 1
), s AS (
  SELECT list(CAST(v AS BIGINT) ORDER BY d) AS av,
         list(CAST(p AS BIGINT) ORDER BY d) AS bv,
         COUNT(*) AS n
  FROM daily
), dp AS (
  WITH RECURSIVE diag(k, cur, prev) AS (
    SELECT 2,
           [CAST(abs(av[1] - bv[1]) AS BIGINT)],
           CAST([] AS BIGINT[])
    FROM s
    UNION ALL
    SELECT k + 1,
           list_transform(
             generate_series(greatest(1, k + 1 - n), least(n, k)),
             i -> CAST(abs(av[i] - bv[k + 1 - i]) AS BIGINT) + least(
               CASE WHEN i - 1 >= greatest(1, k - n)
                     AND i - 1 <= least(n, k - 1)
                    THEN cur[(i - 1) - greatest(1, k - n) + 1]
                    ELSE 1152921504606846976 END,
               CASE WHEN i <= k - 1 AND i <= least(n, k - 1)
                     AND i >= greatest(1, k - n)
                     AND k + 1 - i - 1 >= 1
                    THEN cur[i - greatest(1, k - n) + 1]
                    ELSE 1152921504606846976 END,
               CASE WHEN k = 2 THEN
                      CASE WHEN i = 1 AND k + 1 - i = 1 THEN 0
                           ELSE 1152921504606846976 END
                    WHEN i - 1 >= greatest(1, k - 1 - n)
                     AND i - 1 <= least(n, k - 2)
                     AND k + 1 - i - 1 >= 1
                    THEN prev[(i - 1) - greatest(1, k - 1 - n) + 1]
                    ELSE 1152921504606846976 END)
           ),
           cur
    FROM diag, s WHERE k < 2 * n
  )
  SELECT diag.cur[1] AS dtw FROM diag, s WHERE diag.k = 2 * n
), lock AS (
  SELECT CAST(SUM(ABS(av[g.i] - bv[g.i])) AS BIGINT) AS lockstep
  FROM s, (SELECT UNNEST(generate_series(1, 100000)) AS i) g
  WHERE g.i <= n
)
SELECT CAST(s.n AS BIGINT) AS n_days,
       dp.dtw AS dtw_distance,
       lock.lockstep AS lockstep_distance
FROM s, dp, lock
"""


@register("timeseries_dtw_distance", oracle=DTW_ORACLE)
def timeseries_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance between the daily view and purchase count series,
    next to the lockstep (Euclidean-L1) distance — how much better do
    the two shapes align when local time warping is allowed? The
    standard similarity for lag-tolerant series comparison.

    Plan: the fact-sized work is the daily conditional rollup
    (map-side combine to |days| rows). The O(|days|^2) DP then runs
    on DAY-DOMAIN-SIZED state — constant in data volume (~500k cells
    at a 2-year domain) — inside a single-group applyInPandas: the
    right mechanism for small sequential state that SQL cannot
    vectorize (the DP has a within-row dependency), keeping the
    computation engine-side and Arrow-batched rather than collected.
    Integer costs -> exact BIGINT DP -> deterministic distance, no
    float anywhere. At 100 TB nothing changes: the DP input is the
    day domain, not the events."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "v"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "p"
        ),
    )

    def dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        a = [int(x) for x in pdf["v"]]
        b = [int(x) for x in pdf["p"]]
        n = len(a)
        big = 1 << 60
        prev = [big] * (n + 1)
        prev[0] = 0
        for i in range(1, n + 1):
            cur = [big] * (n + 1)
            ai = a[i - 1]
            for j in range(1, n + 1):
                c = ai - b[j - 1]
                if c < 0:
                    c = -c
                best = prev[j]
                if prev[j - 1] < best:
                    best = prev[j - 1]
                if cur[j - 1] < best:
                    best = cur[j - 1]
                cur[j] = c + best
            prev = cur
        lock = sum(abs(x - y) for x, y in zip(a, b))
        return pd.DataFrame(
            {"n_days": [n], "dtw_distance": [prev[n]], "lockstep_distance": [lock]}
        )

    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(dp, "n_days long, dtw_distance long, lockstep_distance long")
    )


ANOVA_WEEKDAY_ORACLE = """
-- One-way ANOVA: does weekday explain daily purchase volume?
-- F = (SSB/(k-1)) / (SSW/(n-k)) over the 7 weekday groups of the
-- daily purchase-count series — the is-there-a-weekly-cycle test
-- run before fitting any seasonal model. Group moments are exact
-- BIGINT sums of integer daily counts; SSB/SSW are assembled from
-- them in one fixed-order float chain (the textbook identity
-- SSW = sum(q_g - s_g^2/n_g), SSB = sum(s_g^2/n_g) - S^2/N), so F
-- and the group means match bit-for-bit.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events GROUP BY 1
), grp AS (
  SELECT dayofweek(d) AS wd, COUNT(*) AS ng,
         SUM(p) AS sg, SUM(p * p) AS qg
  FROM daily GROUP BY 1
), tot AS (
  -- e = sum(sg^2/ng) would be a 7-term ORDER-DEPENDENT float sum
  -- (the class the multi-scale sweep exists to catch); each term is
  -- snapped to an exact 1e-4 integer first so the SUM is order-free
  -- BIGINT (terms exact-double to 2^53 -> valid through ~sf100)
  SELECT COUNT(*) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(sg) AS BIGINT) AS s,
         CAST(SUM(qg) AS BIGINT) AS q,
         -- sg promoted to double BEFORE squaring (round-8 advisor
         -- fix: an int64 sg*sg*10000 wraps silently in Spark past
         -- sg ~ 3e7, well below the documented 2^53 boundary), and
         -- the term SUM kept WIDE (HUGEINT here, DECIMAL(38,0) in
         -- Spark — the snapped terms themselves exceed int64 past
         -- sg ~ 3e7 too). Both engines convert the SAME exact
         -- integer to double before the one division, so e is
         -- bit-identical across engines at any realistic volume.
         SUM(CAST(FLOOR(sg * 1.0 * sg * 10000 / ng + 0.5) AS BIGINT))
              / 10000.0 AS e
  FROM grp
)
SELECT CAST(k AS BIGINT) AS n_groups, n AS n_days,
       FLOOR((e - s * 1.0 * s / n) * 10000 + 0.5) / 10000 AS ss_between,
       FLOOR((q - e) * 10000 + 0.5) / 10000 AS ss_within,
       FLOOR(((e - s * 1.0 * s / n) / (k - 1)) / ((q - e) / (n - k))
             * 1000000 + 0.5) / 1000000 AS f_stat
FROM tot
"""


@register("events_anova_weekday", oracle=ANOVA_WEEKDAY_ORACLE)
def events_anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test for a weekday effect on daily purchase
    volume — the formal is-there-a-weekly-cycle screen run before
    fitting seasonal structure (the seasonal-decompose operator
    assumes the cycle; this one tests it).

    Plan: events reduce to |days| rows (map-side combine), weekday
    groups reduce those to 7 moment rows, and the F assembly is a
    single-row fixed-order float chain over exact BIGINT moments
    (the only non-integer term, sum(s_g^2/n_g), is formed in group
    order in both engines — 7 terms, deterministic). Scan-bound at
    every scale; the date domain never grows with volume."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "p"
        )
    )
    grp = daily.groupBy(F.dayofweek("d").alias("wd")).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("p").alias("sg"),
        F.sum(F.col("p") * F.col("p")).alias("qg"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        # per-group 1e-4 integer snap -> ORDER-FREE BIGINT sum (see
        # the oracle note: a raw float sum over groups is the
        # cross-engine summation-order class)
        (
            F.sum(
                # promote BEFORE squaring: int64 sg*sg*10000 wraps
                # silently (non-ANSI) past sg ~ 3e7 — round-8 advisor
                # fix, mirrored in the oracle; the SUM is DECIMAL(38,0)
                # (oracle: HUGEINT) because the snapped terms exceed
                # int64 at the same point
                fixed(
                    F.col("sg") * 1.0 * F.col("sg") * 10000 / F.col("ng"), 0
                ).cast("decimal(38,0)")
            )
            / 10000.0
        ).alias("e"),
    )
    k, n, s, q, e = (F.col(c) for c in ["k", "n", "s", "q", "e"])
    ssb = e - s * 1.0 * s / n
    ssw = q - e
    return tot.select(
        k.cast("long").alias("n_groups"),
        n.alias("n_days"),
        snap(ssb, 4).alias("ss_between"),
        snap(ssw, 4).alias("ss_within"),
        snap((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
    )



PERIODOGRAM_ORACLE = """
-- Fixed-frequency periodogram of the daily purchase series: spectral
-- power at candidate periods 7 / 14 / 30 days — the direct detector
-- for 'is there a weekly cycle, and is it the dominant one?'
-- (complements the ANOVA operator, which tests weekday group means
-- but cannot rank periods). Power P = (sum x_t cos(2 pi t / P))^2 +
-- (sum x_t sin(2 pi t / P))^2 over the day index t. Each trig term
-- is snapped to an exact 1e-6 integer so both accumulations are
-- order-free BIGINT sums (counts x trig <= ~1e12 exact-double at
-- any realistic daily volume); the squares are formed from exact
-- values in one fixed chain.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT x, date_diff('day', (SELECT MIN(d) FROM daily), d) AS t
  FROM daily
), per(p) AS (VALUES (7), (14), (30)),
acc AS (
  SELECT p,
         SUM(CAST(FLOOR(x * cos(2 * pi() * t / p) * 1000000 + 0.5)
                  AS BIGINT)) AS a,
         SUM(CAST(FLOOR(x * sin(2 * pi() * t / p) * 1000000 + 0.5)
                  AS BIGINT)) AS b,
         COUNT(*) AS n
  FROM idx CROSS JOIN per
  GROUP BY p
)
SELECT p AS period_days,
       CAST(n AS BIGINT) AS n_days,
       FLOOR(((a / 1000000.0) * (a / 1000000.0)
              + (b / 1000000.0) * (b / 1000000.0)) / n * 10000 + 0.5)
         / 10000 AS power_per_day
FROM acc
ORDER BY period_days
"""


@register("timeseries_periodogram_fixed", oracle=PERIODOGRAM_ORACLE)
def timeseries_periodogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram at fixed candidate periods (7/14/30 days) over the
    daily purchase series — ranks cyclic structure by spectral power
    where the ANOVA operator can only test one grouping.

    Plan: one fact pass to |days| rows; the 3-period expansion is an
    inline literal explode over the day-domain table; trig terms
    snap to exact 1e-6 integers so the cos/sin accumulations are
    ORDER-FREE BIGINT sums (the raw float sum is the known
    cross-engine summation-order class); squares form from exact
    values in one fixed chain. Per-term libm-vs-JVM trig ulps sit
    behind the snap (same accepted boundary posture as ln in
    Zipf/Theil — the multi-scale sweep is the standing detector)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "x"
        )
    )
    lo = daily.agg(F.min("d").alias("lo"))
    idx = daily.crossJoin(F.broadcast(lo)).select(
        "x", F.datediff("d", "lo").alias("t")
    )
    periods = F.explode(F.array(F.lit(7), F.lit(14), F.lit(30)))
    two_pi = 2 * 3.141592653589793
    expanded = idx.select("x", "t", periods.alias("p"))
    ang = two_pi * F.col("t") / F.col("p")
    acc = expanded.groupBy("p").agg(
        F.sum(fixed(F.col("x") * F.cos(ang), 6)).alias("a"),
        F.sum(fixed(F.col("x") * F.sin(ang), 6)).alias("b"),
        F.count(F.lit(1)).alias("n"),
    )
    af, bf = F.col("a") / 1000000.0, F.col("b") / 1000000.0
    return acc.select(
        F.col("p").alias("period_days"),
        F.col("n").cast("long").alias("n_days"),
        snap((af * af + bf * bf) / F.col("n"), 4).alias("power_per_day"),
    ).orderBy("period_days")


HURST_RS_ORACLE = """
-- Hurst exponent via rescaled-range (R/S) analysis of the daily
-- purchase series: mean R/S over non-overlapping blocks of sizes
-- 8/16/32, then H = slope of ln(mean R/S) on ln(m) — the
-- long-memory probe (H ~ 0.5 random, > 0.5 trending, < 0.5
-- mean-reverting). EXACT device: with integer block sums s,
-- squares q and prefixes, m*Z_k = m*pref_k - (k+1)*s is exact
-- BIGINT, and R/S = (max mZ - min mZ) / sqrt(m*q - s^2) — exact
-- integers into ONE division+sqrt per block; per-block values snap
-- to 1e-6 integers so each size's mean is an order-free BIGINT
-- sum; the 3-point log-log slope runs on 1e-6-snapped integer
-- coordinates, so even the final regression is exact integer
-- arithmetic up to one division.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), seq AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY d) - 1 AS rn FROM daily
), sizes(m) AS (VALUES (8), (16), (32)),
rows_ AS (
  SELECT m, CAST(FLOOR(rn / m) AS BIGINT) AS blk, rn % m AS k, x,
         CAST(SUM(x) OVER (PARTITION BY m, CAST(FLOOR(rn / m) AS BIGINT)
                           ORDER BY rn) AS BIGINT) AS pref
  FROM seq CROSS JOIN sizes
), tot AS (
  SELECT m, blk, COUNT(*) AS cnt,
         CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS q
  FROM rows_ GROUP BY 1, 2
), mz AS (
  SELECT r.m, r.blk,
         MAX(r.m * r.pref - (r.k + 1) * t.s) AS mx,
         MIN(r.m * r.pref - (r.k + 1) * t.s) AS mn,
         ANY_VALUE(t.s) AS s, ANY_VALUE(t.q) AS q, ANY_VALUE(t.cnt) AS cnt
  FROM rows_ r JOIN tot t ON t.m = r.m AND t.blk = r.blk
  GROUP BY 1, 2
), rs AS (
  SELECT m, CAST(FLOOR((mx - mn) / SQRT(m * q - s * s) * 1000000 + 0.5)
                 AS BIGINT) AS rs_micro
  FROM mz WHERE cnt = m AND m * q - s * s > 0
), mean_rs AS (
  SELECT m, COUNT(*) AS n_blocks,
         CAST(FLOOR(SUM(rs_micro) * 1.0 / COUNT(*) + 0.5) AS BIGINT)
           AS mean_micro
  FROM rs GROUP BY m
), pts AS (
  SELECT m, n_blocks, mean_micro,
         CAST(FLOOR(ln(m * 1.0) * 1000000 + 0.5) AS BIGINT) AS u,
         CAST(FLOOR(ln(mean_micro / 1000000.0) * 1000000 + 0.5) AS BIGINT)
           AS v
  FROM mean_rs
), slope AS (
  SELECT (COUNT(*) * SUM(u * v) - SUM(u) * SUM(v)) * 1.0
           / (COUNT(*) * SUM(u * u) - SUM(u) * SUM(u)) AS h
  FROM pts
)
SELECT pts.m AS block_size,
       CAST(pts.n_blocks AS BIGINT) AS n_blocks,
       pts.mean_micro / 1000000.0 AS mean_rs,
       FLOOR(slope.h * 10000 + 0.5) / 10000 AS hurst_h
FROM pts CROSS JOIN slope
ORDER BY block_size
"""


@register("timeseries_hurst_rs", oracle=HURST_RS_ORACLE)
def timeseries_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (rescaled-range) of the daily purchase series —
    does demand have long memory (H > 0.5), or does the ACF
    operator's short-lag view miss nothing (H ~ 0.5)?

    Plan: |days| rows after the fact rollup; each (size, block)
    partition computes its R/S independently (embarrassingly
    parallel across blocks — the form that scales); exactness runs
    deeper than usual: m*Z_k and the variance radicand are exact
    BIGINT, each block's R/S snaps to a 1e-6 integer (order-free
    per-size mean), and even the final log-log regression runs on
    snapped integer coordinates — the ONLY float steps are one
    sqrt+division per block, two ln calls per size, and the last
    slope division."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "x"
        )
    )
    seq = daily.select(
        "x", (F.row_number().over(Window.orderBy("d")) - 1).alias("rn")
    )
    sizes = F.explode(F.array(F.lit(8), F.lit(16), F.lit(32)))
    rows_ = seq.select("x", "rn", sizes.alias("m")).select(
        "m",
        F.floor(F.col("rn") / F.col("m")).cast("long").alias("blk"),
        (F.col("rn") % F.col("m")).alias("k"),
        "x",
    )
    wb = Window.partitionBy("m", "blk").orderBy("k")
    rows_ = rows_.select(
        "m", "blk", "k", "x", F.sum("x").over(wb).cast("long").alias("pref")
    )
    tot = rows_.groupBy("m", "blk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    mzv = F.col("m") * F.col("pref") - (F.col("k") + 1) * F.col("s")
    mz = (
        rows_.join(tot, ["m", "blk"])
        .groupBy("m", "blk")
        .agg(
            F.max(mzv).alias("mx"),
            F.min(mzv).alias("mn"),
            F.first("s").alias("s"),
            F.first("q").alias("q"),
            F.first("cnt").alias("cnt"),
        )
    )
    rs = mz.filter(
        (F.col("cnt") == F.col("m"))
        & (F.col("m") * F.col("q") - F.col("s") * F.col("s") > 0)
    ).select(
        "m",
        fixed(
            (F.col("mx") - F.col("mn"))
            / F.sqrt(F.col("m") * F.col("q") - F.col("s") * F.col("s")),
            6,
        )
        .alias("rs_micro"),
    )
    mean_rs = rs.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        fixed(F.sum("rs_micro") * 1.0 / F.count(F.lit(1)), 0).alias("mean_micro"),
    )
    pts = cached(mean_rs.select(
        "m",
        "n_blocks",
        "mean_micro",
        fixed(F.log(F.col("m") * 1.0), 6).alias("u"),
        fixed(F.log(F.col("mean_micro") / 1000000.0), 6).alias("v"),
    ))
    slope = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum(F.col("u") * F.col("v"))
                - F.sum("u") * F.sum("v")
            )
            * 1.0
            / (
                F.count(F.lit(1)) * F.sum(F.col("u") * F.col("u"))
                - F.sum("u") * F.sum("u")
            )
        ).alias("h")
    )
    return (
        pts.crossJoin(F.broadcast(slope))
        .select(
            F.col("m").alias("block_size"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            (F.col("mean_micro") / 1000000.0).alias("mean_rs"),
            snap(F.col("h"), 4).alias("hurst_h"),
        )
        .orderBy("block_size")
    )


GAPS_ISLANDS_ORACLE = """
-- Gaps-and-islands over DATE sequences: contiguous runs of active
-- days per user (events), as (island_start, island_end, length)
-- ranges via the rn-difference device — date minus a per-user row
-- number is CONSTANT within a consecutive run, so one window + one
-- groupBy materializes every island without self-joins or
-- recursion. The canonical continuity question ('how long was the
-- user continuously active?') that sessionize-by-gap answers for
-- timestamps and this answers for calendar days. Top-15 longest
-- islands with full tiebreaks.
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), marked AS (
  SELECT user_id, d,
         CAST(d AS DATE) - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
  FROM active
), islands AS (
  SELECT user_id,
         STRFTIME(MIN(d), '%Y-%m-%d') AS island_start,
         STRFTIME(MAX(d), '%Y-%m-%d') AS island_end,
         COUNT(*) AS n_days
  FROM marked GROUP BY user_id, grp
)
SELECT user_id, island_start, island_end,
       CAST(n_days AS BIGINT) AS n_days
FROM islands
ORDER BY n_days DESC, user_id, island_start
LIMIT 15
"""


@register("window_gaps_islands_dates", oracle=GAPS_ISLANDS_ORACLE)
def window_gaps_islands_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous active-day runs per user as
    (start, end, length) ranges via the rn-difference device (date
    minus per-user row number is constant within a run) — one
    window, one groupBy, no self-join and no recursion. Top-15
    longest islands, fully tiebroken.

    Plan: distinct (user, day) with map-side partial dedup; the
    window sorts WITHIN user partitions only (the per-key
    partitioned shape — parallel across the user domain); islands
    are a second hash aggregate on (user, grp). At 100 TB the
    distinct is the only fact-sized stage."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    marked = active.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    return (
        marked.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
        .orderBy(F.col("n_days").desc(), "user_id", "island_start")
        .limit(15)
    )


# ---------------------- wave 22: Lo-MacKinlay variance-ratio test

VARIANCE_RATIO_ORACLE = """
-- Variance-ratio test (Lo-MacKinlay, q=5, unadjusted homoskedastic
-- form) on the daily-revenue series: VR significantly above 1 means
-- positive serial correlation (trending), below 1 mean-reversion —
-- the random-walk diagnostic behind the Hurst and runs-test
-- operators, expressed through variances of q-period sums.
-- EXACT device: all sufficient statistics (sum/sum-of-squares of
-- 1-day diffs and of overlapping 5-day diffs) are exact integer
-- cents via the expansion sum((x-mu)^2) = sum(x^2) - n*mu^2, so
-- VR and z are one fixed-order scalar chain, identical both
-- engines. sum(d^2) is summed WIDE (HUGEINT / DECIMAL(38,0)) —
-- daily-diff cents squared top int64 past ~3e9 cents/day.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), seq AS (
  SELECT y,
         LAG(y, 1) OVER (ORDER BY d) AS y1,
         LAG(y, 5) OVER (ORDER BY d) AS y5
  FROM daily
), agg AS (
  -- diffs promoted to HUGEINT BEFORE squaring (round-10 advisor
  -- fix): a BIGINT d*d raises past |d|~3e9 cents while the promoted
  -- multiply stays exact — the widening must protect the term, not
  -- just the accumulation
  SELECT COUNT(y1) AS n,
         SUM(y - y1) AS sd,
         SUM(CAST(y - y1 AS HUGEINT) * (y - y1)) AS qd,
         COUNT(y5) AS n5,
         SUM(y - y5) AS s5,
         SUM(CAST(y - y5 AS HUGEINT) * (y - y5)) AS q5
  FROM seq
), chain AS (
  SELECT n, n5,
         (qd * 1.0 - n * (sd * 1.0 / n) * (sd * 1.0 / n)) / n AS v1,
         (q5 * 1.0 - n5 * (5 * (sd * 1.0 / n)) * (5 * (sd * 1.0 / n)))
           / (n5 * 5.0) AS v5
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n_diffs,
       FLOOR(v5 / v1 * 1000000 + 0.5) / 1000000 AS variance_ratio,
       FLOOR((v5 / v1 - 1.0)
             / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n))
             * 1000000 + 0.5) / 1000000 AS z_score
FROM chain
"""


@register("timeseries_variance_ratio", oracle=VARIANCE_RATIO_ORACLE)
def timeseries_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio random-walk test at horizon q=5 (see oracle).
    Scale shape: facts collapse to |days| map-side; both LAG columns
    share one window sort; the test is a single-row scalar chain."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    seq = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 5).over(w).alias("y5"),
    )
    d1 = F.col("y") - F.col("y1")
    d5 = F.col("y") - F.col("y5")
    # promote BEFORE squaring (round-10 advisor fix): casting only
    # the product to DECIMAL(38,0) widened the sum but left an int64
    # multiply that wraps silently past |d|~3e9 cents; the decimal
    # operand makes the multiply itself exact, matching the oracle's
    # CAST(d AS HUGEINT) * d
    agg = seq.agg(
        F.count("y1").alias("n"),
        F.sum(d1).alias("sd"),
        F.sum(d1.cast("decimal(38,0)") * d1).alias("qd"),
        F.count("y5").alias("n5"),
        F.sum(d5).alias("s5"),
        F.sum(d5.cast("decimal(38,0)") * d5).alias("q5"),
    )
    n, n5, sd = F.col("n"), F.col("n5"), F.col("sd")
    mu = sd * 1.0 / n
    v1 = (F.col("qd") * 1.0 - n * mu * mu) / n
    v5 = (F.col("q5") * 1.0 - n5 * (5 * mu) * (5 * mu)) / (n5 * 5.0)
    vr = v5 / v1
    return agg.select(
        n.cast("long").alias("n_diffs"),
        snap(vr, 6).alias("variance_ratio"),
        snap(
            (vr - 1.0)
            / F.sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n)),
            6,
        ).alias("z_score"),
    )


# ------------------------------- wave 22: week-over-week growth

WOW_GROWTH_ORACLE = """
-- Week-over-week revenue growth with a 4-week trailing mean — the
-- BI staple over the weekly rollup: exact integer weekly cents, the
-- growth division and the trailing mean each one IEEE op on exact
-- integers (the 4-week SUM is integral; dividing by the window row
-- COUNT keeps partial leading windows well-defined).
WITH weekly AS (
  SELECT date_trunc('week', ts) AS wk,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS rev
  FROM events GROUP BY 1
), seq AS (
  SELECT wk, rev,
         LAG(rev) OVER (ORDER BY wk) AS prev,
         SUM(rev) OVER (ORDER BY wk
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s4,
         COUNT(*) OVER (ORDER BY wk
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c4
  FROM weekly
)
SELECT STRFTIME(wk, '%Y-%m-%d') AS week_start,
       rev AS revenue_cents,
       FLOOR(CASE WHEN prev IS NULL OR prev = 0 THEN 0.0
                  ELSE (rev - prev) * 1.0 / prev END
             * 1000000 + 0.5) / 1000000 AS wow_growth,
       FLOOR(s4 * 1.0 / c4 * 10000 + 0.5) / 10000 AS trailing4_mean
FROM seq
ORDER BY week_start
"""


@register("timeseries_wow_growth", oracle=WOW_GROWTH_ORACLE)
def timeseries_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue, WoW growth, 4-week trailing mean (see oracle).
    Scale shape: facts collapse to |weeks| map-side; one window sort
    of the weeks table serves LAG and both trailing frames."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    weekly = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        fixed(F.sum("value"), 2).alias("rev")
    )
    w = Window.orderBy("wk")
    wf = w.rowsBetween(-3, 0)
    seq = weekly.select(
        "wk",
        "rev",
        F.lag("rev").over(w).alias("prev"),
        F.sum("rev").over(wf).alias("s4"),
        F.count(F.lit(1)).over(wf).alias("c4"),
    )
    growth = (
        F.when(
            F.col("prev").isNull() | (F.col("prev") == 0), F.lit(0.0)
        ).otherwise(
            (F.col("rev") - F.col("prev")) * 1.0 / F.col("prev")
        )
    )
    return seq.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        F.col("rev").alias("revenue_cents"),
        snap(growth, 6).alias("wow_growth"),
        snap(F.col("s4") * 1.0 / F.col("c4"), 4).alias("trailing4_mean"),
    ).orderBy("week_start")


# ------------------------- wave 24: spectral entropy of the daily series

SPECTRAL_ENTROPY_ORACLE = """
-- Spectral entropy of the daily purchase series over the fixed
-- period grid 2..30 days: H = -sum(q ln q)/ln(K) with q the
-- normalized periodogram powers — ONE number in [0,1] that says
-- 'how concentrated is this series' cyclic energy' (0 = one pure
-- cycle, 1 = white noise); the scalar summary on top of
-- timeseries_periodogram_fixed's 3-period detail view. Same exact
-- device as the periodogram: every trig term snaps to a 1e-6
-- integer so the per-period accumulations are order-free BIGINT
-- sums; powers snap to 1e-6 before the cross-period normalization
-- and each entropy term snaps to 1e-9 before its order-free sum
-- (per-term libm-vs-JVM ulps sit behind the snaps — the accepted
-- ln/trig boundary posture of Zipf/Theil/periodogram).
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT x, date_diff('day', (SELECT MIN(d) FROM daily), d) AS t
  FROM daily
), per AS (
  SELECT UNNEST(range(2, 31)) AS p
), acc AS (
  SELECT p,
         SUM(CAST(FLOOR(x * cos(2 * pi() * t / p) * 1000000 + 0.5)
                  AS BIGINT)) AS a,
         SUM(CAST(FLOOR(x * sin(2 * pi() * t / p) * 1000000 + 0.5)
                  AS BIGINT)) AS b,
         COUNT(*) AS n
  FROM idx CROSS JOIN per
  GROUP BY p
), pw AS (
  SELECT p,
         CAST(FLOOR(((a / 1000000.0) * (a / 1000000.0)
                     + (b / 1000000.0) * (b / 1000000.0)) / n
                    * 1000000 + 0.5) AS BIGINT) AS p6
  FROM acc
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(p6) AS BIGINT) AS s6 FROM pw
), ent AS (
  SELECT CAST(SUM(CASE WHEN p6 > 0
              THEN CAST(FLOOR((p6 * 1.0 / s6) * ln(p6 * 1.0 / s6)
                              * 1000000000 - 0.5) AS BIGINT) + 1
              ELSE 0 END) AS BIGINT) AS e9
  FROM pw, tot
)
SELECT CAST(k AS BIGINT) AS n_periods,
       CAST(s6 AS BIGINT) AS total_power6,
       FLOOR(-(e9 / 1000000000.0) / ln(k * 1.0) * 1000000 + 0.5)
         / 1000000 AS spectral_entropy
-- k > 0: on a 0-row series the period table is empty and ln(k)
-- would raise; the Spark side emits no rows there too
-- (empty-corpus sweep, round 14). k = 29 on any non-empty input.
FROM ent, tot WHERE k > 0
"""


@register("timeseries_spectral_entropy", oracle=SPECTRAL_ENTROPY_ORACLE)
def timeseries_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy over the 2..30-day period grid
    (see oracle) — the concentration summary of the periodogram.

    Scale shape: one fact pass to |days| rows; the 29-period
    expansion explodes the DAY-DOMAIN table only (29x ~1e3 rows, not
    facts); per-period trig sums are order-free snapped-integer
    reductions; powers, normalization and entropy are a 29-row
    fixed chain with every cross-period sum on an integer grid.
    q*ln(q) terms snap with FLOOR(...*1e9 - 0.5)+1 (ceil-style) so
    the always-negative terms round identically in both engines."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x")
    )
    lo = daily.agg(F.min("d").alias("lo"))
    idx = daily.crossJoin(F.broadcast(lo)).select(
        "x", F.datediff("d", "lo").alias("t")
    )
    periods = F.explode(
        F.sequence(F.lit(2), F.lit(30))
    )
    two_pi = 2 * 3.141592653589793
    expanded = idx.select("x", "t", periods.alias("p"))
    ang = two_pi * F.col("t") / F.col("p")
    acc = expanded.groupBy("p").agg(
        F.sum(fixed(F.col("x") * F.cos(ang), 6)).alias("a"),
        F.sum(fixed(F.col("x") * F.sin(ang), 6)).alias("b"),
        F.count(F.lit(1)).alias("n"),
    )
    af, bf = F.col("a") / 1000000.0, F.col("b") / 1000000.0
    pw = acc.select(
        "p",
        fixed((af * af + bf * bf) / F.col("n"), 6).alias("p6"),
    )
    w_all = Window.partitionBy(F.lit(1))
    pw2 = pw.select(
        "p6",
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum("p6").over(w_all).cast("long").alias("s6"),
    )
    q = F.col("p6") * 1.0 / F.col("s6")
    term9 = F.when(
        F.col("p6") > 0,
        F.floor(q * F.log(q) * 1000000000 - F.lit(0.5)).cast("long")
        + F.lit(1),
    ).otherwise(F.lit(0))
    ent = pw2.groupBy("k", "s6").agg(F.sum(term9).alias("e9"))
    return ent.select(
        F.col("k").cast("long").alias("n_periods"),
        F.col("s6").cast("long").alias("total_power6"),
        snap(
            -(F.col("e9") / 1000000000.0) / F.log(F.col("k") * 1.0),
            6,
        ).alias("spectral_entropy"),
    )


# ----------------------------- wave 24: Hampel filter outlier flags

HAMPEL_ORACLE = """
-- Hampel filter over daily revenue: a day is an outlier when its
-- deviation from the +-3-day rolling MEDIAN exceeds 3 * 1.4826 *
-- rolling MAD — the robust alternative to the rolling-zscore
-- operator (one promo day inflates a mean/std band and masks the
-- next outlier; median/MAD bands don't move). EXACT device: revenue
-- is integer cents; the frame is materialized as a sorted LIST so
-- median and MAD come out as exact integers in 2x/4x units
-- (odd: 2*mid; even: lo+hi), and the flag is the INTEGER comparison
-- 20000*dev2 > 44478*mad4  (= |x-med| > 4.4478*mad exactly, since
-- dev2 = 2|x-med| and mad4 = 4*mad) — no float anywhere.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS rev
  FROM events GROUP BY 1
), fr AS (
  SELECT d, rev,
         list_sort(LIST(rev) OVER (ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS w
  FROM daily
), med AS (
  SELECT d, rev, w, len(w) AS nw,
         CASE WHEN len(w) % 2 = 1 THEN 2 * w[(len(w) + 1) // 2]
              ELSE w[len(w) // 2] + w[len(w) // 2 + 1] END AS med2
  FROM fr
), dev AS (
  SELECT d, rev, nw, med2,
         list_sort(list_transform(w, v -> ABS(2 * v - med2))) AS dv
  FROM med
), mad AS (
  SELECT d, rev, nw, med2,
         CASE WHEN nw % 2 = 1 THEN 2 * dv[(nw + 1) // 2]
              ELSE dv[nw // 2] + dv[nw // 2 + 1] END AS mad4,
         ABS(2 * rev - med2) AS dev2
  FROM dev
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       rev AS revenue_cents,
       CAST(med2 AS BIGINT) AS med2,
       CAST(mad4 AS BIGINT) AS mad4,
       CAST(CASE WHEN 20000 * dev2 > 44478 * mad4 THEN 1 ELSE 0 END
            AS BIGINT) AS is_outlier
FROM mad ORDER BY day
"""


@register("window_hampel_outliers", oracle=HAMPEL_ORACLE)
def window_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel (rolling median +- 3*1.4826*MAD) outlier flags on daily
    revenue (see oracle) — the robust band the rolling-zscore
    operator can't give under contaminated windows.

    Scale shape: facts collapse map-side to |days|; the +-3-day
    frame materializes as a <=7-element sorted array per day
    (collect_list over the day-domain window — at 100 TB still
    |days|-sized), and median/MAD/flag are exact integer array math
    (2x/4x unit trick keeps even-count medians integral; the flag
    comparison is 20000*dev2 > 44478*mad4, float-free in both
    engines)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("rev")
    )
    wf = Window.orderBy("d").rowsBetween(-3, 3)
    fr = daily.select(
        "d", "rev", F.array_sort(F.collect_list("rev").over(wf)).alias("w")
    )
    nw = F.size("w")
    # 1-based element_at; (nw+1)//2 via floor division on ints
    mid_odd = 2 * F.element_at("w", ((nw + 1) / 2).cast("int"))
    mid_even = F.element_at("w", (nw / 2).cast("int")) + F.element_at(
        "w", (nw / 2).cast("int") + 1
    )
    med = fr.select(
        "d",
        "rev",
        "w",
        nw.alias("nw"),
        F.when(nw % 2 == 1, mid_odd).otherwise(mid_even).alias("med2"),
    )
    dv = F.array_sort(
        F.transform("w", lambda v: F.abs(2 * v - F.col("med2")))
    )
    dev = med.select(
        "d", "rev", "nw", "med2", dv.alias("dv"),
        F.abs(2 * F.col("rev") - F.col("med2")).alias("dev2"),
    )
    nwc = F.col("nw")
    mad_odd = 2 * F.element_at("dv", ((nwc + 1) / 2).cast("int"))
    mad_even = F.element_at("dv", (nwc / 2).cast("int")) + F.element_at(
        "dv", (nwc / 2).cast("int") + 1
    )
    mad = dev.select(
        "d",
        "rev",
        "med2",
        F.when(nwc % 2 == 1, mad_odd).otherwise(mad_even).alias("mad4"),
        "dev2",
    )
    return mad.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("rev").alias("revenue_cents"),
        F.col("med2").cast("long").alias("med2"),
        F.col("mad4").cast("long").alias("mad4"),
        F.when(
            20000 * F.col("dev2") > 44478 * F.col("mad4"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("is_outlier"),
    ).orderBy("day")


# --------------------- wave 26: VaR / expected shortfall of changes

VAR_ES_ORACLE = """
-- Value-at-Risk and expected shortfall of day-over-day revenue
-- CHANGES at the 95% level: VaR95 = the exact 5th-percentile
-- (discrete order statistic) of daily diffs; ES95 = the mean of the
-- tail at or below it — the risk pair behind 'how bad is a bad day,
-- and how bad is the average bad day'. Complements max_drawdown
-- (worst cumulative run) with the per-day tail view. EXACT: diffs
-- are integer cents, the cut is quantile_disc (engine-identical on
-- integers), and the tail mean is one division of two exact
-- integers.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), diffs AS (
  SELECT y - LAG(y) OVER (ORDER BY d) AS df FROM daily
), dd AS (
  SELECT df FROM diffs WHERE df IS NOT NULL
), cut AS (
  SELECT COUNT(*) AS n, quantile_disc(df, 0.05) AS var95 FROM dd
), tail AS (
  SELECT COUNT(*) AS n_tail, CAST(SUM(df) AS BIGINT) AS s_tail
  FROM dd, cut WHERE df <= var95
)
SELECT CAST(n AS BIGINT) AS n_diffs,
       CAST(var95 AS BIGINT) AS var95_cents,
       CAST(n_tail AS BIGINT) AS n_tail,
       FLOOR(s_tail * 1.0 / n_tail * 100 + 0.5) / 100 AS es95_cents
FROM cut, tail
"""


@register("timeseries_var_expected_shortfall", oracle=VAR_ES_ORACLE)
def timeseries_var_expected_shortfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VaR95 + expected shortfall of daily revenue changes (see
    oracle) — exact order-statistic cut, exact-integer tail mean.

    Scale shape: facts collapse map-side to |days|; one day-ordered
    LAG; the 5% cut is percentile_disc in one aggregate; the tail
    mean is a filtered 1-row reduction against the broadcast cut."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    dd = daily.select(
        (F.col("y") - F.lag("y").over(w)).alias("df")
    ).filter(F.col("df").isNotNull())
    cut = dd.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY df)").alias(
            "var95"
        ),
    )
    tail = (
        dd.crossJoin(F.broadcast(cut))
        .filter(F.col("df") <= F.col("var95"))
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum("df").cast("long").alias("s_tail"),
            F.max("n").alias("n"),
            F.max("var95").alias("var95"),
        )
    )
    return tail.select(
        # coalesce: max(n) over the 0-row tail relation is NULL where
        # the oracle's count is 0 (empty-corpus sweep, round 14)
        F.coalesce(F.col("n").cast("long"), F.lit(0)).alias("n_diffs"),
        F.col("var95").cast("long").alias("var95_cents"),
        F.col("n_tail").cast("long").alias("n_tail"),
        snap(F.col("s_tail") * 1.0 / F.col("n_tail"), 2).alias("es95_cents"),
    )


# --------------------------------- wave 28: EWMA crossover signals

EWMA_ORACLE = """
-- EWMA fast/slow crossover on daily revenue (the moving-average
-- trading-signal primitive, and the smoothing tier above the
-- Bollinger/rolling-zscore family): bias-corrected EWMA_k =
-- SUM_i<=k y_i*(1-a)^(k-i) / SUM_i<=k (1-a)^(k-i) for fast a=0.5
-- and slow a=0.1; a crossover is a sign change of the SNAPPED
-- fast-slow spread between consecutive days (snap-before-compare
-- makes the sign cross-engine stable; POWER chains are the
-- documented device of ml_feature_hash_collisions). |days|^2
-- weighted pairs — calendar-quadratic like Mann-Kendall /
-- Hodges-Lehmann, quadratic in DAYS, not in data.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k
  FROM daily
), ew AS (
  SELECT a.k, a.d,
         FLOOR(SUM(b.y * POWER(0.5, a.k - b.k))
               / SUM(POWER(0.5, a.k - b.k)) / 100 * 10000 + 0.5) / 10000
           AS fast,
         FLOOR(SUM(b.y * POWER(0.9, a.k - b.k))
               / SUM(POWER(0.9, a.k - b.k)) / 100 * 10000 + 0.5) / 10000
           AS slow
  FROM idx a JOIN idx b ON b.k <= a.k
  GROUP BY a.k, a.d
), sig AS (
  SELECT k, d, fast, slow,
         CASE WHEN fast > slow THEN 1 ELSE 0 END AS s,
         LAG(CASE WHEN fast > slow THEN 1 ELSE 0 END)
           OVER (ORDER BY k) AS prev_s
  FROM ew
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_crossovers,
       MAX(CASE WHEN k = (SELECT MAX(k) FROM sig)
                THEN CASE WHEN s = 1 THEN 'fast_above' ELSE 'slow_above' END
           END) AS last_signal,
       MAX(CASE WHEN k = (SELECT MAX(k) FROM sig) THEN fast END)
         AS last_fast_dollars,
       MAX(CASE WHEN k = (SELECT MAX(k) FROM sig) THEN slow END)
         AS last_slow_dollars
FROM sig
"""


@register("timeseries_ewma_crossover", oracle=EWMA_ORACLE)
def timeseries_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA fast/slow crossover signals on daily revenue (see
    oracle) — smoothing + regime detection over the day domain (beside
    timeseries_holt_trend's level+trend model: Holt forecasts, the
    crossover DETECTS regime flips).

    Scale shape: facts collapse map-side to |days|; the weighted-
    pair expansion is |days|^2 (calendar-quadratic — the documented
    Mann-Kendall / Hodges-Lehmann family: quadratic in DAYS, never
    in data; the O(n) recursive form is the streaming alternative,
    stated here as the cutover). Snap-before-compare pins the
    crossover signs cross-engine; the POWER(0.5,...) weights are
    exact binary, POWER(0.9,...) rides the accepted POWER-chain
    precedent."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    idx = daily.select(
        "d", "y", F.row_number().over(Window.orderBy("d")).cast("long").alias("k")
    )
    a = idx.select(F.col("d").alias("da"), F.col("k").alias("ka"))
    b = idx.select(F.col("y").alias("yb"), F.col("k").alias("kb"))
    ew = (
        a.join(b, F.col("kb") <= F.col("ka"))
        .groupBy("ka", "da")
        .agg(
            snap(
                F.sum(F.col("yb") * F.pow(F.lit(0.5), F.col("ka") - F.col("kb")))
                / F.sum(F.pow(F.lit(0.5), F.col("ka") - F.col("kb")))
                / 100,
                4,
            ).alias("fast"),
            snap(
                F.sum(F.col("yb") * F.pow(F.lit(0.9), F.col("ka") - F.col("kb")))
                / F.sum(F.pow(F.lit(0.9), F.col("ka") - F.col("kb")))
                / 100,
                4,
            ).alias("slow"),
        )
    )
    s = F.when(F.col("fast") > F.col("slow"), 1).otherwise(0)
    wk = Window.orderBy("ka")
    sig = ew.select(
        "ka", "fast", "slow", s.alias("s"), F.lag(s).over(wk).alias("prev_s")
    )
    maxk = sig.agg(F.max("ka").alias("mk"))
    last = F.col("ka") == F.col("mk")
    return (
        sig.crossJoin(F.broadcast(maxk))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_crossovers"),
            F.max(
                F.when(
                    last,
                    F.when(F.col("s") == 1, "fast_above").otherwise(
                        "slow_above"
                    ),
                )
            ).alias("last_signal"),
            F.max(F.when(last, F.col("fast"))).alias("last_fast_dollars"),
            F.max(F.when(last, F.col("slow"))).alias("last_slow_dollars"),
        )
    )


# ----------------------- wave 29: permutation entropy (ordinal patterns)

PERMUTATION_ENTROPY_ORACLE = """
-- Permutation entropy (Bandt-Pompe, order 3) of the daily revenue
-- series: the Shannon entropy of the distribution of ORDINAL
-- patterns among consecutive day triples — the standard
-- model-free complexity monitor (low: trending/periodic dynamics;
-- near log 6: indistinguishable from noise). Complements the
-- spectral-entropy operator (frequency-domain) with a rank-domain
-- reading that is immune to any monotone transform of the values.
-- EXACT device: each triple maps to the SIGN TRIPLE of its three
-- pairwise comparisons (ties get their own symbol, so tied
-- patterns are counted deterministically rather than broken
-- arbitrarily); counts are exact integers on a <= 13-symbol
-- domain; entropy is normalized by log(6), the tie-free pattern
-- count.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), tri AS (
  SELECT y AS y0,
         LEAD(y, 1) OVER (ORDER BY d) AS y1,
         LEAD(y, 2) OVER (ORDER BY d) AS y2
  FROM daily
), pat AS (
  SELECT (CASE WHEN y1 > y0 THEN '>' WHEN y1 < y0 THEN '<' ELSE '=' END)
      || (CASE WHEN y2 > y0 THEN '>' WHEN y2 < y0 THEN '<' ELSE '=' END)
      || (CASE WHEN y2 > y1 THEN '>' WHEN y2 < y1 THEN '<' ELSE '=' END)
         AS code
  FROM tri WHERE y2 IS NOT NULL
), cnt AS (
  SELECT code, COUNT(*) AS c, SUM(COUNT(*)) OVER () AS n FROM pat GROUP BY code
)
SELECT CAST(MAX(n) AS BIGINT)      AS n_triples,
       CAST(COUNT(*) AS BIGINT)    AS n_patterns,
       FLOOR(-SUM((c * 1.0 / n) * LN(c * 1.0 / n)) * 1000000 + 0.5)
         / 1000000                 AS entropy_nats,
       FLOOR(-SUM((c * 1.0 / n) * LN(c * 1.0 / n)) / LN(6.0)
             * 1000000 + 0.5) / 1000000 AS entropy_normalized
FROM cnt
"""


@register("timeseries_permutation_entropy", oracle=PERMUTATION_ENTROPY_ORACLE)
def timeseries_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-3 permutation entropy of daily revenue (see oracle for
    the sign-triple device and the tie policy).

    Scale shape: facts collapse map-side to |days|; the LEAD windows
    run on the calendar-bounded day table (the single-partition sort
    is over |days| rows — the house-audited domain-window case, never
    fact-sized); pattern counting reduces a <= 13-row symbol domain.
    At 100 TB only the first aggregation grows. For minute-grained
    series the day table becomes |minutes| — still sub-million rows
    per year; past that, partition the embedding windows by coarse
    time bucket with 2-row overlap stitching (documented cutover,
    same family as the sessionize operator's)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    tri = daily.select(
        F.col("y").alias("y0"),
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    ).filter(F.col("y2").isNotNull())

    def cmp(hi, lo):
        return (
            F.when(F.col(hi) > F.col(lo), F.lit(">"))
            .when(F.col(hi) < F.col(lo), F.lit("<"))
            .otherwise(F.lit("="))
        )

    pat = tri.select(
        F.concat(cmp("y1", "y0"), cmp("y2", "y0"), cmp("y2", "y1")).alias(
            "code"
        )
    )
    cnt = pat.groupBy("code").agg(F.count(F.lit(1)).alias("c"))
    cnt = cnt.withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    pterm = (F.col("c") * 1.0 / F.col("n")) * F.log(
        F.col("c") * 1.0 / F.col("n")
    )
    return cnt.agg(
        F.max("n").cast("long").alias("n_triples"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        snap(-F.sum(pterm), 6).alias("entropy_nats"),
        snap(-F.sum(pterm) / F.log(F.lit(6.0)), 6).alias("entropy_normalized"),
    )


# ----------------------------- wave 30: sample entropy (SampEn m=2)

SAMPLE_ENTROPY_ORACLE = """
-- Sample entropy SampEn(m=2, r=0.2*sigma) of daily revenue: the
-- amplitude-domain regularity monitor (permutation entropy reads
-- ORDINAL structure; SampEn asks whether similar 2-day shapes stay
-- similar on day 3, in actual value space). Richman-Moorman
-- convention: both template lengths use starts 1..n-2, B counts
-- pairs matching on (y_i, y_i+1) within tolerance r (Chebyshev),
-- A additionally on y_i+2; SampEn = -ln(A/B). EXACT device: the
-- day-domain pair join is calendar-quadratic (the Mann-Kendall
-- family — quadratic in DAYS, never in facts); A and B are exact
-- integer counts; r is one double computed from exact BIGINT
-- population-variance sums, identical in both engines, so every
-- |diff| <= r comparison lands the same side.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), var_ AS (
  SELECT 0.2 * SQRT(SUM(y * y) * 1.0 / COUNT(*)
                    - (SUM(y) * 1.0 / COUNT(*))
                      * (SUM(y) * 1.0 / COUNT(*))) AS r
  FROM daily
), emb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, y AS x0,
         LEAD(y, 1) OVER (ORDER BY d) AS x1,
         LEAD(y, 2) OVER (ORDER BY d) AS x2
  FROM daily
), tpl AS (
  SELECT i, x0, x1, x2 FROM emb WHERE x2 IS NOT NULL
), cnt AS (
  SELECT COUNT(*) FILTER (WHERE ABS(a.x0 - b.x0) <= r
                            AND ABS(a.x1 - b.x1) <= r) AS b_cnt,
         COUNT(*) FILTER (WHERE ABS(a.x0 - b.x0) <= r
                            AND ABS(a.x1 - b.x1) <= r
                            AND ABS(a.x2 - b.x2) <= r) AS a_cnt
  FROM tpl a JOIN tpl b ON a.i < b.i, var_
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       CAST(b_cnt AS BIGINT) AS b_matches,
       CAST(a_cnt AS BIGINT) AS a_matches,
       CASE WHEN a_cnt > 0 AND b_cnt > 0
            THEN FLOOR(-LN(a_cnt * 1.0 / b_cnt) * 1000000 + 0.5)
                 / 1000000
            ELSE NULL END AS sampen
FROM cnt
"""


@register("timeseries_sample_entropy", oracle=SAMPLE_ENTROPY_ORACLE)
def timeseries_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampEn(2, 0.2 sigma) of daily revenue (see oracle for the
    Richman-Moorman convention and the exact-count device).

    Scale shape: facts collapse map-side to |days|; the LEAD
    embedding runs on the calendar-bounded day table; the template
    pair join is day-domain quadratic (broadcastable small side,
    ~9M pairs at ten years of days) and reduces to two exact
    counts. At 100 TB only the first aggregation grows; for
    minute-grained series the standard KD-bucketing on floor(x0/r)
    bounds the pair join to neighbor buckets (documented cutover)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = cached(ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    ))
    y, cnt = F.col("y"), F.count(F.lit(1))
    var_ = daily.agg(
        (
            0.2
            * F.sqrt(
                F.sum(y * y) * 1.0 / cnt
                - (F.sum(y) * 1.0 / cnt) * (F.sum(y) * 1.0 / cnt)
            )
        ).alias("r")
    )
    w = Window.orderBy("d")
    tpl = cached(
        daily.select(
            F.row_number().over(w).alias("i"),
            y.alias("x0"),
            F.lead("y", 1).over(w).alias("x1"),
            F.lead("y", 2).over(w).alias("x2"),
        )
        .filter(F.col("x2").isNotNull())
    )
    a, b = tpl.alias("a"), tpl.alias("b")
    r = F.col("r")
    bmatch = (F.abs(F.col("a.x0") - F.col("b.x0")) <= r) & (
        F.abs(F.col("a.x1") - F.col("b.x1")) <= r
    )
    amatch = bmatch & (F.abs(F.col("a.x2") - F.col("b.x2")) <= r)
    pairs = a.join(F.broadcast(b), F.col("a.i") < F.col("b.i")).crossJoin(
        F.broadcast(var_)
    )
    counted = pairs.agg(
        F.sum(F.when(bmatch, 1).otherwise(0)).cast("long").alias("b_cnt"),
        F.sum(F.when(amatch, 1).otherwise(0)).cast("long").alias("a_cnt"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    a_c, b_c = F.col("a_cnt"), F.col("b_cnt")
    return counted.crossJoin(F.broadcast(nd)).select(
        "n_days",
        # coalesce: the match sums are NULL over the 0-row template
        # relation where the oracle's counts are 0 (empty-corpus
        # sweep, round 14)
        F.coalesce(b_c, F.lit(0)).alias("b_matches"),
        F.coalesce(a_c, F.lit(0)).alias("a_matches"),
        F.when(
            (a_c > 0) & (b_c > 0),
            snap(-F.log(a_c * 1.0 / b_c), 6),
        ).alias("sampen"),
    )


# -------------------- wave 31: Engle-Granger cointegration (2-step)

ENGLE_GRANGER_ORACLE = """
-- Engle-Granger two-step cointegration test between CUMULATIVE
-- daily views and CUMULATIVE daily purchases: do the two level
-- series share a long-run equilibrium (their spread mean-reverts),
-- or do they drift apart? Complements the granger_lag1 operator
-- (short-run increment prediction) with the LEVELS question that
-- decides whether a spread-based monitor is even meaningful.
-- Step 1: OLS of cum-purchases on cum-views from exact integer
-- sums. Step 2: each day's residual is SNAPPED to an exact 1e-6
-- integer (the house order-free-sum device), so the no-drift ADF
-- regression Delta e = rho * e_lag is pure BIGINT algebra:
-- rho = S_el_de / S_el2, and the error sum collapses to
-- S_de2 - S_el_de^2 / S_el2 exactly (no per-row double sums
-- anywhere). The ADF t is one fixed-order chain, snapped.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS dv,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS dp
  FROM events GROUP BY 1
), lvl AS (
  SELECT d,
         CAST(SUM(dv) OVER (ORDER BY d) AS BIGINT) AS x,
         CAST(SUM(dp) OVER (ORDER BY d) AS BIGINT) AS y
  FROM daily
), ols AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lvl
), fit AS (
  SELECT n,
         (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS beta,
         sy * 1.0 / n
           - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
             * (sx * 1.0 / n) AS alpha
  FROM ols
), resid AS (
  SELECT d,
         CAST(FLOOR((y - alpha - beta * x) * 1000000 + 0.5) AS BIGINT)
           AS e6
  FROM lvl, fit
), adf AS (
  SELECT e6 - LAG(e6) OVER (ORDER BY d) AS de,
         LAG(e6) OVER (ORDER BY d) AS el
  FROM resid
), s AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(el * de) AS BIGINT) AS s_eld,
         CAST(SUM(el * el) AS BIGINT) AS s_el2,
         CAST(SUM(de * de) AS BIGINT) AS s_de2
  FROM adf WHERE el IS NOT NULL
)
SELECT (SELECT CAST(n AS BIGINT) FROM ols) AS n_days,
       FLOOR((SELECT beta FROM fit) * 1000000 + 0.5) / 1000000 AS beta,
       FLOOR(s_eld * 1.0 / s_el2 * 1000000 + 0.5) / 1000000 AS rho,
       FLOOR(s_eld * 1.0 / s_el2
             / SQRT(((s_de2 * 1.0 - (s_eld * 1.0 / s_el2) * s_eld)
                     / (m - 1)) / s_el2)
             * 10000 + 0.5) / 10000 AS adf_t
FROM s
"""


@register("timeseries_engle_granger_coint", oracle=ENGLE_GRANGER_ORACLE)
def timeseries_engle_granger_coint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engle-Granger cointegration of cumulative views vs purchases
    (see oracle for the snapped-residual exact-ADF device).

    Scale shape: facts collapse map-side to |days|; the cumulative
    and lag windows run on the calendar-bounded day table; OLS and
    ADF consume exact BIGINT sufficient statistics only — the one
    double in the pipeline (the per-day residual) is snapped to a
    1e-6 integer before any aggregation, so no summation-order
    epsilon exists in either engine. Integer headroom: cumulative
    counts to ~3e9 events/type keep sxx inside int64; past that the
    OLS moments move to decimal(38,0) (documented cutover)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "dv"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("dp"),
    )
    w = Window.orderBy("d")
    lvl = cached(daily.select(
        "d",
        F.sum("dv").over(w).cast("long").alias("x"),
        F.sum("dp").over(w).cast("long").alias("y"),
    ))
    ols = lvl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy"])
    beta = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
    alpha = sy * 1.0 / n - beta * (sx * 1.0 / n)
    fit = ols.select(n.alias("n"), beta.alias("beta"), alpha.alias("alpha"))
    resid = lvl.crossJoin(F.broadcast(fit)).select(
        "d",
        "n",
        "beta",
        fixed(F.col("y") - F.col("alpha") - F.col("beta") * F.col("x"), 6).alias("e6"),
    )
    adf = resid.select(
        "n",
        "beta",
        (F.col("e6") - F.lag("e6").over(w.orderBy("d"))).alias("de"),
        F.lag("e6").over(w.orderBy("d")).alias("el"),
    ).filter(F.col("el").isNotNull())
    # global aggregation, NOT groupBy(n, beta): both are broadcast
    # constants (1 group on any populated input, identical values),
    # but the grouped form emits ZERO rows on an empty corpus where
    # the oracle emits its n_days = 0 summary row (empty-corpus
    # sweep, round 14)
    s = adf.agg(
        F.max("n").alias("n"),
        F.max("beta").alias("beta"),
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("el") * F.col("de")).cast("long").alias("s_eld"),
        F.sum(F.col("el") * F.col("el")).cast("long").alias("s_el2"),
        F.sum(F.col("de") * F.col("de")).cast("long").alias("s_de2"),
    )
    rho = F.col("s_eld") * 1.0 / F.col("s_el2")
    adf_t = rho / F.sqrt(
        (
            (F.col("s_de2") * 1.0 - rho * F.col("s_eld"))
            / (F.col("m") - 1)
        )
        / F.col("s_el2")
    )
    return s.select(
        F.coalesce(F.col("n").cast("long"), F.lit(0)).alias("n_days"),
        snap(F.col("beta"), 6).alias("beta"),
        snap(rho, 6).alias("rho"),
        snap(adf_t, 4).alias("adf_t"),
    )


# ---------------------- wave 32: KPSS level-stationarity test (q=3)

KPSS_ORACLE = """
-- KPSS level-stationarity test on daily revenue with a Bartlett
-- long-run variance (lag q=3): the null-reversed complement of the
-- ADF step inside the Engle-Granger operator — KPSS's NULL is
-- stationarity, so 'fails KPSS' and 'fails ADF' bracket the
-- trending/stationary verdict from both sides. EXACT device: the
-- demeaned series is kept in n-SCALED integers (u_t = n*y_t - S,
-- so no division happens before the final chain); partial sums,
-- their squares, and the four autocovariance terms are exact
-- HUGEINT/decimal(38,0) sums; the Bartlett weights (1 - j/4)
-- multiply through by 4, so eta = 4*SUM(S_t^2) /
-- (n * (4*G0 + 2*(3*G1 + 2*G2 + G3))) is ONE exact-integer ratio
-- evaluated in doubles at the very end, snapped.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy FROM daily
), u AS (
  SELECT d, n, CAST(n * y - sy AS BIGINT) AS u
  FROM daily, tot
), parts AS (
  SELECT d, n, u,
         CAST(SUM(u) OVER (ORDER BY d) AS BIGINT) AS s,
         LAG(u, 1) OVER (ORDER BY d) AS u1,
         LAG(u, 2) OVER (ORDER BY d) AS u2,
         LAG(u, 3) OVER (ORDER BY d) AS u3
  FROM u
), m AS (
  SELECT MAX(n) AS n,
         SUM(CAST(s AS HUGEINT) * s) AS ss2,
         SUM(CAST(u AS HUGEINT) * u) AS g0,
         SUM(CASE WHEN u1 IS NULL THEN 0
                  ELSE CAST(u AS HUGEINT) * u1 END) AS g1,
         SUM(CASE WHEN u2 IS NULL THEN 0
                  ELSE CAST(u AS HUGEINT) * u2 END) AS g2,
         SUM(CASE WHEN u3 IS NULL THEN 0
                  ELSE CAST(u AS HUGEINT) * u3 END) AS g3
  FROM parts
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(4.0 * ss2
             / (n * (4.0 * g0 + 2.0 * (3.0 * g1 + 2.0 * g2 + g3)))
             * 1000000 + 0.5) / 1000000 AS kpss_eta
FROM m
"""


@register("timeseries_kpss_stationarity", oracle=KPSS_ORACLE)
def timeseries_kpss_stationarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KPSS level-stationarity statistic, Bartlett lag 3 (see oracle
    for the n-scaled integer device).

    Scale shape: facts collapse map-side to |days|; the running-sum
    and LAG windows run on the calendar-bounded day table; all five
    sufficient statistics accumulate WIDE (decimal(38,0) in Spark,
    HUGEINT in DuckDB — u ~ n * daily cents crosses int64 in the
    PRODUCT already at modest scales, which is why the casts sit on
    the multiplicands, not the sums); eta is one snapped division."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("sy")
    )
    u = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.col("n") * F.col("y") - F.col("sy")).cast("long").alias("u"),
    )
    w = Window.orderBy("d")
    parts = u.select(
        "n",
        "u",
        F.sum("u").over(w).cast("long").alias("s"),
        F.lag("u", 1).over(w).alias("u1"),
        F.lag("u", 2).over(w).alias("u2"),
        F.lag("u", 3).over(w).alias("u3"),
    )
    wide = lambda c: F.col(c).cast("decimal(38,0)")

    def gamma(lagcol: str):
        return F.sum(
            F.when(F.col(lagcol).isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise(wide("u") * F.col(lagcol))
        )

    m = parts.agg(
        F.max("n").alias("n"),
        F.sum(wide("s") * F.col("s")).alias("ss2"),
        F.sum(wide("u") * F.col("u")).alias("g0"),
        gamma("u1").alias("g1"),
        gamma("u2").alias("g2"),
        gamma("u3").alias("g3"),
    )
    n = F.col("n")
    eta = (
        4.0
        * F.col("ss2")
        / (
            n
            * (
                4.0 * F.col("g0")
                + 2.0 * (3.0 * F.col("g1") + 2.0 * F.col("g2") + F.col("g3"))
            )
        )
    )
    return m.select(
        n.cast("long").alias("n_days"),
        snap(eta, 6).alias("kpss_eta"),
    )


# -------------------- wave 37: turning-points test + peak prominence

TURNING_POINTS_ORACLE = """
-- Turning-points test for serial randomness of daily revenue: count
-- interior days that are strict local extrema (peak or trough); in
-- an i.i.d. series T ~ Normal(2(n-2)/3, (16n-29)/90), so the
-- z-score flags smoothness (too few turns: trending/autocorrelated)
-- or oscillation (too many: alternating). Complements the runs
-- test (median crossings) and ACF (linear memory) with the
-- local-extrema reading. EXACT device: extrema are strict integer
-- comparisons via LAG/LEAD on the day table (ties break NO turn —
-- stated); T is an exact count and z is one snapped chain.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), w AS (
  SELECT y,
         LAG(y) OVER (ORDER BY d) AS yp,
         LEAD(y) OVER (ORDER BY d) AS yn
  FROM daily
), t AS (
  SELECT COUNT(*) + 2 AS n,
         CAST(SUM(CASE WHEN (y > yp AND y > yn)
                         OR (y < yp AND y < yn)
                       THEN 1 ELSE 0 END) AS BIGINT) AS turns
  FROM w WHERE yp IS NOT NULL AND yn IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n_days,
       turns AS n_turning_points,
       FLOOR(2.0 * (n - 2) / 3 * 10000 + 0.5) / 10000 AS expected,
       FLOOR((turns - 2.0 * (n - 2) / 3)
             / SQRT((16.0 * n - 29) / 90) * 10000 + 0.5) / 10000
         AS z_score
FROM t
"""


@register("timeseries_turning_points_test", oracle=TURNING_POINTS_ORACLE)
def timeseries_turning_points_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Turning-points randomness test on daily revenue (see oracle).

    Scale shape: facts collapse map-side to |days|; LAG/LEAD on the
    calendar-bounded day table; one exact count and one snapped
    chain."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    mid = daily.select(
        "y",
        F.lag("y").over(w).alias("yp"),
        F.lead("y").over(w).alias("yn"),
    ).filter(F.col("yp").isNotNull() & F.col("yn").isNotNull())
    y, yp, yn = F.col("y"), F.col("yp"), F.col("yn")
    t = mid.agg(
        (F.count(F.lit(1)) + 2).alias("n"),
        F.sum(
            F.when(((y > yp) & (y > yn)) | ((y < yp) & (y < yn)), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("turns"),
    )
    n, turns = F.col("n"), F.col("turns")
    exp_ = 2.0 * (n - 2) / 3
    z = (turns - exp_) / F.sqrt((16.0 * n - 29) / 90)
    return t.select(
        n.cast("long").alias("n_days"),
        turns.alias("n_turning_points"),
        snap(exp_, 4).alias("expected"),
        snap(z, 4).alias("z_score"),
    )


PEAK_PROMINENCE_ORACLE = """
-- Topographic peak prominence of daily revenue: for each STRICT
-- interior local maximum, how far does it rise above the highest
-- saddle connecting it to higher ground? The signal-processing
-- peak-picking criterion (a 'spike' flagged by z-score operators
-- may be a foothill of a bigger move; prominence separates real
-- peaks from shoulders). Convention stated: plateaus are not peaks
-- (strict > on both sides); on a side with no strictly higher day,
-- the reference extent runs to that end of the series. EXACT
-- device: peaks via LAG/LEAD; nearest-higher boundaries and the
-- saddle minima are exact integer aggregations over day-domain
-- range joins (calendar-quadratic family); prominence = height -
-- GREATEST(min_left, min_right). Top-5 by (prominence, day).
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, d, y FROM daily
), peaks AS (
  SELECT i, d, y FROM (
    SELECT i, d, y,
           LAG(y) OVER (ORDER BY i) AS yp,
           LEAD(y) OVER (ORDER BY i) AS yn
    FROM idx
  ) WHERE yp IS NOT NULL AND yn IS NOT NULL AND y > yp AND y > yn
), bounds AS (
  SELECT p.i, p.d, p.y,
         COALESCE(MAX(CASE WHEN o.i < p.i AND o.y > p.y
                           THEN o.i END), 0) AS bl,
         COALESCE(MIN(CASE WHEN o.i > p.i AND o.y > p.y
                           THEN o.i END),
                  (SELECT MAX(i) + 1 FROM idx)) AS br
  FROM peaks p CROSS JOIN idx o
  GROUP BY p.i, p.d, p.y
), saddles AS (
  SELECT b.i, b.d, b.y,
         MIN(CASE WHEN o.i > b.bl AND o.i < b.i THEN o.y END) AS min_l,
         MIN(CASE WHEN o.i > b.i AND o.i < b.br THEN o.y END) AS min_r
  FROM bounds b CROSS JOIN idx o
  GROUP BY b.i, b.d, b.y, b.bl, b.br
)
SELECT STRFTIME(d, '%Y-%m-%d') AS day,
       FLOOR(y / 100.0 * 100 + 0.5) / 100 AS height_dollars,
       FLOOR((y - GREATEST(min_l, min_r)) / 100.0 * 100 + 0.5) / 100
         AS prominence_dollars
FROM saddles
ORDER BY y - GREATEST(min_l, min_r) DESC, day LIMIT 5
"""


@register("timeseries_peak_prominence", oracle=PEAK_PROMINENCE_ORACLE)
def timeseries_peak_prominence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 daily-revenue peaks by topographic prominence (see
    oracle for the convention).

    Scale shape: facts collapse map-side to |days|; peak detection
    is LAG/LEAD on the day table; the nearest-higher boundaries and
    saddle minima are day-domain crossJoin aggregations (the
    Mann-Kendall calendar-quadratic family — bounded by the
    calendar, never by facts); the final ranking sorts <= |days|/2
    peaks."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    idx = cached(daily.select(
        F.row_number().over(w).alias("i"), "d", "y"
    ))
    peaks = (
        idx.select(
            "i",
            "d",
            "y",
            F.lag("y").over(Window.orderBy("i")).alias("yp"),
            F.lead("y").over(Window.orderBy("i")).alias("yn"),
        )
        .filter(
            F.col("yp").isNotNull()
            & F.col("yn").isNotNull()
            & (F.col("y") > F.col("yp"))
            & (F.col("y") > F.col("yn"))
        )
        .select("i", "d", "y")
    )
    o = idx.select(
        F.col("i").alias("oi"), F.col("y").alias("oy")
    )
    nmax = idx.agg((F.max("i") + 1).alias("nmax"))
    bounds = (
        peaks.crossJoin(F.broadcast(o))
        .groupBy("i", "d", "y")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("oi") < F.col("i"))
                        & (F.col("oy") > F.col("y")),
                        F.col("oi"),
                    )
                ),
                F.lit(0),
            ).alias("bl"),
            F.min(
                F.when(
                    (F.col("oi") > F.col("i"))
                    & (F.col("oy") > F.col("y")),
                    F.col("oi"),
                )
            ).alias("br_raw"),
        )
        .crossJoin(F.broadcast(nmax))
        .select(
            "i",
            "d",
            "y",
            "bl",
            F.coalesce(F.col("br_raw"), F.col("nmax")).alias("br"),
        )
    )
    saddles = (
        bounds.crossJoin(F.broadcast(o))
        .groupBy("i", "d", "y")
        .agg(
            F.min(
                F.when(
                    (F.col("oi") > F.col("bl")) & (F.col("oi") < F.col("i")),
                    F.col("oy"),
                )
            ).alias("min_l"),
            F.min(
                F.when(
                    (F.col("oi") > F.col("i")) & (F.col("oi") < F.col("br")),
                    F.col("oy"),
                )
            ).alias("min_r"),
        )
    )
    prom = F.col("y") - F.greatest("min_l", "min_r")
    # prominence is exact integer CENTS, so /100 loses nothing and
    # ordering by the published dollars equals ordering by the exact
    # value (the oracle's ORDER BY is the same quantity)
    return (
        saddles.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            snap(F.col("y") / 100.0, 2).alias("height_dollars"),
            snap(prom / 100.0, 2).alias("prominence_dollars"),
        )
        .orderBy(F.desc("prominence_dollars"), "day")
        .limit(5)
    )
