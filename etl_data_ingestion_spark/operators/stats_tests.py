"""Wave-18 statistical tests: Kruskal-Wallis, Benjamini-Hochberg FDR,
Wald-Wolfowitz runs test, PACF (Durbin-Levinson), Cochran-Armitage
trend.

These extend the §2.5 analytics layer (SURVEY.md) with the remaining
textbook inference tools an experimentation/data-quality platform
runs at warehouse scale. The shared discipline of the earlier stats
waves applies throughout:

- facts collapse to a tiny domain (groups / nations / days) in ONE
  map-side-combined aggregation; all test math runs on that domain;
- every sufficient statistic is an exact integer sum (cents, counts,
  rank*2 so tie-averaged ranks stay integral) — order-free in both
  engines — and anything that can exceed int64 is summed WIDE
  (DECIMAL(38,0) in Spark, HUGEINT naturally in DuckDB);
- the final scalar chain is written as the SAME fixed-order IEEE
  expression in the operator and its oracle, snapped at a fixed scale
  with ``functions/numeric.py``'s floor snap (whose docstring states
  what the snap does and does not guarantee).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import cached, load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.plans.registry import register

# ------------------------------------------------- Kruskal-Wallis H

KRUSKAL_ORACLE = """
-- Kruskal-Wallis H: do order totals differ in DISTRIBUTION across
-- the five order priorities? The k-group generalization of the
-- Mann-Whitney operator (same 2x-scaled tie-averaged integer rank
-- device: per distinct cent value, avg rank = (2*cum_before+t+1)/2,
-- kept at 2x so every rank sum is exact BIGINT). Per-group squared
-- rank-sum terms are NORMALIZED BY N before snapping —
-- term_g = 100 * r2g^2 / (ng * N), magnitude ~100*ng*N, inside
-- int64 to ~sf300 where the unnormalized 1e-4-scale form already
-- tops int64 at sf0.3 (caught by the round-9 multi-scale sweep:
-- DuckDB's CAST raised while Spark's floor-to-long wrapped — the
-- exact silent-vs-loud divergence the sweep exists to find). With
-- e100 = sum(term_g), H = 0.03 * e100/(N+1) - 3(N+1): one
-- fixed-order scalar chain on cross-engine-identical integers
-- (the snap costs |H error| <= 0.075/(N+1) — below the 1e-6 output
-- snap for every fixture beyond sf0.01, and deterministic
-- everywhere since all engines share the snapped integers). Tie
-- correction from sum(t^3 - t), a wide integer sum.
WITH s AS (
  SELECT o_orderpriority AS g,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders
), byv AS (
  SELECT v, COUNT(*) AS t FROM s GROUP BY v
), ranked AS (
  SELECT v, t,
         2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS ar2
  FROM byv
), gv AS (
  SELECT g, v, COUNT(*) AS tg FROM s GROUP BY g, v
), rg AS (
  SELECT g, CAST(SUM(tg) AS BIGINT) AS ng,
         CAST(SUM(tg * ar2) AS BIGINT) AS r2g
  FROM gv JOIN ranked USING (v) GROUP BY g
), tot AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         (SELECT SUM(CAST(t * t * t - t AS BIGINT)) FROM byv) AS tie
  FROM rg
), e AS (
  SELECT SUM(CAST(FLOOR(r2g * 1.0 * r2g / ng / (SELECT n FROM tot) * 100
                        + 0.5) AS BIGINT)) AS e100
  FROM rg
), h AS (
  SELECT n, k, tie,
         0.03 * (e100 / (n + 1.0)) - 3.0 * (n + 1) AS hstat
  FROM tot, e
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_groups,
       FLOOR(hstat * 1000000 + 0.5) / 1000000 AS h_stat,
       FLOOR(hstat / (1 - tie * 1.0 / (n * 1.0 * n * n - n))
             * 1000000 + 0.5) / 1000000 AS h_corrected
FROM h
"""


@register("agg_kruskal_wallis", oracle=KRUSKAL_ORACLE)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the 5 order priorities (see oracle).

    Scale shape: one fact pass to per-(group, cent-value) counts;
    ranks computed on the |distinct cents| domain (single window
    sort of an already-aggregated table — at 100 TB, distinct cents
    of a bounded price column is ~1e7 rows, not fact-sized; past
    ~1e8 distinct values the two-pass partition-offset rank from
    agg_exact_percentiles is the drop-in replacement for the
    unpartitioned running sum); then a k-row reduction.
    H = 12/(N(N+1)) * sum(R_g^2/n_g) - 3(N+1), written exactly as
    the oracle's chain (the 2x rank scale folds into e4i's /4).

    Round-10 restructure (floor-decomposition catch: the previous
    byv/gv/tie/tot/e crossJoin lattice re-scanned the fact table
    twice and submitted 19 AQE jobs for a 1-row answer): ONE fact
    aggregation to (g, v) counts, and the ranks attach to those SAME
    rows via window functions — per-value totals from a
    partitionBy(v) window, the cumulative-below-v count from a
    global range window, the tie total from a full-frame window with
    a first-row-per-v flag — so gv is referenced ONCE. Two rejected
    alternatives, both measured: deriving a byv table and joining it
    back re-references gv, which compiles to two independent fact
    scans with fresh expression ids that ReusedExchange cannot
    deduplicate (verified in the executed plan); persisting gv fixes
    the double scan but the cache materialization barrier costs more
    than the extra 2.5 MB scan at bench scale (1.50s vs 0.90s).
    The plan-shape test pins the single-scan property. No
    crossJoins; N rides a 5-row window. NO scan fan-out
    (parallel=False): this is exactly the scan->partial-agg shape the
    catalog's opt-in rule excludes — per-row CPU is floor+cast, so
    the round-robin Exchange moved raw rows for nothing (A/B'd
    round 10: 1.67s -> 0.90s at sf0.1, 3.68 -> 3.57 at sf1)."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("g"),
        fixed(F.col("o_totalprice"), 2).alias("v"),
    )
    gv = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("tg"))
    wv = Window.partitionBy("v")
    wvg = Window.partitionBy("v").orderBy("g")
    w_upto = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("v").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withv = gv.select(
        "g",
        "v",
        "tg",
        F.sum("tg").over(wv).cast("long").alias("t"),
        F.row_number().over(wvg).alias("rn"),
    )
    t = F.col("t")
    ranked = withv.select(
        "g",
        "tg",
        (2 * (F.sum("tg").over(w_upto) - t) + t + 1).alias("ar2"),
        F.sum(
            F.when(F.col("rn") == 1, (t * t * t - t).cast("decimal(38,0)"))
        )
        .over(w_all)
        .alias("tie"),
    )
    rg = ranked.groupBy("g").agg(
        F.sum("tg").cast("long").alias("ng"),
        F.sum(F.col("tg") * F.col("ar2")).cast("long").alias("r2g"),
        F.max("tie").alias("tie"),
    )
    w_groups = Window.partitionBy(F.lit(1))
    rg2 = rg.withColumn("n", F.sum("ng").over(w_groups))
    # term normalized by N BEFORE snapping (round-9 sweep catch: the
    # unnormalized 1e-4-scale term tops int64 at sf0.3 — DuckDB's
    # CAST raised, Spark's floor-to-long wrapped silently); magnitude
    # ~100*ng*N keeps the snapped integer exact to ~sf300
    term = fixed(
        F.col("r2g") * 1.0 * F.col("r2g") / F.col("ng") / F.col("n"),
        2,
    ).cast("decimal(38,0)")
    tot = rg2.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n").cast("long").alias("n"),
        F.max("tie").alias("tie"),
        F.sum(term).alias("e100"),
    )
    n, k, e100, tie = (F.col(c) for c in ["n", "k", "e100", "tie"])
    hstat = 0.03 * (e100 / (n + 1.0)) - 3.0 * (n + 1)
    return tot.select(
        n.cast("long").alias("n_orders"),
        k.cast("long").alias("n_groups"),
        snap(hstat, 6).alias("h_stat"),
        snap(
            hstat / (1 - tie * 1.0 / (n * 1.0 * n * n - n)), 6
        ).alias("h_corrected"),
    )


# --------------------------------------- Benjamini-Hochberg FDR scan

BH_FDR_ORACLE = """
-- Benjamini-Hochberg FDR over 25 simultaneous hypotheses: for each
-- nation, a one-sample z-test of its customers' mean account
-- balance against the global mean (global sd), then the BH step-up
-- procedure at q = 0.10 — the standard guard against the
-- 25-dashboards-one-false-positive trap. Balances are exact integer
-- cents; mean/sd/z are one fixed-order chain on exact integer sums.
-- Phi uses the Abramowitz-Stegun 26.2.17 polynomial (identical
-- literals both engines); p = 2*(1 - Phi(|z|)). BH: rank by p
-- ascending (nation tiebreak), reject ranks <= the LARGEST rank
-- with p <= q*rank/m.
WITH c AS (
  SELECT c_nationkey AS nk,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS b
  FROM customer
), g AS (
  SELECT nk, COUNT(*) AS n, SUM(b) AS s FROM c GROUP BY nk
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS ss,
         (SELECT SUM(b * b) FROM c) AS qq
  FROM g
), z AS (
  SELECT nk, n, s,
         (s * 1.0 / n - ss * 1.0 / nn)
           / (sqrt(qq * 1.0 / nn - (ss * 1.0 / nn) * (ss * 1.0 / nn))
              / sqrt(n * 1.0)) AS zv
  FROM g, tot
), p AS (
  SELECT nk, n, zv, abs(zv) AS az,
         2.0 * (exp(-abs(zv) * abs(zv) / 2.0) / 2.5066282746310002)
             * ((1.0 / (1.0 + 0.2316419 * abs(zv)))
                * (0.319381530
                   + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                     * (-0.356563782
                        + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                          * (1.781477937
                             + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                               * (-1.821255978
                                  + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                                    * 1.330274429))))) AS pv
  FROM z
), r AS (
  SELECT nk, n, zv, pv,
         ROW_NUMBER() OVER (ORDER BY pv, nk) AS rnk,
         COUNT(*) OVER () AS m
  FROM p
), cut AS (
  SELECT *,
         MAX(CASE WHEN pv <= 0.10 * rnk / m THEN rnk END) OVER () AS co
  FROM r
)
SELECT CAST(nk AS BIGINT) AS nationkey,
       CAST(n AS BIGINT) AS n_customers,
       FLOOR(zv * 1000000 + 0.5) / 1000000 AS z_score,
       FLOOR(pv * 1000000 + 0.5) / 1000000 AS p_value,
       CAST(rnk AS BIGINT) AS p_rank,
       CASE WHEN rnk <= COALESCE(co, 0) THEN 1 ELSE 0 END AS rejected
FROM cut
ORDER BY p_rank
"""


@register("agg_benjamini_hochberg_fdr", oracle=BH_FDR_ORACLE)
def agg_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH step-up FDR over per-nation balance z-tests (see oracle).

    Scale shape: one customer pass to 25 nation rows (map-side
    combine) plus one global moment row broadcast into the chain;
    the BH sort/step-up runs on the m=25-row domain. At 100 TB the
    hypothesis count is dashboards, not facts — this never grows.
    The normal CDF is the A&S 26.2.17 polynomial with identical
    literals in both engines (exp() is the one sub-ulp risk, same
    class as the periodogram's trig — the multi-scale sweep is the
    guard)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        fixed(F.col("c_acctbal"), 2).alias("b"),
    )
    g = c.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"), F.sum("b").alias("s")
    )
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("b").alias("ss"),
        # cents^2 summed WIDE (DECIMAL(38,0) / DuckDB HUGEINT): the
        # long sum would wrap around sf100 — same hardening as the
        # ANOVA/Kruskal terms
        F.sum((F.col("b") * F.col("b")).cast("decimal(38,0)")).alias("qq"),
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "nk",
        "n",
        (
            (F.col("s") * 1.0 / F.col("n") - F.col("ss") * 1.0 / F.col("nn"))
            / (
                F.sqrt(
                    F.col("qq") * 1.0 / F.col("nn")
                    - (F.col("ss") * 1.0 / F.col("nn"))
                    * (F.col("ss") * 1.0 / F.col("nn"))
                )
                / F.sqrt(F.col("n") * 1.0)
            )
        ).alias("zv"),
    )
    az = F.abs(F.col("zv"))
    t = 1.0 / (1.0 + 0.2316419 * az)
    pv = (
        2.0
        * (F.exp(-az * az / 2.0) / 2.5066282746310002)
        * (
            t
            * (
                0.319381530
                + t
                * (
                    -0.356563782
                    + t
                    * (
                        1.781477937
                        + t * (-1.821255978 + t * 1.330274429)
                    )
                )
            )
        )
    )
    p = z.select("nk", "n", "zv", pv.alias("pv"))
    wr = Window.orderBy("pv", "nk")
    wall = Window.partitionBy()
    r = p.select(
        "nk",
        "n",
        "zv",
        "pv",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    cut = r.select(
        "*",
        F.max(
            F.when(
                F.col("pv") <= 0.10 * F.col("rnk") / F.col("m"),
                F.col("rnk"),
            )
        )
        .over(wall)
        .alias("co"),
    )
    return cut.select(
        F.col("nk").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n_customers"),
        snap(F.col("zv"), 6).alias("z_score"),
        snap(F.col("pv"), 6).alias("p_value"),
        F.col("rnk").cast("long").alias("p_rank"),
        F.when(
            F.col("rnk") <= F.coalesce(F.col("co"), F.lit(0)), 1
        )
        .otherwise(0)
        .alias("rejected"),
    ).orderBy("p_rank")


# --------------------------------------- Wald-Wolfowitz runs test

RUNS_ORACLE = """
-- Wald-Wolfowitz runs test on the daily purchase-count series:
-- too FEW runs of above/below-median days means momentum/trend,
-- too many means oscillation — the standard randomness check run
-- before trusting an A/B time split. Median is the explicit
-- ceil(n/2)-th smallest (total order: count, then day); days equal
-- to the median are excluded per the classical construction. Counts
-- and the run tally are exact integers; only the final E/Var/z
-- chain is float, identical both engines.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), ranked AS (
  SELECT d, x, ROW_NUMBER() OVER (ORDER BY x, d) AS rn,
         COUNT(*) OVER () AS cnt
  FROM daily
), med AS (
  SELECT x AS mv FROM ranked
  WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
), signs AS (
  SELECT d, CASE WHEN x > mv THEN 1 ELSE -1 END AS sg
  FROM daily, med WHERE x <> mv
), seq AS (
  SELECT sg, LAG(sg) OVER (ORDER BY d) AS prev FROM signs
), agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS n2,
         1 + SUM(CASE WHEN prev IS NOT NULL AND sg <> prev
                      THEN 1 ELSE 0 END) AS r
  FROM seq
)
SELECT CAST(n AS BIGINT) AS n_days_used,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS n_runs,
       FLOOR((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * 1.0 * (n1 + n2) * (n1 + n2 - 1)))
             * 1000000 + 0.5) / 1000000 AS z_score
FROM agg
"""


@register("timeseries_runs_test", oracle=RUNS_ORACLE)
def timeseries_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs test for randomness of the daily purchase series (see
    oracle). Scale shape: facts collapse to |days| map-side; the
    median selection, sign sequence, and run tally all run on the
    day domain (one window sort of ~365·years rows)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x")
    )
    wr = Window.orderBy("x", "d")
    wall = Window.partitionBy()
    ranked = daily.select(
        "d",
        "x",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    med = ranked.filter(
        F.col("rn")
        == F.floor((F.col("cnt") + 1) / 2.0).cast("long")
    ).select(F.col("x").alias("mv"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("mv"))
        .select(
            "d",
            F.when(F.col("x") > F.col("mv"), 1).otherwise(-1).alias("sg"),
        )
    )
    wd = Window.orderBy("d")
    seq = signs.select("sg", F.lag("sg").over(wd).alias("prev"))
    agg = seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("sg") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("sg") == -1, 1).otherwise(0)).alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sg") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    return agg.select(
        F.col("n").cast("long").alias("n_days_used"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        snap(
            (r - (2.0 * n1 * n2 / (n1 + n2) + 1))
            / F.sqrt(
                2.0
                * n1
                * n2
                * (2.0 * n1 * n2 - n1 - n2)
                / ((n1 + n2) * 1.0 * (n1 + n2) * (n1 + n2 - 1))
            ),
            6,
        ).alias("z_score"),
    )


# ------------------------------------- PACF via Durbin-Levinson

PACF_ORACLE = """
-- Partial autocorrelation of the daily-revenue series at lags 1-3
-- via the closed-form Durbin-Levinson recursion on the ACF — the
-- AR-order selector that complements timeseries_acf_lags (same
-- exact-integer-cents sufficient statistics, same estimator chain;
-- the recursion adds a fixed 5-step scalar chain on the three r_k).
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), led AS (
  SELECT y,
         LEAD(y, 1) OVER (ORDER BY d) AS y1,
         LEAD(y, 2) OVER (ORDER BY d) AS y2,
         LEAD(y, 3) OVER (ORDER BY d) AS y3
  FROM daily
), agg AS (
  -- products promoted to HUGEINT BEFORE the multiply (round-10
  -- advisor fix): daily cents reach ~1.8e7 at sf0.1 and scale ~10x
  -- per decade, so a BIGINT y*y would raise around sf30 while the
  -- promoted form stays exact — matching the Spark side's
  -- promote-before-multiply DECIMAL(38,0)
  SELECT COUNT(*) AS n, SUM(y) AS s, SUM(CAST(y AS HUGEINT) * y) AS q,
         SUM(CAST(y AS HUGEINT) * y1) AS p1, SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS a1, SUM(y1) AS b1,
         SUM(CAST(y AS HUGEINT) * y2) AS p2, SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS a2, SUM(y2) AS b2,
         SUM(CAST(y AS HUGEINT) * y3) AS p3, SUM(CASE WHEN y3 IS NOT NULL THEN y END) AS a3, SUM(y3) AS b3
  FROM led
), acf AS (
  SELECT
    (p1 * 1.0 - (s * 1.0 / n) * ((a1 + b1) * 1.0)
       + (n - 1) * (s * 1.0 / n) * (s * 1.0 / n))
      / (q * 1.0 - n * (s * 1.0 / n) * (s * 1.0 / n)) AS r1,
    (p2 * 1.0 - (s * 1.0 / n) * ((a2 + b2) * 1.0)
       + (n - 2) * (s * 1.0 / n) * (s * 1.0 / n))
      / (q * 1.0 - n * (s * 1.0 / n) * (s * 1.0 / n)) AS r2,
    (p3 * 1.0 - (s * 1.0 / n) * ((a3 + b3) * 1.0)
       + (n - 3) * (s * 1.0 / n) * (s * 1.0 / n))
      / (q * 1.0 - n * (s * 1.0 / n) * (s * 1.0 / n)) AS r3
  FROM agg
), dl AS (
  SELECT r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
  FROM acf
), dl2 AS (
  SELECT r1, r2, r3, phi22,
         r1 - phi22 * r1 AS phi21
  FROM dl
)
SELECT lag,
       FLOOR(CASE lag WHEN 1 THEN r1
                      WHEN 2 THEN phi22
                      ELSE (r3 - phi21 * r2 - phi22 * r1)
                           / (1 - phi21 * r1 - phi22 * r2) END
             * 1000000 + 0.5) / 1000000 AS pacf
FROM dl2, (SELECT UNNEST([1, 2, 3]) AS lag)
ORDER BY lag
"""


@register("timeseries_pacf_durbin", oracle=PACF_ORACLE)
def timeseries_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1-3 by Durbin-Levinson on the exact-cents ACF
    (see oracle; same scale shape as timeseries_acf_lags — facts
    collapse to |days| once, everything after is a scalar chain)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(fixed(F.sum("value"), 2).alias("y"))
    )
    w = Window.orderBy("d")
    led = daily.select(
        "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 4)]
    )
    # y*y and y*y_k promoted to DECIMAL(38,0) BEFORE the multiply
    # (round-10 advisor fix): plain int64 products wrap silently
    # around sf30 while the oracle's HUGEINT stays exact — the same
    # promote-before-multiply rule the ANOVA/variance-ratio terms
    # follow (module docstring: "anything that can exceed int64 is
    # summed WIDE" applies to the product, not just the sum).
    y_wide = F.col("y").cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(y_wide * F.col("y")).alias("q"),
    ]
    for k in range(1, 4):
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(y_wide * yk).alias(f"p{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("y"))).alias(f"a{k}"),
            F.sum(yk).alias(f"b{k}"),
        ]
    a = led.agg(*aggs)
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    ybar = s * 1.0 / n

    def rk(k: int):
        return (
            F.col(f"p{k}") * 1.0
            - ybar * ((F.col(f"a{k}") + F.col(f"b{k}")) * 1.0)
            + (n - k) * ybar * ybar
        ) / (q * 1.0 - n * ybar * ybar)

    acf = a.select(rk(1).alias("r1"), rk(2).alias("r2"), rk(3).alias("r3"))
    dl = acf.select(
        "*",
        ((F.col("r2") - F.col("r1") * F.col("r1")) / (1 - F.col("r1") * F.col("r1"))).alias("phi22"),
    )
    dl2 = dl.select(
        "*", (F.col("r1") - F.col("phi22") * F.col("r1")).alias("phi21")
    )
    rows = F.array(
        F.struct(F.lit(1).alias("lag"), snap(F.col("r1"), 6).alias("pacf")),
        F.struct(
            F.lit(2).alias("lag"), snap(F.col("phi22"), 6).alias("pacf")
        ),
        F.struct(
            F.lit(3).alias("lag"),
            snap(
                (
                    F.col("r3")
                    - F.col("phi21") * F.col("r2")
                    - F.col("phi22") * F.col("r1")
                )
                / (
                    1
                    - F.col("phi21") * F.col("r1")
                    - F.col("phi22") * F.col("r2")
                ),
                6,
            ).alias("pacf"),
        ),
    )
    return (
        dl2.select(F.explode(rows).alias("r"))
        .select("r.lag", "r.pacf")
        .orderBy("lag")
    )


# --------------------------------- Cochran-Armitage trend test

CA_TREND_ORACLE = """
-- Cochran-Armitage trend test: does the share of fully-shipped
-- ('F') orders trend MONOTONICALLY across the ordered priority
-- levels 1-URGENT .. 5-LOW? The dose-response test that a plain
-- chi-square cannot answer (chi2 sees difference, not direction).
-- Scores are the priority's leading digit. All sufficient
-- statistics (per-level n_i, f_i; score-weighted sums) are exact
-- integers; T and Var(T) form one fixed-order float chain.
WITH o AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS sc,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
  FROM orders
), g AS (
  SELECT sc, COUNT(*) AS ni, CAST(SUM(f) AS BIGINT) AS fi
  FROM o GROUP BY sc
), tot AS (
  SELECT CAST(SUM(ni) AS BIGINT) AS n,
         CAST(SUM(fi) AS BIGINT) AS r,
         CAST(SUM(sc * fi) AS BIGINT) AS sf,
         CAST(SUM(sc * ni) AS BIGINT) AS sn,
         CAST(SUM(sc * sc * ni) AS BIGINT) AS s2n,
         COUNT(*) AS k
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_levels,
       CAST(r AS BIGINT) AS n_finished,
       FLOOR((sf * 1.0 - r * 1.0 / n * sn)
             / sqrt(r * 1.0 / n * (1 - r * 1.0 / n)
                    * (s2n * 1.0 - sn * 1.0 * sn / n))
             * 1000000 + 0.5) / 1000000 AS z_trend
FROM tot
"""


@register("agg_cochran_armitage_trend", oracle=CA_TREND_ORACLE)
def agg_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend of finished-order share across priority
    levels (see oracle). Scale shape: one fact pass to 5 level rows;
    everything after is a 5-row reduction and one scalar chain.
    Integer bound: sum(sc*sc*ni) <= 25N — int64 to N ~ 3.7e17."""
    o = load_table(spark, sf_dir, "orders", parallel=False).select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("sc"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
    )
    g = o.groupBy("sc").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("f").cast("long").alias("fi"),
    )
    tot = g.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("fi").cast("long").alias("r"),
        F.sum(F.col("sc") * F.col("fi")).cast("long").alias("sf"),
        F.sum(F.col("sc") * F.col("ni")).cast("long").alias("sn"),
        F.sum(F.col("sc") * F.col("sc") * F.col("ni"))
        .cast("long")
        .alias("s2n"),
        F.count(F.lit(1)).alias("k"),
    )
    n, r, sf, sn, s2n = (F.col(c) for c in ["n", "r", "sf", "sn", "s2n"])
    return tot.select(
        n.cast("long").alias("n_orders"),
        F.col("k").cast("long").alias("n_levels"),
        r.cast("long").alias("n_finished"),
        snap(
            (sf * 1.0 - r * 1.0 / n * sn)
            / F.sqrt(
                r * 1.0 / n * (1 - r * 1.0 / n)
                * (s2n * 1.0 - sn * 1.0 * sn / n)
            ),
            6,
        ).alias("z_trend"),
    )


# ------------------------ wave 24: Levene variance homogeneity

LEVENE_ORACLE = """
-- Levene's test (mean-centered variant) for homogeneity of account-
-- balance variance across the 5 market segments — the assumption
-- gate in front of the ANOVA/t-test family (their F/t statistics
-- presume equal group variances; Levene tests exactly that without
-- presuming normality the way Bartlett does).
-- EXACT device: with integer cents x and exact group sums
-- (n_i, s_i), the absolute deviation z_ij = |x - s_i/n_i| scales to
-- the exact integer u_ij = |n_i*x - s_i| (promoted to HUGEINT
-- before the multiply), so U_i = sum(u) and Q_i = sum(u^2) are
-- order-free exact integer sums; every cross-group float is snapped
-- to a fixed grid before its order-free integer sum; W is one fixed
-- scalar chain. Two fact passes by construction (the second pass
-- needs the first's group means) with the 5-row stats broadcast
-- onto the second.
WITH c AS (
  SELECT c_mktsegment AS g,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
  FROM customer
), gs AS (
  SELECT g, COUNT(*) AS ni, CAST(SUM(x) AS BIGINT) AS si
  FROM c GROUP BY g
), u AS (
  SELECT c.g, ABS(CAST(gs.ni AS HUGEINT) * c.x - gs.si) AS u
  FROM c JOIN gs USING (g)
), gu AS (
  SELECT g, COUNT(*) AS ni,
         SUM(u) AS ui,
         SUM(u * u) AS qi
  FROM u GROUP BY g
), t AS (
  SELECT g, ni, ui, qi,
         CAST(FLOOR(ui * 1.0 / ni * 1000000 + 0.5) AS BIGINT) AS zi6
  FROM gu
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ni) AS BIGINT) AS n,
         CAST(SUM(zi6) AS BIGINT) AS sz6
  FROM t
), terms AS (
  SELECT
    CAST(FLOOR(ni * (ui * 1.0 / ni / ni - sz6 / 1000000.0 / n)
                  * (ui * 1.0 / ni / ni - sz6 / 1000000.0 / n)
               * 100 + 0.5) AS HUGEINT) AS num2,
    CAST(FLOOR((qi * 1.0 / ni / ni
                - (ui * 1.0 / ni) * (ui * 1.0 / ni) / ni)
               * 100 + 0.5) AS HUGEINT) AS den2
  FROM t, tot
), f AS (
  SELECT SUM(num2) AS num, SUM(den2) AS den FROM terms
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(k AS BIGINT) AS n_groups,
       FLOOR((n - k) * 1.0 / (k - 1) * (num * 1.0 / den) * 1000000
             + 0.5) / 1000000 AS w_stat
FROM f, tot
"""


@register("agg_levene_variance_homogeneity", oracle=LEVENE_ORACLE)
def agg_levene_variance_homogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Levene W (mean-centered) across market segments (see oracle).

    Scale shape: pass 1 reduces the facts to 5 (n_i, s_i) rows; the
    5-row table BROADCASTS onto pass 2, where |n_i*x - s_i| stays an
    exact integer (promote-before-multiply DECIMAL(38,0)) and the
    second map-side-combined aggregation ships two wide integers per
    group per partition. Deviation-from-group-mean statistics are
    inherently two-pass; both passes are full scans, nothing
    shuffles but the 5-row reductions. Cross-group sums run on
    snapped integer grids (1e-6 for mean |z|, 1e-2 for the SS
    terms) so no float summation depends on group order."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("g"),
        fixed(F.col("c_acctbal"), 2).alias("x"),
    )
    gs = c.groupBy("g").agg(
        F.count(F.lit(1)).alias("ni"), F.sum("x").alias("si")
    )
    u_expr = F.abs(
        F.col("ni").cast("decimal(38,0)") * F.col("x") - F.col("si")
    )
    gu = (
        c.join(F.broadcast(gs), "g")
        .select("g", "ni", u_expr.alias("u"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum("u").alias("ui"),
            F.sum(F.col("u") * F.col("u")).alias("qi"),
        )
    )
    t = gu.select(
        "g",
        "ni",
        "ui",
        "qi",
        fixed(F.col("ui") * 1.0 / F.col("ni"), 6).alias("zi6"),
    )
    w_all = Window.partitionBy(F.lit(1))
    t2 = t.select(
        "*",
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum("ni").over(w_all).cast("long").alias("n"),
        F.sum("zi6").over(w_all).cast("long").alias("sz6"),
    )
    ni, ui, qi = F.col("ni"), F.col("ui"), F.col("qi")
    n, k, sz6 = F.col("n"), F.col("k"), F.col("sz6")
    zbar_i = ui * 1.0 / ni / ni
    zbar = sz6 / 1000000.0 / n
    num2 = fixed(ni * (zbar_i - zbar) * (zbar_i - zbar), 2).cast("decimal(38,0)")
    den2 = fixed(
        qi * 1.0 / ni / ni - (ui * 1.0 / ni) * (ui * 1.0 / ni) / ni,
        2,
    ).cast("decimal(38,0)")
    # global aggregation, NOT groupBy(n, k): both are window
    # constants (1 group on any populated input, identical values),
    # but the grouped form emits ZERO rows on an empty corpus where
    # the oracle emits its n_groups = 0 summary row (empty-corpus
    # sweep, round 14)
    f = t2.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(num2).alias("num"),
        F.sum(den2).alias("den"),
    )
    return f.select(
        n.cast("long").alias("n_customers"),
        F.coalesce(k.cast("long"), F.lit(0)).alias("n_groups"),
        snap(
            (n - k) * 1.0 / (k - 1)
            * (F.col("num") * 1.0 / F.col("den")),
            6,
        ).alias("w_stat"),
    )


# ----------------------------- wave 24: Jarque-Bera normality

JARQUE_BERA_ORACLE = """
-- Jarque-Bera normality test on account balances: JB =
-- n/6 * (skew^2 + excess_kurtosis^2 / 4) from the four raw power
-- sums — the cheap screen run before any normality-assuming model
-- (a huge JB says use the rank/robust tier: Kruskal, MAD, Theil-
-- Sen). All power sums are exact wide integers (cents promoted to
-- HUGEINT before powering: x^4 tops int64 at ~40k-cent balances);
-- the moment chain is one fixed-order IEEE sequence on them,
-- written identically in both engines.
WITH c AS (
  SELECT CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
  FROM customer
), m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS s1,
         SUM(CAST(x AS HUGEINT) * x) AS s2,
         SUM(CAST(x AS HUGEINT) * x * x) AS s3,
         SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
  FROM c
), mom AS (
  SELECT n,
         s1 * 1.0 / n AS mu,
         s2 * 1.0 / n AS r2,
         s3 * 1.0 / n AS r3,
         s4 * 1.0 / n AS r4
  FROM m
), cen AS (
  SELECT n, mu,
         r2 - mu * mu AS m2,
         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
         r4 - 4 * mu * r3 + 6 * mu * mu * r2
            - 3 * mu * mu * mu * mu AS m4
  FROM mom
), st AS (
  SELECT n,
         m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)) AS skew,
         m4 / (m2 * m2) - 3.0 AS exkurt
  FROM cen
)
SELECT CAST(n AS BIGINT) AS n_customers,
       FLOOR(skew * 1000000 + 0.5) / 1000000 AS skewness,
       FLOOR(exkurt * 1000000 + 0.5) / 1000000 AS excess_kurtosis,
       FLOOR(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0) * 10000
             + 0.5) / 10000 AS jarque_bera
FROM st
"""


@register("agg_jarque_bera_normality", oracle=JARQUE_BERA_ORACLE)
def agg_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen on account balances (see oracle).

    Scale shape: ONE map-side-combined pass to four wide-integer
    power sums (the canonical sufficient-statistic reduction — the
    same shape at 100 TB, one Exchange of 4 decimals + a count per
    partition); the moment/JB chain is a single-row fixed-order
    scalar sequence. skew's m2^1.5 is written SQRT(m2) cubed so both
    engines run the same IEEE ops (no pow). Accuracy boundary
    (tests/test_property_wave24.py pins the model): the raw-power
    expansion's absolute error is a few ulps of the RAW moments, so
    it degrades vs the true central moments only when sd << mean —
    far from this column's regime (sd ~ mean); cross-engine parity
    is unconditional either way since both engines run the identical
    expansion."""
    c = load_table(spark, sf_dir, "customer").select(
        fixed(F.col("c_acctbal"), 2).alias("x")
    )
    xw = F.col("x").cast("decimal(38,0)")
    m = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xw).alias("s1"),
        F.sum(xw * F.col("x")).alias("s2"),
        F.sum(xw * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xw * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") * 1.0 / n
    r2 = F.col("s2") * 1.0 / n
    r3 = F.col("s3") * 1.0 / n
    r4 = F.col("s4") * 1.0 / n
    mom = m.select(
        n,
        mu.alias("mu"),
        (r2 - mu * mu).alias("m2"),
        (r3 - 3 * mu * r2 + 2 * mu * mu * mu).alias("m3"),
        (
            r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    skew = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    exkurt = m4 / (m2 * m2) - 3.0
    return mom.select(
        n.cast("long").alias("n_customers"),
        snap(skew, 6).alias("skewness"),
        snap(exkurt, 6).alias("excess_kurtosis"),
        snap(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 4).alias("jarque_bera"),
    )


# ------------------------------- wave 24: Cramer's V effect size

CRAMERS_V_ORACLE = """
-- Cramer's V between order status and order priority: the EFFECT
-- SIZE the chi-square independence test (agg_chi2_independence)
-- cannot give — chi2 grows with N, so at warehouse scale everything
-- is 'significant'; V = sqrt(chi2 / (N * (min(r,c)-1))) in [0,1] is
-- the scale-free association strength that stays comparable across
-- table sizes. Same completed-contingency-table discipline as the
-- chi2 operator (empty cells contribute their expectation); the
-- <= 15-cell float sum rides ROUND like the chi2 precedent.
WITH obs AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o
  FROM orders GROUP BY 1, 2
), dom AS (
  SELECT x.a, y.b
  FROM (SELECT DISTINCT a FROM obs) x
  CROSS JOIN (SELECT DISTINCT b FROM obs) y
), filled AS (
  SELECT dom.a, dom.b, COALESCE(obs.o, 0) AS o
  FROM dom LEFT JOIN obs ON dom.a = obs.a AND dom.b = obs.b
), m AS (
  SELECT a, b, o,
         SUM(o) OVER (PARTITION BY a) AS rt,
         SUM(o) OVER (PARTITION BY b) AS ct,
         SUM(o) OVER ()               AS n
  FROM filled
), agg AS (
  SELECT COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
         ANY_VALUE(n) AS n,
         SUM((o - rt * ct * 1.0 / n) * (o - rt * ct * 1.0 / n)
             / (rt * ct * 1.0 / n)) AS chi2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(r AS BIGINT) AS n_status,
       CAST(c AS BIGINT) AS n_priority,
       ROUND(chi2, 4) AS chi2_stat,
       ROUND(SQRT(chi2 / (n * (LEAST(r, c) - 1))), 6) AS cramers_v
FROM agg
"""


@register("agg_cramers_v", oracle=CRAMERS_V_ORACLE)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association strength between order status and
    priority (see oracle) — the N-invariant effect size on top of
    the chi2 machinery.

    Scale shape: one fact pass to the <= 15-cell contingency table;
    margins, chi2 and V are window algebra on those cells (same
    audited shape as agg_chi2_independence)."""
    o = load_table(spark, sf_dir, "orders", parallel=False)
    obs = o.groupBy(
        F.col("o_orderstatus").alias("a"),
        F.col("o_orderpriority").alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    dom = obs.select("a").distinct().crossJoin(obs.select("b").distinct())
    filled = dom.join(obs, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    m = filled.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("rt"),
        F.sum("o").over(Window.partitionBy("b")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("ct") * 1.0 / F.col("n")
    agg = m.agg(
        F.count_distinct("a").alias("r"),
        F.count_distinct("b").alias("c"),
        F.max("n").alias("n"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
    )
    n, r, cc, chi2 = (F.col(x) for x in ["n", "r", "c", "chi2"])
    return agg.select(
        n.cast("long").alias("n_orders"),
        r.cast("long").alias("n_status"),
        cc.cast("long").alias("n_priority"),
        F.round(chi2, 4).alias("chi2_stat"),
        F.round(
            F.sqrt(chi2 / (n * (F.least(r, cc) - 1))), 6
        ).alias("cramers_v"),
    )


# ------------------------------ wave 25: Mann-Kendall trend test

MANN_KENDALL_ORACLE = """
-- Mann-Kendall monotone-trend test on daily revenue: S = sum over
-- day pairs i<j of sign(y_j - y_i), ties-corrected variance, and
-- the continuity-corrected z — the NONPARAMETRIC trend detector
-- (the runs test sees non-randomness, Theil-Sen fits the slope;
-- Mann-Kendall is the significance test that justifies fitting one
-- at all). EXACT device: S is an exact integer from a day-domain
-- pair join (|days|^2 pairs — bounded by the calendar, never by
-- facts); the tie term sums t(t-1)(2t+5) over exact value-count
-- groups; z is one fixed chain.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d
), n_ AS (
  SELECT COUNT(*) AS n FROM daily
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y) WHERE t > 1
), v AS (
  SELECT n, s, tt,
         (n * (n - 1.0) * (2 * n + 5) - tt) / 18.0 AS var
  FROM n_, s, ties
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS s_stat,
       FLOOR(CASE WHEN s > 0 THEN (s - 1) / SQRT(var)
                  WHEN s < 0 THEN (s + 1) / SQRT(var)
                  ELSE 0.0 END * 1000000 + 0.5) / 1000000 AS z_score
FROM v
"""


@register("agg_mann_kendall_trend", oracle=MANN_KENDALL_ORACLE)
def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily revenue (see oracle).

    Scale shape: facts collapse map-side to |days|; the pair join is
    day-domain quadratic (calendar-bounded — ~9M pairs even at ten
    YEARS of days, broadcastable small side), ties reduce on the
    revenue-value domain, and the z is a 1-row chain. At 100 TB the
    shape is identical because the calendar doesn't grow with data;
    for minute-grained series swap the pair join for the
    O(n log n) rank formulation (S = sum of concordances via
    mergesort inversions) — documented cutover."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = cached(ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    ))
    a, b = daily.alias("a"), daily.alias("b")
    s_row = (
        a.join(F.broadcast(b), F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    n_row = daily.agg(F.count(F.lit(1)).alias("n"))
    t = F.col("t")
    tie_row = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = n_row.crossJoin(s_row).crossJoin(tie_row)
    n, s, tt = F.col("n"), F.col("s"), F.col("tt")
    var = (n * (n - 1.0) * (2 * n + 5) - tt) / 18.0
    z = (
        F.when(s > 0, (s - 1) / F.sqrt(var))
        .when(s < 0, (s + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        n.cast("long").alias("n_days"),
        s.alias("s_stat"),
        snap(z, 6).alias("z_score"),
    )


# --------------------------- wave 25: Wilcoxon signed-rank (paired)

WILCOXON_ORACLE = """
-- Wilcoxon signed-rank test: is weekDAY revenue systematically
-- different from weekEND revenue, PAIRED BY ISO WEEK? The paired
-- counterpart of the Mann-Whitney operator (which compares two
-- independent samples); pairing by week removes between-week volume
-- drift from the comparison entirely. Same 2x-scaled tie-averaged
-- integer rank device on |d|: every rank sum is exact BIGINT, the
-- normal approximation runs in the 2x scale (W2 = 2*W+ has mean
-- n(n+1)/2 and variance n(n+1)(2n+1)/6 - sum(t^3-t)/12), and zero
-- differences drop per the standard procedure.
WITH wk AS (
  SELECT date_trunc('week', ts) AS w,
         -- isodow: 6=Sat, 7=Sun (DuckDB's plain dayofweek is
         -- 0-indexed from Sunday, unlike Spark's 1-indexed — the
         -- grouping-invariant chi2 oracle never noticed; a PAIRED
         -- split does)
         CAST(FLOOR(SUM(CASE WHEN isodow(ts) IN (6, 7)
                             THEN 0 ELSE value END) * 100 + 0.5)
              AS BIGINT) AS wd,
         CAST(FLOOR(SUM(CASE WHEN isodow(ts) IN (6, 7)
                             THEN value ELSE 0 END) * 100 + 0.5)
              AS BIGINT) AS we
  FROM events GROUP BY 1
), d AS (
  SELECT wd - we AS d, ABS(wd - we) AS ad FROM wk WHERE wd <> we
), byv AS (
  SELECT ad, COUNT(*) AS t FROM d GROUP BY ad
), ranked AS (
  SELECT ad, t,
         2 * (SUM(t) OVER (ORDER BY ad) - t) + t + 1 AS ar2,
         CAST(SUM(t * t * t - t) OVER () AS BIGINT) AS tie
  FROM byv
), j AS (
  SELECT CAST(SUM(CASE WHEN d.d > 0 THEN r.ar2 ELSE 0 END) AS BIGINT)
           AS w2,
         COUNT(*) AS n,
         ANY_VALUE(r.tie) AS tie
  FROM d JOIN ranked r ON r.ad = d.ad
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(w2 / 2.0 AS DOUBLE) AS w_plus,
       FLOOR((w2 - n * (n + 1.0) / 2)
             / SQRT(n * (n + 1.0) * (2 * n + 1) / 6 - tie / 12.0)
             * 1000000 + 0.5) / 1000000 AS z_score
FROM j
"""


@register("agg_wilcoxon_signed_rank", oracle=WILCOXON_ORACLE)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Wilcoxon signed-rank: weekday vs weekend revenue
    paired by ISO week (see oracle).

    Scale shape: one fact pass to |weeks| paired rows (map-side
    conditional sums); ranks run on the |distinct |d|| domain with
    the shared 2x tie-averaged device; the tie total rides the same
    single-partition window sort. Everything after the week rollup
    is calendar-bounded."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    is_we = F.dayofweek("ts").isin(1, 7)
    wk = ev.groupBy(F.date_trunc("week", "ts").alias("w")).agg(
        fixed(F.sum(F.when(is_we, F.lit(0.0)).otherwise(F.col("value"))), 2)
        .alias("wd"),
        fixed(F.sum(F.when(is_we, F.col("value")).otherwise(F.lit(0.0))), 2)
        .alias("we"),
    )
    d = wk.filter(F.col("wd") != F.col("we")).select(
        (F.col("wd") - F.col("we")).alias("d"),
        F.abs(F.col("wd") - F.col("we")).alias("ad"),
    )
    byv = d.groupBy("ad").agg(F.count(F.lit(1)).alias("t"))
    w_upto = Window.orderBy("ad").rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("ad").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.col("t")
    ranked = byv.select(
        "ad",
        (2 * (F.sum("t").over(w_upto) - t) + t + 1).alias("ar2"),
        F.sum(t * t * t - t).over(w_all).cast("long").alias("tie"),
    )
    j = d.join(ranked, "ad").agg(
        F.sum(F.when(F.col("d") > 0, F.col("ar2")).otherwise(0))
        .cast("long")
        .alias("w2"),
        F.count(F.lit(1)).alias("n"),
        F.max("tie").alias("tie"),
    )
    n, w2, tie = F.col("n"), F.col("w2"), F.col("tie")
    return j.select(
        n.cast("long").alias("n_pairs"),
        (w2 / 2.0).alias("w_plus"),
        snap(
            (w2 - n * (n + 1.0) / 2)
            / F.sqrt(
                n * (n + 1.0) * (2 * n + 1) / 6 - tie / 12.0
            ),
            6,
        ).alias("z_score"),
    )


# ----------------------- wave 25: robust moments from exact octiles

ROBUST_MOMENTS_ORACLE = """
-- Robust location/scale/shape summary from exact octiles of account
-- balances: median, IQR, Bowley (quartile) skewness and Moors
-- (octile) kurtosis — the outlier-immune counterpart of the
-- moment-based Jarque-Bera screen (one corrupted balance moves
-- skewness/kurtosis arbitrarily; it cannot move an octile). All
-- eight cut points are EXACT discrete order statistics
-- (quantile_disc / percentile_disc) on integer cents — engine-
-- identical by definition, no interpolation, no float until the two
-- final ratios.
WITH c AS (
  SELECT CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x FROM customer
), q AS (
  SELECT COUNT(*) AS n,
         quantile_disc(x, 0.125) AS e1, quantile_disc(x, 0.25) AS e2,
         quantile_disc(x, 0.375) AS e3, quantile_disc(x, 0.50) AS e4,
         quantile_disc(x, 0.625) AS e5, quantile_disc(x, 0.75) AS e6,
         quantile_disc(x, 0.875) AS e7
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(e4 AS BIGINT) AS median_cents,
       CAST(e6 - e2 AS BIGINT) AS iqr_cents,
       FLOOR((e6 + e2 - 2.0 * e4) / (e6 - e2) * 1000000 + 0.5)
         / 1000000 AS bowley_skew,
       FLOOR(((e7 - e5) + (e3 - e1)) * 1.0 / (e6 - e2) * 1000000 + 0.5)
         / 1000000 AS moors_kurtosis
FROM q
"""


@register("agg_robust_moments_octiles", oracle=ROBUST_MOMENTS_ORACLE)
def agg_robust_moments_octiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR/Bowley-skew/Moors-kurtosis from exact octiles (see
    oracle) — the contamination-proof location-scale-shape summary.

    Scale shape: percentile_disc over one scan (Spark computes all
    seven cut points in a single aggregate); at 100 TB exact order
    statistics go through the two-pass partition-offset device of
    agg_exact_percentiles — drop-in, documented there."""
    c = load_table(spark, sf_dir, "customer").select(
        fixed(F.col("c_acctbal"), 2).alias("x")
    )
    cuts = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY x)"
        ).alias(f"e{i}")
        for i, p in enumerate(
            ["0.125", "0.25", "0.375", "0.50", "0.625", "0.75", "0.875"],
            start=1,
        )
    ]
    q = c.agg(F.count(F.lit(1)).alias("n"), *cuts)
    e1, e2, e3, e4, e5, e6, e7 = (F.col(f"e{i}") for i in range(1, 8))
    return q.select(
        F.col("n").cast("long").alias("n_customers"),
        e4.cast("long").alias("median_cents"),
        (e6 - e2).cast("long").alias("iqr_cents"),
        snap((e6 + e2 - 2.0 * e4) / (e6 - e2), 6).alias("bowley_skew"),
        snap(((e7 - e5) + (e3 - e1)) * 1.0 / (e6 - e2), 6).alias("moors_kurtosis"),
    )


# --------------------------------- wave 26: Grubbs outlier test

GRUBBS_ORACLE = """
-- Grubbs' test on daily revenue: G = max|y - mean| / sd — is the
-- single most extreme day a statistical outlier, and WHICH day is
-- it? The one-outlier confirmatory test on top of the flagging
-- tiers (zscore/MAD/Hampel flag candidates; Grubbs scores the
-- worst one). EXACT device: with integer cents y and exact (n, s,
-- q), |n*y - s| is an exact integer (promoted before the multiply),
-- so the argmax day is an exact-integer comparison with date
-- tie-break, and G = (maxu/n) / sqrt((q - s^2/n)/(n-1)) is one
-- fixed chain.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS q
  FROM daily
), u AS (
  SELECT d, y, ABS(CAST((SELECT n FROM m) AS HUGEINT) * y
                   - (SELECT s FROM m)) AS udev
  FROM daily
), pick AS (
  SELECT d, y, udev FROM u ORDER BY udev DESC, d LIMIT 1
)
SELECT CAST(m.n AS BIGINT) AS n_days,
       STRFTIME(pick.d, '%Y-%m-%d') AS suspect_day,
       pick.y AS suspect_revenue_cents,
       FLOOR((pick.udev * 1.0 / m.n)
             / SQRT((m.q * 1.0 - m.s * 1.0 * m.s / m.n) / (m.n - 1))
             * 1000000 + 0.5) / 1000000 AS g_stat
FROM m, pick
"""


@register("agg_grubbs_outlier", oracle=GRUBBS_ORACLE)
def agg_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' single-outlier test on daily revenue (see oracle).

    Scale shape: facts collapse map-side to |days|; the 1-row moment
    table broadcasts back; the argmax is TakeOrdered(1) on an exact
    integer deviation with date tie-break; G is one fixed chain."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("q"),
    )
    u = daily.crossJoin(F.broadcast(m)).select(
        "d",
        "y",
        "n",
        "s",
        "q",
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")).alias(
            "udev"
        ),
    )
    pick = u.orderBy(F.desc("udev"), "d").limit(1)
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    return pick.select(
        n.cast("long").alias("n_days"),
        F.date_format("d", "yyyy-MM-dd").alias("suspect_day"),
        F.col("y").alias("suspect_revenue_cents"),
        snap(
            (F.col("udev") * 1.0 / n)
            / F.sqrt((q * 1.0 - s * 1.0 * s / n) / (n - 1)),
            6,
        ).alias("g_stat"),
    )


# ---------------- wave 27: Hodges-Lehmann paired location estimate

HODGES_LEHMANN_ORACLE = """
-- Hodges-Lehmann estimator of the weekday-minus-weekend revenue
-- shift, paired by ISO week: the median of all Walsh averages
-- (d_i + d_j)/2 over pairs i <= j — the LOCATION estimate that goes
-- with the Wilcoxon signed-rank TEST (the test says 'is there a
-- shift'; HL says 'how big', robustly — one crazy week cannot move
-- it). EXACT device: Walsh averages are computed in 2x units
-- (d_i + d_j is an exact integer), the pair set is
-- |weeks|^2-bounded (calendar-domain quadratic), and the median is
-- an exact discrete order statistic on integers.
WITH wk AS (
  SELECT date_trunc('week', ts) AS w,
         CAST(FLOOR(SUM(CASE WHEN isodow(ts) IN (6, 7)
                             THEN 0 ELSE value END) * 100 + 0.5)
              AS BIGINT) AS wd,
         CAST(FLOOR(SUM(CASE WHEN isodow(ts) IN (6, 7)
                             THEN value ELSE 0 END) * 100 + 0.5)
              AS BIGINT) AS we
  FROM events GROUP BY 1
), d AS (
  SELECT ROW_NUMBER() OVER (ORDER BY w) AS i, wd - we AS d FROM wk
), walsh AS (
  SELECT a.d + b.d AS w2
  FROM d a JOIN d b ON a.i <= b.i
), agg AS (
  SELECT COUNT(*) AS n_walsh, quantile_disc(w2, 0.5) AS hl2 FROM walsh
)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_weeks,
       CAST(n_walsh AS BIGINT) AS n_walsh_averages,
       CAST(hl2 AS BIGINT) AS hl_shift_2x_cents,
       FLOOR(hl2 / 2.0 * 100 + 0.5) / 100 AS hl_shift_cents
FROM agg
"""


@register("agg_hodges_lehmann_shift", oracle=HODGES_LEHMANN_ORACLE)
def agg_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann robust estimate of the weekday-vs-weekend
    revenue shift (see oracle) — the size-of-effect partner of
    agg_wilcoxon_signed_rank.

    Scale shape: one fact pass to |weeks| paired diffs; the Walsh-
    average self-join is CALENDAR-quadratic (|weeks|^2/2 pairs —
    ~135k at ten years; broadcast small side), and the median is an
    exact discrete order statistic on 2x-unit integers."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    is_we = F.dayofweek("ts").isin(1, 7)
    wk = ev.groupBy(F.date_trunc("week", "ts").alias("w")).agg(
        fixed(F.sum(F.when(is_we, F.lit(0.0)).otherwise(F.col("value"))), 2)
        .alias("wd"),
        fixed(F.sum(F.when(is_we, F.col("value")).otherwise(F.lit(0.0))), 2)
        .alias("we"),
    )
    d = cached(wk.select(
        F.row_number().over(Window.orderBy("w")).alias("i"),
        (F.col("wd") - F.col("we")).alias("d"),
    ))
    a, b = d.alias("a"), d.alias("b")
    walsh = a.join(F.broadcast(b), F.col("a.i") <= F.col("b.i")).select(
        (F.col("a.d") + F.col("b.d")).alias("w2")
    )
    agg = walsh.agg(
        F.count(F.lit(1)).alias("n_walsh"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w2)").alias(
            "hl2"
        ),
    )
    n_weeks = d.agg(F.count(F.lit(1)).alias("nw"))
    return agg.crossJoin(F.broadcast(n_weeks)).select(
        F.col("nw").cast("long").alias("n_weeks"),
        F.col("n_walsh").cast("long").alias("n_walsh_averages"),
        F.col("hl2").cast("long").alias("hl_shift_2x_cents"),
        snap(F.col("hl2") / 2.0, 2).alias("hl_shift_cents"),
    )


# ------------------------------- wave 29: Friedman blocked rank test

FRIEDMAN_ORACLE = """
-- Friedman test: does daily revenue differ systematically by DAY OF
-- WEEK once week-to-week volume drift is removed? The k-treatment
-- generalization of the Wilcoxon signed-rank operator (which pairs
-- two treatments): each complete ISO week is a BLOCK, the seven
-- weekdays are TREATMENTS, and revenue is ranked WITHIN each block,
-- so between-week drift never touches the statistic. Same 2x-scaled
-- tie-averaged integer rank device as Kruskal/Wilcoxon: on day rows,
-- r2 = 2*RANK() + t - 1 (t = size of the day's tie group) is exactly
-- twice the tie-averaged rank, so every rank sum is exact BIGINT.
-- Tie-robust form: Q = (k-1) * SUM_j (R_j - n(k+1)/2)^2 / (A - C)
-- with A = SUM r^2, C = n*k*(k+1)^2/4; in the 2x domain the /4s
-- cancel: Q = 6 * SUM_j (R2_j - 8n)^2 / (A4 - 448n) for k = 7.
WITH cell AS (
  SELECT date_trunc('week', ts) AS w, isodow(ts) AS dow,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), full_w AS (
  SELECT w FROM cell GROUP BY w HAVING COUNT(*) = 7
), c2 AS (
  SELECT cell.* FROM cell JOIN full_w USING (w)
), ranked AS (
  SELECT dow,
         2 * RANK() OVER (PARTITION BY w ORDER BY y)
           + COUNT(*) OVER (PARTITION BY w, y) - 1 AS r2
  FROM c2
), nst AS (
  SELECT COUNT(*) AS n FROM full_w
), rj AS (
  SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2j FROM ranked GROUP BY dow
), a4 AS (
  SELECT CAST(SUM(r2 * r2) AS BIGINT) AS a4 FROM ranked
), num AS (
  SELECT CAST(SUM((r2j - 8 * n) * (r2j - 8 * n)) AS BIGINT) AS sq
  FROM rj, nst
)
SELECT CAST(n AS BIGINT) AS n_weeks,
       CAST(7 AS BIGINT) AS k_treatments,
       FLOOR(6.0 * sq / (a4 - 448 * n) * 1000000 + 0.5) / 1000000
         AS q_stat
FROM nst, a4, num
"""


@register("agg_friedman_test", oracle=FRIEDMAN_ORACLE)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test: weekday effect on daily revenue
    with ISO weeks as blocks (see oracle for the exact device).

    Scale shape: facts collapse map-side to the (week, weekday) cell
    domain in ONE partial-aggregated pass; completeness filtering,
    within-block ranking (windows partitioned BY WEEK — parallel
    across blocks, never a single global sort), and the three
    sufficient statistics all run on the |weeks|x7 domain table. At
    100 TB the cell domain is still calendar-bounded; every rank sum
    is exact BIGINT via the 2x device, and Q is one snapped scalar
    chain. Degenerate guard: A4 == 448n (all seven days tied in
    every week) cannot occur with continuous revenue; documented
    rather than branched."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    cell = ev.groupBy(
        F.date_trunc("week", "ts").alias("w"),
        (F.expr("weekday(ts)") + F.lit(1)).alias("dow"),
    ).agg(fixed(F.sum("value"), 2).alias("y"))
    c2 = cached(
        cell.withColumn(
            "ndow", F.count(F.lit(1)).over(Window.partitionBy("w"))
        )
        .filter(F.col("ndow") == 7)
        .drop("ndow")
    )
    ranked = cached(c2.select(
        "dow",
        (
            2 * F.rank().over(Window.partitionBy("w").orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("w", "y"))
            - 1
        ).alias("r2"),
    ))
    nst = c2.select(F.count_distinct("w").alias("n"))
    rj = ranked.groupBy("dow").agg(F.sum("r2").cast("long").alias("r2j"))
    a4 = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("a4")
    )
    num = rj.crossJoin(F.broadcast(nst)).agg(
        F.sum(
            (F.col("r2j") - 8 * F.col("n")) * (F.col("r2j") - 8 * F.col("n"))
        )
        .cast("long")
        .alias("sq"),
        F.max("n").alias("n"),
    )
    q = 6.0 * F.col("sq") / (F.col("a4") - 448 * F.col("n"))
    # coalesce: max(n) over the 0-row pair relation is NULL where the
    # oracle's count is 0 (empty-corpus sweep, round 14)
    return num.crossJoin(F.broadcast(a4)).select(
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_weeks"),
        F.lit(7).cast("long").alias("k_treatments"),
        snap(q, 6).alias("q_stat"),
    )


# ------------------------------ wave 29: Cronbach's alpha reliability

CRONBACH_ORACLE = """
-- Cronbach's alpha over the three order-status spend components
-- (O/F/P cents) per customer: do the components move together
-- enough that "customer spend" is a coherent single scale? The
-- internal-consistency coefficient every metrics platform computes
-- before averaging sub-scores into one index:
--   alpha = k/(k-1) * (1 - SUM_i var_i / var_total),
-- population variances, k = 3 items. Sufficient statistics only:
-- per-item sums and WIDE squared sums (HUGEINT here, decimal(38,0)
-- in Spark — cents^2 crosses int64 past ~sf1000), then one
-- fixed-order double chain, snapped.
WITH items AS (
  SELECT o_custkey,
         CAST(FLOOR(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice
                             ELSE 0 END) * 100 + 0.5) AS BIGINT) AS s1,
         CAST(FLOOR(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice
                             ELSE 0 END) * 100 + 0.5) AS BIGINT) AS s2,
         CAST(FLOOR(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice
                             ELSE 0 END) * 100 + 0.5) AS BIGINT) AS s3
  FROM orders GROUP BY o_custkey
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(s1) AS BIGINT) AS a1, SUM(s1 * s1) AS q1,
         CAST(SUM(s2) AS BIGINT) AS a2, SUM(s2 * s2) AS q2,
         CAST(SUM(s3) AS BIGINT) AS a3, SUM(s3 * s3) AS q3,
         CAST(SUM(s1 + s2 + s3) AS BIGINT) AS at,
         SUM((s1 + s2 + s3) * (s1 + s2 + s3)) AS qt
  FROM items
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(3 AS BIGINT) AS k_items,
       FLOOR((3.0 / 2.0) * (1.0 -
               ((q1 * 1.0 / n - (a1 * 1.0 / n) * (a1 * 1.0 / n))
              + (q2 * 1.0 / n - (a2 * 1.0 / n) * (a2 * 1.0 / n))
              + (q3 * 1.0 / n - (a3 * 1.0 / n) * (a3 * 1.0 / n)))
             / (qt * 1.0 / n - (at * 1.0 / n) * (at * 1.0 / n)))
             * 1000000 + 0.5) / 1000000 AS cronbach_alpha
FROM m
"""


@register("agg_cronbach_alpha", oracle=CRONBACH_ORACLE)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha: internal consistency of the three
    order-status spend components as one customer-spend scale.

    Scale shape: ONE fact pass pivots orders to per-customer item
    cents (map-side combine on o_custkey), then ONE aggregation
    reduces the customer table to nine sufficient statistics; the
    alpha chain runs on a single row. Squared-cents sums are
    accumulated WIDE (decimal(38,0), mirroring the oracle's HUGEINT)
    per the module's summed-WIDE rule; the final integer-to-double
    conversions are IEEE round-to-nearest of identical exact
    integers in both engines, so the snapped chain is
    deterministic."""
    od = load_table(spark, sf_dir, "orders", parallel=False)

    def bucket(status: str):
        return (
            fixed(
                F.sum(
                    F.when(
                        F.col("o_orderstatus") == status, F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                2,
            )
        )

    items = od.groupBy("o_custkey").agg(
        bucket("O").alias("s1"), bucket("F").alias("s2"), bucket("P").alias("s3")
    )
    wide = lambda c: F.col(c).cast("decimal(38,0)")
    tot = F.col("s1") + F.col("s2") + F.col("s3")
    m = items.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s1").cast("long").alias("a1"),
        F.sum(wide("s1") * F.col("s1")).alias("q1"),
        F.sum("s2").cast("long").alias("a2"),
        F.sum(wide("s2") * F.col("s2")).alias("q2"),
        F.sum("s3").cast("long").alias("a3"),
        F.sum(wide("s3") * F.col("s3")).alias("q3"),
        F.sum(tot).cast("long").alias("at"),
        F.sum(tot.cast("decimal(38,0)") * tot).alias("qt"),
    )
    n = F.col("n")

    def pvar(q, a):
        return F.col(q) * 1.0 / n - (F.col(a) * 1.0 / n) * (F.col(a) * 1.0 / n)

    alpha = (3.0 / 2.0) * (
        1.0
        - (pvar("q1", "a1") + pvar("q2", "a2") + pvar("q3", "a3"))
        / pvar("qt", "at")
    )
    return m.select(
        n.cast("long").alias("n_customers"),
        F.lit(3).cast("long").alias("k_items"),
        snap(alpha, 6).alias("cronbach_alpha"),
    )


# -------------------------- wave 30: Gumbel block-maxima (EVT) fit

GUMBEL_ORACLE = """
-- Gumbel block-maxima fit on WEEKLY maxima of daily revenue: the
-- extreme-value complement of the Hill operator (Hill estimates the
-- tail exponent from the top order statistics; block maxima fit the
-- max-domain distribution itself — the capacity-planning question
-- 'how big can a peak day get?'). Method-of-moments closed form:
-- beta = s * sqrt(6)/pi, mu = mean - gamma*beta (gamma = the
-- Euler-Mascheroni literal, pinned identically in both engines),
-- then the fitted exceedance probability of the historically worst
-- day. EXACT device: daily cents collapse to |weeks| maxima
-- (weekly, not monthly, blocks: the synthetic fixture spans ~5
-- weeks at every sf — at production time horizons the block would
-- be monthly/quarterly, same shape); mean/var from exact BIGINT
-- sums (sample variance, n-1); the fit is one fixed-order double
-- chain, snapped.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), blocks AS (
  SELECT date_trunc('week', d) AS w, MAX(y) AS mx FROM daily GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(mx) AS BIGINT) AS s1,
         SUM(mx * mx) AS s2,
         CAST(MAX(mx) AS BIGINT) AS worst
  FROM blocks
), fit AS (
  SELECT n, worst,
         s1 * 1.0 / n AS mean_mx,
         SQRT((s2 * 1.0 - (s1 * 1.0 / n) * s1) / (n - 1)) * SQRT(6.0)
           / PI() AS beta
  FROM stats
)
SELECT CAST(n AS BIGINT) AS n_weeks,
       CAST(FLOOR((mean_mx - 0.5772156649015329 * beta) * 1.0 + 0.5)
            AS BIGINT) AS mu_cents,
       CAST(FLOOR(beta + 0.5) AS BIGINT) AS beta_cents,
       FLOOR((1.0 - EXP(-EXP(-(worst - (mean_mx
                 - 0.5772156649015329 * beta)) / beta)))
             * 1000000 + 0.5) / 1000000 AS p_exceed_worst
FROM fit
"""


@register("agg_gumbel_block_maxima", oracle=GUMBEL_ORACLE)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel fit to weekly block maxima of daily revenue (see
    oracle for the method-of-moments device).

    Scale shape: ONE fact pass collapses to |days| map-side, a
    domain aggregation to |weeks| maxima, and the fit is a 1-row
    chain on three exact sufficient statistics (mx*mx summed WIDE —
    Spark decimal(38,0), DuckDB HUGEINT). At 100 TB nothing after
    the first partial aggregation grows; the integer-to-double
    conversions feed identical exact integers to both engines."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    blocks = daily.groupBy(F.date_trunc("week", "d").alias("w")).agg(
        F.max("y").alias("mx")
    )
    stats = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("s2"),
        F.max("mx").cast("long").alias("worst"),
    )
    n, s1, s2, worst = (F.col(c) for c in ["n", "s1", "s2", "worst"])
    mean_mx = s1 * 1.0 / n
    beta = (
        F.sqrt((s2 * 1.0 - (s1 * 1.0 / n) * s1) / (n - 1))
        * F.sqrt(F.lit(6.0))
        / F.lit(3.141592653589793)
    )
    mu = mean_mx - 0.5772156649015329 * beta
    return stats.select(
        n.cast("long").alias("n_weeks"),
        fixed(mu * 1.0, 0).alias("mu_cents"),
        fixed(beta, 0).alias("beta_cents"),
        snap(1.0 - F.exp(-F.exp(-(worst - mu) / beta)), 6).alias("p_exceed_worst"),
    )


# ----------------------------- wave 30: Cochran's Q (k-treatment)

COCHRAN_Q_ORACLE = """
-- Cochran's Q: across the three order-status 'treatments' (O/F/P),
-- do customers participate at systematically different rates? The
-- k-treatment generalization of the McNemar operator (k = 2) over
-- matched binary responses: block = customer, response = 'has at
-- least one order in that status'. EXACT device: the fact table
-- collapses to per-customer 0/1 indicator triples in ONE pass;
-- Q = (k-1) * (k * SUM C_j^2 - T^2) / (k * T - SUM R_i^2) is all
-- exact BIGINT arithmetic (the T/k fractions multiply away), so
-- the statistic is one snapped division.
WITH resp AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS x1,
         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS x2,
         MAX(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS x3
  FROM orders GROUP BY o_custkey
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS BIGINT) AS c1,
         CAST(SUM(x2) AS BIGINT) AS c2,
         CAST(SUM(x3) AS BIGINT) AS c3,
         CAST(SUM(x1 + x2 + x3) AS BIGINT) AS t,
         CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2
  FROM resp
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(t AS BIGINT) AS t_total,
       FLOOR(2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t)
             / (3 * t - sr2) * 1000000 + 0.5) / 1000000 AS q_stat
FROM m
"""


@register("agg_cochran_q_test", oracle=COCHRAN_Q_ORACLE)
def agg_cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the three status participation indicators
    (see oracle for the fraction-free integer form).

    Scale shape: ONE fact pass with map-side combine to per-customer
    indicator triples, ONE reduction to six exact counts, one
    snapped scalar. Column sums c_j <= |customers| keep every
    product inside int64 to ~1.7e9 customers; past that the
    quadratic terms move WIDE per the module rule (documented
    cutover). Degenerate guard: 3T == SUM R^2 iff every responding
    customer responds in all three statuses — impossible to divide
    on real mixes; documented rather than branched."""
    od = load_table(spark, sf_dir, "orders", parallel=False)
    ind = lambda s: F.max(
        F.when(F.col("o_orderstatus") == s, 1).otherwise(0)
    )
    resp = od.groupBy("o_custkey").agg(
        ind("O").alias("x1"), ind("F").alias("x2"), ind("P").alias("x3")
    )
    tot = F.col("x1") + F.col("x2") + F.col("x3")
    m = resp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").cast("long").alias("c1"),
        F.sum("x2").cast("long").alias("c2"),
        F.sum("x3").cast("long").alias("c3"),
        F.sum(tot).cast("long").alias("t"),
        F.sum(tot * tot).cast("long").alias("sr2"),
    )
    c1, c2, c3, t, sr2 = (F.col(c) for c in ["c1", "c2", "c3", "t", "sr2"])
    q = 2.0 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t) / (3 * t - sr2)
    return m.select(
        F.col("n").cast("long").alias("n_blocks"),
        t.alias("t_total"),
        snap(q, 6).alias("q_stat"),
    )


# ------------------- wave 31: Chapman capture-recapture estimator

CHAPMAN_ORACLE = """
-- Chapman capture-recapture estimate of the active-user population
-- from two observation windows (days 1-15 vs days 16-30): treat
-- each half-month as a 'capture' sample; the overlap estimates the
-- unseen mass. N_hat = (n1+1)(n2+1)/(m+1) - 1 with the standard
-- variance estimator — the coverage-estimation primitive behind
-- 'how many users/entities exist that we have not logged yet'
-- (same question the species-richness estimators answer for
-- vocabulary). EXACT device: one fact pass to per-user presence
-- flags; n1/n2/m are exact integer counts; the estimator is one
-- fixed-order chain, snapped. The TRUE distinct count is published
-- beside the estimate — in a capture-recapture validation study the
-- truth is observable, and the estimator's miss is the reading.
WITH pres AS (
  SELECT user_id,
         MAX(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN day(ts) >= 16 THEN 1 ELSE 0 END) AS in2
  FROM events GROUP BY user_id
), m AS (
  SELECT COUNT(*) AS total,
         CAST(SUM(in1) AS BIGINT) AS n1,
         CAST(SUM(in2) AS BIGINT) AS n2,
         CAST(SUM(in1 * in2) AS BIGINT) AS nb
  FROM pres
)
SELECT CAST(n1 AS BIGINT) AS n_first,
       CAST(n2 AS BIGINT) AS n_second,
       CAST(nb AS BIGINT) AS n_both,
       CAST(total AS BIGINT) AS n_true_distinct,
       FLOOR(((n1 + 1.0) * (n2 + 1.0) / (nb + 1.0) - 1.0) * 100
             + 0.5) / 100 AS n_hat_chapman,
       FLOOR(SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - nb)
                  * (n2 - nb)
                  / ((nb + 1.0) * (nb + 1.0) * (nb + 2.0)))
             * 100 + 0.5) / 100 AS se_chapman
FROM m
"""


@register("agg_capture_recapture_chapman", oracle=CHAPMAN_ORACLE)
def agg_capture_recapture_chapman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture population estimate from the two
    half-month activity windows (see oracle).

    Scale shape: ONE fact pass with map-side combine to per-user
    presence flags (the exchange carries user_id + two bits), one
    reduction to four exact counts, one snapped 1-row chain. At
    100 TB the presence aggregation is the only corpus work; with
    user cardinality beyond memory-per-task nothing changes — it is
    a plain two-level hash aggregation."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    pres = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0)
        ).alias("in1"),
        F.max(
            F.when(F.dayofmonth("ts") >= 16, 1).otherwise(0)
        ).alias("in2"),
    )
    m = pres.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("both"),
    )
    n1, n2, b, total = (
        F.col(c) for c in ["n1", "n2", "both", "total"]
    )
    n_hat = (n1 + 1.0) * (n2 + 1.0) / (b + 1.0) - 1.0
    se = F.sqrt(
        (n1 + 1.0)
        * (n2 + 1.0)
        * (n1 - b)
        * (n2 - b)
        / ((b + 1.0) * (b + 1.0) * (b + 2.0))
    )
    return m.select(
        n1.alias("n_first"),
        n2.alias("n_second"),
        b.alias("n_both"),
        total.cast("long").alias("n_true_distinct"),
        snap(n_hat, 2).alias("n_hat_chapman"),
        snap(se, 2).alias("se_chapman"),
    )


# ------------------- wave 33: two-sample energy distance (daily)

ENERGY_DISTANCE_ORACLE = """
-- Two-sample energy distance between WEEKDAY and WEEKEND daily
-- revenue distributions: D^2 = 2*E|X-Y| - E|X-X'| - E|Y-Y'| — the
-- distribution-equality statistic that is zero iff the two
-- distributions coincide, sensitive to ANY difference (location,
-- scale, shape), where the KS operator reads only the max CDF gap
-- and Mann-Whitney only stochastic order. EXACT device: daily cents
-- are exact integers; all three expectation terms are exact BIGINT
-- |difference| sums over the day-domain pair grid (the Mann-Kendall
-- calendar-quadratic family — V-statistic convention, all n^2
-- ordered pairs including self-pairs); the plug-in statistic and
-- the n1*n2/(n1+n2) scaling are one snapped chain.
WITH daily AS (
  SELECT CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS we,
         CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 2, 1
), pairs AS (
  SELECT a.we AS wa, b.we AS wb, ABS(a.y - b.y) AS ad
  FROM daily a CROSS JOIN daily b
), sums AS (
  SELECT CAST(SUM(CASE WHEN wa = 0 AND wb = 1 THEN ad ELSE 0 END)
              AS BIGINT) AS sxy,
         CAST(SUM(CASE WHEN wa = 0 AND wb = 0 THEN ad ELSE 0 END)
              AS BIGINT) AS sxx,
         CAST(SUM(CASE WHEN wa = 1 AND wb = 1 THEN ad ELSE 0 END)
              AS BIGINT) AS syy
  FROM pairs
), ns AS (
  SELECT CAST(SUM(1 - we) AS BIGINT) AS n1,
         CAST(SUM(we) AS BIGINT) AS n2
  FROM daily
)
SELECT n1 AS n_weekday, n2 AS n_weekend,
       FLOOR((2.0 * sxy / (n1 * n2) - sxx * 1.0 / (n1 * n1)
              - syy * 1.0 / (n2 * n2)) / 100 * 10000 + 0.5) / 10000
         AS energy_dist_dollars,
       FLOOR(n1 * 1.0 * n2 / (n1 + n2)
             * (2.0 * sxy / (n1 * n2) - sxx * 1.0 / (n1 * n1)
                - syy * 1.0 / (n2 * n2)) / 100 * 10000 + 0.5) / 10000
         AS energy_test_stat_dollars
FROM sums, ns
"""


@register("agg_energy_distance_weekend", oracle=ENERGY_DISTANCE_ORACLE)
def agg_energy_distance_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy distance between weekday and weekend daily revenue
    (see oracle for the exact pair-sum device).

    Scale shape: facts collapse map-side to |days|; the pair grid is
    calendar-quadratic (never data-quadratic), one crossJoin over a
    broadcast day table with three conditional exact sums; the
    statistic is a 1-row chain. |diff| sums stay inside int64 to
    ~1e5 days x 1e12-cent days (documented WIDE cutover past
    that)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = cached(ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    ).select(
        F.when(F.expr("weekday(d)") >= 5, 1).otherwise(0).alias("we"),
        "y",
    ))
    a = daily.select(
        F.col("we").alias("wa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("we").alias("wb"), F.col("y").alias("yb")
    )
    ad = F.abs(F.col("ya") - F.col("yb"))
    sums = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.when((F.col("wa") == 0) & (F.col("wb") == 1), ad).otherwise(0))
        .cast("long")
        .alias("sxy"),
        F.sum(F.when((F.col("wa") == 0) & (F.col("wb") == 0), ad).otherwise(0))
        .cast("long")
        .alias("sxx"),
        F.sum(F.when((F.col("wa") == 1) & (F.col("wb") == 1), ad).otherwise(0))
        .cast("long")
        .alias("syy"),
    )
    ns = daily.agg(
        F.sum(1 - F.col("we")).cast("long").alias("n1"),
        F.sum("we").cast("long").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    d2 = (
        2.0 * F.col("sxy") / (n1 * n2)
        - F.col("sxx") * 1.0 / (n1 * n1)
        - F.col("syy") * 1.0 / (n2 * n2)
    )
    return sums.crossJoin(F.broadcast(ns)).select(
        n1.alias("n_weekday"),
        n2.alias("n_weekend"),
        snap(d2 / 100, 4).alias("energy_dist_dollars"),
        snap(n1 * 1.0 * n2 / (n1 + n2) * d2 / 100, 4).alias("energy_test_stat_dollars"),
    )


# --------------------- wave 33: circular statistics (hour of day)

CIRCULAR_ORACLE = """
-- Circular (directional) statistics of event time-of-day: treating
-- each event's minute-of-day as an angle on the 24h circle, the
-- mean direction (peak hour), the resultant length R (0 = uniform
-- around the clock, 1 = fully concentrated), and the Rayleigh
-- z = n*R^2 uniformity test. LINEAR hour averages are wrong at the
-- midnight wrap (23:00 and 01:00 average to 12:00); circular stats
-- are the correct tool, and none of the calendar operators reads
-- direction. EXACT-PARITY device: facts collapse to the 1440-row
-- minute-of-day histogram FIRST; cos/sin are evaluated once per
-- minute and snapped to 1e-6 integers (libm cos is not guaranteed
-- bit-identical across engines — snapping 1440 domain values at
-- 1e-6 makes a boundary flip ~1e-10 probable, vs per-row snapping
-- which would flip somewhere at corpus scale); the weighted sums
-- are exact BIGINT.
WITH mins AS (
  -- FLOOR before the BIGINT cast (DuckDB CAST(double AS BIGINT)
  -- ROUNDS, Spark's unix_timestamp truncates) and integer //
  -- division (DuckDB / on integers is float division)
  SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) % 86400) // 60 AS m,
         COUNT(*) AS cnt
  FROM events GROUP BY 1
), trig AS (
  SELECT cnt,
         CAST(FLOOR(COS(2 * PI() * m / 1440.0) * 1000000 + 0.5)
              AS BIGINT) AS c6,
         CAST(FLOOR(SIN(2 * PI() * m / 1440.0) * 1000000 + 0.5)
              AS BIGINT) AS s6
  FROM mins
), s AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * c6) AS BIGINT) AS cc,
         CAST(SUM(cnt * s6) AS BIGINT) AS ss
  FROM trig
), ang AS (
  SELECT n, cc, ss,
         ATAN2(ss * 1.0, cc * 1.0) AS a,
         SQRT(cc * 1.0 * cc + ss * 1.0 * ss) / (n * 1000000.0) AS r
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_events,
       FLOOR((a + CASE WHEN a < 0 THEN 2 * PI() ELSE 0 END)
             / (2 * PI()) * 24 * 10000 + 0.5) / 10000 AS mean_hour,
       FLOOR(r * 1000000 + 0.5) / 1000000 AS resultant_r,
       FLOOR(n * r * r * 100 + 0.5) / 100 AS rayleigh_z
FROM ang
"""


@register("agg_circular_hour_stats", oracle=CIRCULAR_ORACLE)
def agg_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean hour, resultant length, and Rayleigh z over
    event times-of-day (see oracle for the minute-domain snap
    device and why it exists).

    Scale shape: ONE fact pass with map-side combine to the 1440-row
    minute histogram; trig runs 1440 times total regardless of
    corpus size; the weighted sums are exact (cnt*c6 <= ~4e3 * 1e6
    per minute at sf1 — int64 headroom to ~1e12 events). The
    snapped-trig contract is stated in the oracle; at 1e-6 snap over
    1440 values the cross-libm flip probability is ~1e-10."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    mins = ev.groupBy(
        ((F.unix_timestamp("ts") % 86400) / 60)
        .cast("long")
        .alias("m")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    theta = 2 * F.lit(3.141592653589793) * F.col("m") / 1440.0
    trig = mins.select(
        "cnt",
        fixed(F.cos(theta), 6).alias("c6"),
        fixed(F.sin(theta), 6).alias("s6"),
    )
    s = trig.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("c6")).cast("long").alias("cc"),
        F.sum(F.col("cnt") * F.col("s6")).cast("long").alias("ss"),
    )
    n, cc, ss = F.col("n"), F.col("cc"), F.col("ss")
    aa = F.atan2(ss * 1.0, cc * 1.0)
    r = F.sqrt(cc * 1.0 * cc + ss * 1.0 * ss) / (n * 1000000.0)
    two_pi = 2 * F.lit(3.141592653589793)
    return s.select(
        n.alias("n_events"),
        snap(
            (aa + F.when(aa < 0, two_pi).otherwise(F.lit(0.0)))
            / two_pi
            * 24,
            4,
        ).alias("mean_hour"),
        snap(r, 6).alias("resultant_r"),
        snap(n * r * r, 2).alias("rayleigh_z"),
    )


# ----------------- wave 34: Chatterjee's xi (rank dependence)

XI_CORRELATION_ORACLE = """
-- Chatterjee's xi coefficient between daily view count and daily
-- revenue: the modern rank-based dependence measure that converges
-- to 0 iff independent and 1 iff y is a measurable FUNCTION of x —
-- detecting oscillating/non-monotone relationships that Pearson
-- (linear), Spearman, and Kendall (both monotone) all read as
-- zero. xi = 1 - 3 * SUM|r_{i+1} - r_i| / (n^2 - 1), ranks taken
-- after sorting by x. EXACT device: ranks are peer-inclusive
-- RANGE-frame counts (exact integers); the x-sort tie-breaks on
-- day (Chatterjee's randomized tie-break made deterministic —
-- stated convention, applied identically in both engines); the
-- statistic is one exact-integer ratio, snapped.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), ranked AS (
  SELECT d, x,
         COUNT(*) OVER (ORDER BY y
                        RANGE BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS r
  FROM daily
), walked AS (
  SELECT ABS(r - LAG(r) OVER (ORDER BY x, d)) AS dr
  FROM ranked
), s AS (
  SELECT CAST(SUM(dr) AS BIGINT) AS sdr,
         COUNT(*) + 1 AS n
  FROM walked WHERE dr IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR((1.0 - 3.0 * sdr / (n * 1.0 * n - 1)) * 1000000 + 0.5)
         / 1000000 AS xi_coefficient
FROM s
"""


@register("ml_xi_correlation", oracle=XI_CORRELATION_ORACLE)
def ml_xi_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi between daily views and daily revenue (see
    oracle for the rank walk and the deterministic tie policy).

    Scale shape: facts collapse map-side to |days|; the rank and
    walk windows run on the calendar-bounded day table; the
    statistic is one exact-integer chain. For sub-day grains the
    rank window partitions by coarse bucket with boundary stitching
    (the sessionize family's cutover)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        fixed(F.sum("value"), 2).alias("y"),
    )
    wr = (
        Window.orderBy("y")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = daily.select(
        "d", "x", F.count(F.lit(1)).over(wr).alias("r")
    )
    walked = ranked.select(
        F.abs(
            F.col("r") - F.lag("r").over(Window.orderBy("x", "d"))
        ).alias("dr")
    ).filter(F.col("dr").isNotNull())
    s = walked.agg(
        F.sum("dr").cast("long").alias("sdr"),
        (F.count(F.lit(1)) + 1).alias("n"),
    )
    n, sdr = F.col("n"), F.col("sdr")
    return s.select(
        n.cast("long").alias("n_days"),
        snap(1.0 - 3.0 * sdr / (n * 1.0 * n - 1), 6).alias("xi_coefficient"),
    )


# ------------------ wave 34: tail-dependence coefficient (extremes)

TAIL_DEPENDENCE_ORACLE = """
-- Empirical tail-dependence between daily view volume and daily
-- revenue: given a day is in the top decile of views, how often is
-- it also in the top decile of revenue (lambda_upper), and the
-- mirrored bottom-decile question (lambda_lower)? Correlation
-- operators read AVERAGE co-movement; capacity planning cares
-- about the EXTREMES, and a bivariate pair can be highly
-- correlated yet tail-independent (Gaussian copula) or the
-- reverse. EXACT device: decile thresholds are PERCENTILE_DISC
-- order statistics; memberships and the conditional fractions are
-- exact integer counts, snapped once.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), cuts AS (
  SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY x) AS qx_hi,
         PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY y) AS qy_hi,
         PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY x) AS qx_lo,
         PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY y) AS qy_lo
  FROM daily
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN x > qx_hi THEN 1 ELSE 0 END) AS BIGINT)
           AS nx_hi,
         CAST(SUM(CASE WHEN x > qx_hi AND y > qy_hi THEN 1 ELSE 0 END)
              AS BIGINT) AS nj_hi,
         CAST(SUM(CASE WHEN x < qx_lo THEN 1 ELSE 0 END) AS BIGINT)
           AS nx_lo,
         CAST(SUM(CASE WHEN x < qx_lo AND y < qy_lo THEN 1 ELSE 0 END)
              AS BIGINT) AS nj_lo
  FROM daily, cuts
)
SELECT CAST(n AS BIGINT) AS n_days,
       nx_hi AS n_upper_cond, nj_hi AS n_upper_joint,
       CASE WHEN nx_hi > 0
            THEN FLOOR(nj_hi * 1.0 / nx_hi * 10000 + 0.5) / 10000
            ELSE NULL END AS lambda_upper,
       nx_lo AS n_lower_cond, nj_lo AS n_lower_joint,
       CASE WHEN nx_lo > 0
            THEN FLOOR(nj_lo * 1.0 / nx_lo * 10000 + 0.5) / 10000
            ELSE NULL END AS lambda_lower
FROM m
"""


@register("agg_tail_dependence_extremes", oracle=TAIL_DEPENDENCE_ORACLE)
def agg_tail_dependence_extremes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical upper/lower tail dependence between daily views and
    revenue (see oracle).

    Scale shape: one fact pass to |days|; exact order-statistic
    thresholds; exact conditional counts; 1-row chain. Nothing
    grows past the first aggregation at any corpus size."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = cached(ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        fixed(F.sum("value"), 2).alias("y"),
    ))
    cuts = daily.agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY x)").alias(
            "qx_hi"
        ),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)").alias(
            "qy_hi"
        ),
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY x)").alias(
            "qx_lo"
        ),
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY y)").alias(
            "qy_lo"
        ),
    )
    x, y = F.col("x"), F.col("y")
    m = daily.crossJoin(F.broadcast(cuts)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(x > F.col("qx_hi"), 1).otherwise(0))
        .cast("long")
        .alias("nx_hi"),
        F.sum(
            F.when((x > F.col("qx_hi")) & (y > F.col("qy_hi")), 1).otherwise(0)
        )
        .cast("long")
        .alias("nj_hi"),
        F.sum(F.when(x < F.col("qx_lo"), 1).otherwise(0))
        .cast("long")
        .alias("nx_lo"),
        F.sum(
            F.when((x < F.col("qx_lo")) & (y < F.col("qy_lo")), 1).otherwise(0)
        )
        .cast("long")
        .alias("nj_lo"),
    )
    lam = lambda nj, nx: F.when(
        F.col(nx) > 0,
        snap(F.col(nj) * 1.0 / F.col(nx), 4),
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("nx_hi").alias("n_upper_cond"),
        F.col("nj_hi").alias("n_upper_joint"),
        lam("nj_hi", "nx_hi").alias("lambda_upper"),
        F.col("nx_lo").alias("n_lower_cond"),
        F.col("nj_lo").alias("n_lower_joint"),
        lam("nj_lo", "nx_lo").alias("lambda_lower"),
    )


# ------------------- wave 34: partial correlation (confounder control)

PARTIAL_CORR_ORACLE = """
-- Partial correlation of daily views and purchases CONTROLLING for
-- clicks: is the view-purchase co-movement real, or is it all
-- driven by overall click traffic? The corr-matrix operator reads
-- the raw pairwise structure; this is the first-order causal
-- control on top of it: r_xy.z = (r_xy - r_xz*r_yz) /
-- sqrt((1 - r_xz^2) * (1 - r_yz^2)). EXACT device: all nine
-- moments are exact BIGINT sums of integer daily counts from ONE
-- rollup; the three Pearson r's and the partial chain are
-- fixed-order doubles, snapped.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS z
  FROM events GROUP BY 1
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(y * z) AS BIGINT) AS syz
  FROM daily
), r AS (
  SELECT n,
         (n * sxy - sx * sy) * 1.0
           / (SQRT(n * 1.0 * sxx - sx * 1.0 * sx)
              * SQRT(n * 1.0 * syy - sy * 1.0 * sy)) AS rxy,
         (n * sxz - sx * sz) * 1.0
           / (SQRT(n * 1.0 * sxx - sx * 1.0 * sx)
              * SQRT(n * 1.0 * szz - sz * 1.0 * sz)) AS rxz,
         (n * syz - sy * sz) * 1.0
           / (SQRT(n * 1.0 * syy - sy * 1.0 * sy)
              * SQRT(n * 1.0 * szz - sz * 1.0 * sz)) AS ryz
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(rxy * 1000000 + 0.5) / 1000000 AS r_view_purchase,
       FLOOR((rxy - rxz * ryz)
             / SQRT((1 - rxz * rxz) * (1 - ryz * ryz))
             * 1000000 + 0.5) / 1000000 AS r_partial_given_clicks
FROM r
"""


@register("agg_partial_correlation", oracle=PARTIAL_CORR_ORACLE)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of views and purchases given clicks (see
    oracle for the moment device).

    Scale shape: one fact pass to the day domain, nine exact-integer
    moments in one reduction, a 1-row fixed chain. Count products
    stay inside int64 to ~3e9 events/type/day (WIDE cutover
    documented)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    cnt = lambda t: F.sum(
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        cnt("view").alias("x"),
        cnt("purchase").alias("y"),
        cnt("click").alias("z"),
    )
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(z).cast("long").alias("sz"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(z * z).cast("long").alias("szz"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * z).cast("long").alias("sxz"),
        F.sum(y * z).cast("long").alias("syz"),
    )
    n = F.col("n")

    def pearson(sab, sa, sb, saa, sbb):
        return (
            (n * F.col(sab) - F.col(sa) * F.col(sb))
            * 1.0
            / (
                F.sqrt(n * 1.0 * F.col(saa) - F.col(sa) * 1.0 * F.col(sa))
                * F.sqrt(n * 1.0 * F.col(sbb) - F.col(sb) * 1.0 * F.col(sb))
            )
        )

    rxy = pearson("sxy", "sx", "sy", "sxx", "syy")
    rxz = pearson("sxz", "sx", "sz", "sxx", "szz")
    ryz = pearson("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * ryz) / F.sqrt(
        (1 - rxz * rxz) * (1 - ryz * ryz)
    )
    return m.select(
        n.cast("long").alias("n_days"),
        snap(rxy, 6).alias("r_view_purchase"),
        snap(partial, 6).alias("r_partial_given_clicks"),
    )


# ----------------------- wave 35: L-moments (order-statistic moments)

LMOMENTS_ORACLE = """
-- Sample L-moments of daily revenue: L-scale, L-CV, L-skewness and
-- L-kurtosis from linear combinations of ORDER STATISTICS — the
-- robust moment system (hydrology/EVT standard) whose ratios are
-- bounded and nearly unbiased where classical skewness/kurtosis
-- (the higher-moments operator) explode under heavy tails, and
-- whose estimators are distinct in kind from the quantile-based
-- octile moments. EXACT device: sorted daily cents with
-- ROW_NUMBER ranks; the three weighted sums N_k =
-- SUM (r-1)(r-2)..(r-k) * y_(r) are exact BIGINT (tied y values
-- make the rank assignment within a tie block irrelevant — the
-- block's weight sum is rank-set-invariant); b_k, the lambda
-- ladder, and the ratios are one fixed chain.
WITH daily AS (
  SELECT CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
), ranked AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS r FROM daily
), s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS s0,
         CAST(SUM((r - 1) * y) AS BIGINT) AS s1,
         CAST(SUM((r - 1) * (r - 2) * y) AS BIGINT) AS s2,
         CAST(SUM((r - 1) * (r - 2) * (r - 3) * y) AS BIGINT) AS s3
  FROM ranked
), b AS (
  SELECT n,
         s0 * 1.0 / n AS b0,
         s1 * 1.0 / (n * 1.0 * (n - 1)) AS b1,
         s2 * 1.0 / (n * 1.0 * (n - 1) * (n - 2)) AS b2,
         s3 * 1.0 / (n * 1.0 * (n - 1) * (n - 2) * (n - 3)) AS b3
  FROM s
), l AS (
  SELECT n, b0 AS l1,
         2 * b1 - b0 AS l2,
         6 * b2 - 6 * b1 + b0 AS l3,
         20 * b3 - 30 * b2 + 12 * b1 - b0 AS l4
  FROM b
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(l1 + 0.5) / 100 AS l1_dollars,
       FLOOR(l2 + 0.5) / 100 AS l2_dollars,
       FLOOR(l2 / l1 * 1000000 + 0.5) / 1000000 AS l_cv,
       FLOOR(l3 / l2 * 1000000 + 0.5) / 1000000 AS l_skewness,
       FLOOR(l4 / l2 * 1000000 + 0.5) / 1000000 AS l_kurtosis
FROM l
"""


@register("agg_lmoments_daily", oracle=LMOMENTS_ORACLE)
def agg_lmoments_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample L-moments (L-scale, L-CV, L-skew, L-kurtosis) of daily
    revenue (see oracle for the order-statistic device).

    Scale shape: facts collapse map-side to |days|; the rank window
    and the three weighted sums run on the calendar-bounded day
    table; the lambda ladder is one 1-row chain. Rank-product
    weights stay inside int64 to |days| ~ 2e4 with 1e8-cent days
    (WIDE cutover documented for minute grains)."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    ranked = daily.select(
        "y", F.row_number().over(Window.orderBy("y")).alias("r")
    )
    r, y = F.col("r"), F.col("y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("long").alias("s0"),
        F.sum((r - 1) * y).cast("long").alias("s1"),
        F.sum((r - 1) * (r - 2) * y).cast("long").alias("s2"),
        F.sum((r - 1) * (r - 2) * (r - 3) * y).cast("long").alias("s3"),
    )
    n = F.col("n")
    b0 = F.col("s0") * 1.0 / n
    b1 = F.col("s1") * 1.0 / (n * 1.0 * (n - 1))
    b2 = F.col("s2") * 1.0 / (n * 1.0 * (n - 1) * (n - 2))
    b3 = F.col("s3") * 1.0 / (n * 1.0 * (n - 1) * (n - 2) * (n - 3))
    l1 = b0
    l2 = 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
    return s.select(
        n.cast("long").alias("n_days"),
        (fixed(l1, 0) / 100).alias("l1_dollars"),
        (fixed(l2, 0) / 100).alias("l2_dollars"),
        snap(l2 / l1, 6).alias("l_cv"),
        snap(l3 / l2, 6).alias("l_skewness"),
        snap(l4 / l2, 6).alias("l_kurtosis"),
    )


# ------------------ wave 36: Ledoit-Wolf shrinkage intensity (5x5)

LEDOIT_WOLF_ORACLE = """
-- Ledoit-Wolf shrinkage intensity for the 5x5 covariance of the
-- daily event-type count vector: how far should the sample
-- covariance be pulled toward the scaled identity before anything
-- downstream inverts it? With only |days| observations of a p=5
-- vector the raw S is noisy, and LW gives the closed-form optimal
-- blend weight — the regularization step in front of the Fisher
-- LDA / Mahalanobis operators. EXACT device via two identities:
-- SUM_t ||y_t y_t' - S||_F^2 = SUM_t (|y_t|^2)^2 - n*||S||_F^2 and
-- ||S - mu*I||_F^2 = ||S||_F^2 - p*mu^2, so everything reduces to
-- n-scaled integer moments: U_ti = n*x_ti - SUM_t x_ti, the 15
-- cross sums C_ij = SUM_t U_ti*U_tj (exact BIGINT), and the
-- per-day squared norms Q_t = SUM_i U_ti^2 whose squares sum WIDE
-- (HUGEINT/decimal(38,0)). lambda* = min(1, bbar2/d2) is one
-- snapped chain.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x1,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x2,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x3,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS x4,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x5
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS BIGINT) AS t1, CAST(SUM(x2) AS BIGINT) AS t2,
         CAST(SUM(x3) AS BIGINT) AS t3, CAST(SUM(x4) AS BIGINT) AS t4,
         CAST(SUM(x5) AS BIGINT) AS t5
  FROM daily
), u AS (
  SELECT n,
         CAST(n * x1 - t1 AS BIGINT) AS u1,
         CAST(n * x2 - t2 AS BIGINT) AS u2,
         CAST(n * x3 - t3 AS BIGINT) AS u3,
         CAST(n * x4 - t4 AS BIGINT) AS u4,
         CAST(n * x5 - t5 AS BIGINT) AS u5
  FROM daily, tot
), m AS (
  SELECT MAX(n) AS n,
         CAST(SUM(u1*u1) AS BIGINT) AS c11, CAST(SUM(u2*u2) AS BIGINT) AS c22,
         CAST(SUM(u3*u3) AS BIGINT) AS c33, CAST(SUM(u4*u4) AS BIGINT) AS c44,
         CAST(SUM(u5*u5) AS BIGINT) AS c55,
         CAST(SUM(u1*u2) AS BIGINT) AS c12, CAST(SUM(u1*u3) AS BIGINT) AS c13,
         CAST(SUM(u1*u4) AS BIGINT) AS c14, CAST(SUM(u1*u5) AS BIGINT) AS c15,
         CAST(SUM(u2*u3) AS BIGINT) AS c23, CAST(SUM(u2*u4) AS BIGINT) AS c24,
         CAST(SUM(u2*u5) AS BIGINT) AS c25, CAST(SUM(u3*u4) AS BIGINT) AS c34,
         CAST(SUM(u3*u5) AS BIGINT) AS c35, CAST(SUM(u4*u5) AS BIGINT) AS c45,
         SUM(CAST(u1*u1 + u2*u2 + u3*u3 + u4*u4 + u5*u5 AS HUGEINT)
             * (u1*u1 + u2*u2 + u3*u3 + u4*u4 + u5*u5)) AS sq2
  FROM u
), f AS (
  SELECT n,
         (c11 + c22 + c33 + c44 + c55) * 1.0
           / (n * 1.0 * n * n) / 5 AS mu,
         (c11*1.0*c11 + c22*1.0*c22 + c33*1.0*c33 + c44*1.0*c44
          + c55*1.0*c55
          + 2 * (c12*1.0*c12 + c13*1.0*c13 + c14*1.0*c14 + c15*1.0*c15
                 + c23*1.0*c23 + c24*1.0*c24 + c25*1.0*c25
                 + c34*1.0*c34 + c35*1.0*c35 + c45*1.0*c45))
           / (n*1.0*n*n * n*1.0*n*n) AS frob2,
         sq2 * 1.0 / (n*1.0*n*n * n*1.0*n*n) AS sumq2
  FROM m
)
-- bbar2 = (1/n^2) SUM_t ||y y' - S||^2 = SUM_t q_t^2 / n^2 - ||S||^2/n
--       = sq2/n^6 - frob2/n   (q_t = Q_t/n^2, so SUM q^2 = sq2/n^4).
-- The first cut divided by one extra n; caught by the dense
-- brute-force device test, fixed in BOTH engines.
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(mu * 1000000 + 0.5) / 1000000 AS mu_diag,
       FLOOR((frob2 - 5 * mu * mu) * 1000000 + 0.5) / 1000000 AS d2,
       FLOOR((sumq2 - frob2 / n) * 1000000 + 0.5) / 1000000
         AS bbar2_uncapped,
       FLOOR(LEAST(1.0, (sumq2 - frob2 / n)
                        / (frob2 - 5 * mu * mu))
             * 1000000 + 0.5) / 1000000 AS shrinkage_lambda
FROM f
"""


@register("agg_ledoit_wolf_shrinkage", oracle=LEDOIT_WOLF_ORACLE)
def agg_ledoit_wolf_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ledoit-Wolf shrinkage intensity for the daily count
    covariance (see oracle for the two Frobenius identities that
    make it exact).

    Scale shape: facts collapse map-side to |days| x 5; the n-scaled
    integer demeaning (same device as the KPSS operator) keeps every
    moment exact — 15 BIGINT cross sums plus ONE WIDE sum of squared
    norms; the lambda chain runs on one row. Nothing after the first
    aggregation grows with the corpus."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    types = ["view", "click", "purchase", "signup", "error"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"x{i+1}")
            for i, t in enumerate(types)
        ]
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(f"x{i}").cast("long").alias(f"t{i}")
            for i in range(1, 6)
        ],
    )
    u = daily.crossJoin(F.broadcast(tot)).select(
        "n",
        *[
            (F.col("n") * F.col(f"x{i}") - F.col(f"t{i}"))
            .cast("long")
            .alias(f"u{i}")
            for i in range(1, 6)
        ],
    )
    us = [F.col(f"u{i}") for i in range(1, 6)]
    qnorm = sum(ui * ui for ui in us)
    aggs = [F.max("n").alias("n")]
    for i in range(1, 6):
        aggs.append(
            F.sum(F.col(f"u{i}") * F.col(f"u{i}"))
            .cast("long")
            .alias(f"c{i}{i}")
        )
    for i in range(1, 6):
        for j in range(i + 1, 6):
            aggs.append(
                F.sum(F.col(f"u{i}") * F.col(f"u{j}"))
                .cast("long")
                .alias(f"c{i}{j}")
            )
    aggs.append(
        F.sum(qnorm.cast("decimal(38,0)") * qnorm).alias("sq2")
    )
    m = u.agg(*aggs)
    n = F.col("n")
    n3 = n * 1.0 * n * n
    diag = [F.col(f"c{i}{i}") for i in range(1, 6)]
    offs = [
        F.col(f"c{i}{j}") for i in range(1, 6) for j in range(i + 1, 6)
    ]
    mu = sum(diag[1:], diag[0]) * 1.0 / n3 / 5
    frob2 = (
        sum((c * 1.0 * c for c in diag[1:]), diag[0] * 1.0 * diag[0])
        + 2 * sum((c * 1.0 * c for c in offs[1:]), offs[0] * 1.0 * offs[0])
    ) / (n3 * n3)
    sumq2 = F.col("sq2") * 1.0 / (n3 * n3)
    d2 = frob2 - 5 * mu * mu
    bbar2 = sumq2 - frob2 / n
    return m.select(
        n.cast("long").alias("n_days"),
        snap(mu, 6).alias("mu_diag"),
        snap(d2, 6).alias("d2"),
        snap(bbar2, 6).alias("bbar2_uncapped"),
        snap(F.least(F.lit(1.0), bbar2 / d2), 6).alias("shrinkage_lambda"),
    )


# --------------------------- wave 38: Wasserstein-1 (earth mover)

WASSERSTEIN_ORACLE = """
-- Wasserstein-1 (earth mover's) distance between the WEEKDAY and
-- WEEKEND daily-revenue distributions: the integral of |F1 - F2|
-- over the value axis — the average dollars each weekday-day would
-- have to 'move' to look like a weekend-day. Complements the energy
-- distance (expected pairwise gaps) and KS (max CDF gap) with the
-- L1 transport reading, and unlike both it is in DOLLARS, directly
-- actionable. EXACT device: over the pooled DISTINCT daily cents
-- v_1 < ... < v_K, W1 = sum_k |F1(v_k) - F2(v_k)| * (v_{k+1}-v_k);
-- with integer cumulative counts c1,c2 the integrand is
-- |c1*n2 - c2*n1| / (n1*n2) — an exact integer numerator — so the
-- whole sum is ONE exact integer (summed WIDE) divided once at the
-- end. No pair grid: K <= |days| segments.
WITH daily AS (
  SELECT CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS we,
         CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 2, 1
), ns AS (
  SELECT CAST(SUM(1 - we) AS BIGINT) AS n1,
         CAST(SUM(we) AS BIGINT) AS n2
  FROM daily
), vals AS (
  SELECT y,
         CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM daily GROUP BY y
), cum AS (
  SELECT y,
         SUM(c1) OVER (ORDER BY y) AS f1,
         SUM(c2) OVER (ORDER BY y) AS f2,
         LEAD(y) OVER (ORDER BY y) AS ynext
  FROM vals
), segs AS (
  SELECT CAST(ABS(f1 * (SELECT n2 FROM ns) - f2 * (SELECT n1 FROM ns))
              AS HUGEINT) * (ynext - y) AS seg
  FROM cum WHERE ynext IS NOT NULL
)
SELECT (SELECT n1 FROM ns) AS n_weekday,
       (SELECT n2 FROM ns) AS n_weekend,
       FLOOR(CAST(SUM(seg) AS DOUBLE)
             / ((SELECT n1 FROM ns) * 1.0 * (SELECT n2 FROM ns))
             / 100 * 10000 + 0.5) / 10000 AS wasserstein_dollars
FROM segs
"""


@register("agg_wasserstein_weekend", oracle=WASSERSTEIN_ORACLE)
def agg_wasserstein_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 distance between weekday and weekend daily
    revenue (see oracle for the exact segment-sum device).

    Scale shape: facts collapse map-side to |days|; the CDF walk is
    ONE window pass over the <=|days| distinct-cent table (no pair
    grid — this is the linear-cost cousin of the energy distance);
    the statistic is a single division on one row. The segment sum
    is summed WIDE (decimal(38,0) / HUGEINT): each term is bounded
    by n1*n2*gap and the sum telescopes to n1*n2*range, ~1e13 at
    fixture scale but WIDE keeps the headroom explicit."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = cached(
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(fixed(F.sum("value"), 2).alias("y"))
        .select(
            F.when(F.expr("weekday(d)") >= 5, 1).otherwise(0).alias("we"),
            "y",
        )
    )
    ns = daily.agg(
        F.sum(1 - F.col("we")).cast("long").alias("n1"),
        F.sum("we").cast("long").alias("n2"),
    )
    vals = daily.groupBy("y").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    w = Window.orderBy("y")
    cum = vals.select(
        "y",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.lead("y").over(w).alias("ynext"),
    )
    segs = cum.filter(F.col("ynext").isNotNull()).crossJoin(
        F.broadcast(ns)
    ).select(
        (
            F.abs(
                F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
            ).cast("decimal(38,0)")
            * (F.col("ynext") - F.col("y"))
        ).alias("seg"),
        "n1",
        "n2",
    )
    # global aggregation, NOT groupBy(n1, n2): both are broadcast
    # constants (1 group on any populated input, identical values),
    # but the grouped form emits ZERO rows on an empty corpus where
    # the oracle emits one all-NULL summary row (empty-corpus sweep,
    # round 14)
    return segs.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        snap(
            F.sum("seg").cast("double")
            / (F.max("n1") * 1.0 * F.max("n2"))
            / 100,
            4,
        ).alias("wasserstein_dollars"),
    ).select(
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        "wasserstein_dollars",
    )


# ------------------- wave 38: Cramér–von Mises two-sample test

CVM_ORACLE = """
-- Two-sample Cramér–von Mises criterion between WEEKDAY and WEEKEND
-- daily revenue: T integrates the SQUARED gap between the two
-- empirical CDFs over the pooled sample — sensitive across the
-- whole distribution where KS reads only the max gap and the
-- energy distance reads expected pairwise distances. EXACT device
-- (Anderson 1962 rank form, house 2x-scaled tie-averaged ranks):
-- U = n*sum_i (r_i - i)^2 + m*sum_j (s_j - j)^2 over own-sample
-- order statistics with pooled average ranks; per distinct value
-- with t1 own ties sharing 2x-rank R2 and b1 own predecessors,
-- sum_k (R2 - 2*b1 - 2k)^2 expands to a closed cubic in integers —
-- tripled to keep the /3 exact, so SX3 = 12*sum(r_i - i)^2 terms
-- stay BIGINT-exact (summed WIDE) and T is one snapped chain:
-- T = U/(N*n*m) - (4mn - 1)/(6N), U = (n*SX3 + m*SY3)/12.
WITH daily AS (
  SELECT CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS we,
         CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 2, 1
), vals AS (
  SELECT y,
         CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t2
  FROM daily GROUP BY y
), r AS (
  SELECT t1, t2,
         2 * (SUM(t1 + t2) OVER (ORDER BY y) - (t1 + t2))
           + (t1 + t2) + 1 AS r2,
         SUM(t1) OVER (ORDER BY y) - t1 AS b1,
         SUM(t2) OVER (ORDER BY y) - t2 AS b2
  FROM vals
), contrib AS (
  SELECT CAST(3 * t1 * (r2 - 2 * b1) * (r2 - 2 * b1)
              - 6 * (r2 - 2 * b1) * t1 * (t1 + 1)
              + 2 * t1 * (t1 + 1) * (2 * t1 + 1) AS HUGEINT) AS sx3,
         CAST(3 * t2 * (r2 - 2 * b2) * (r2 - 2 * b2)
              - 6 * (r2 - 2 * b2) * t2 * (t2 + 1)
              + 2 * t2 * (t2 + 1) * (2 * t2 + 1) AS HUGEINT) AS sy3
  FROM r
), ns AS (
  SELECT CAST(SUM(t1) AS BIGINT) AS n, CAST(SUM(t2) AS BIGINT) AS m
  FROM vals
), s AS (
  SELECT SUM(sx3) AS sx3, SUM(sy3) AS sy3 FROM contrib
)
SELECT n AS n_weekday, m AS n_weekend,
       FLOOR((CAST(n * sx3 + m * sy3 AS DOUBLE)
                / (12.0 * (n + m) * n * m)
              - (4.0 * m * n - 1) / (6.0 * (n + m)))
             * 1000000 + 0.5) / 1000000 AS cvm_t
FROM ns, s
"""


@register("agg_cramer_von_mises_weekend", oracle=CVM_ORACLE)
def agg_cramer_von_mises_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér–von Mises T between weekday and weekend
    daily revenue (see oracle for the exact tripled-cubic rank
    device).

    Scale shape: facts collapse map-side to |days|; ranks and the
    per-value cubic run in ONE window pass over the <=|days|
    distinct-cent table; the statistic is one snapped chain on two
    WIDE integer sums. The closed-form tie expansion means no
    per-observation rows exist after the day collapse — the same
    bound as every rank operator in this module."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    ).select(
        F.when(F.expr("weekday(d)") >= 5, 1).otherwise(0).alias("we"),
        "y",
    )
    vals = daily.groupBy("y").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    w = Window.orderBy("y")
    t1, t2 = F.col("t1"), F.col("t2")
    r = vals.select(
        "t1",
        "t2",
        (2 * (F.sum(t1 + t2).over(w) - (t1 + t2)) + (t1 + t2) + 1).alias(
            "r2"
        ),
        (F.sum(t1).over(w) - t1).alias("b1"),
        (F.sum(t2).over(w) - t2).alias("b2"),
    )
    a1 = F.col("r2") - 2 * F.col("b1")
    a2 = F.col("r2") - 2 * F.col("b2")
    contrib = r.select(
        (
            3 * t1 * a1 * a1
            - 6 * a1 * t1 * (t1 + 1)
            + 2 * t1 * (t1 + 1) * (2 * t1 + 1)
        )
        .cast("decimal(38,0)")
        .alias("sx3"),
        (
            3 * t2 * a2 * a2
            - 6 * a2 * t2 * (t2 + 1)
            + 2 * t2 * (t2 + 1) * (2 * t2 + 1)
        )
        .cast("decimal(38,0)")
        .alias("sy3"),
    )
    s = contrib.agg(
        F.sum("sx3").alias("sx3"), F.sum("sy3").alias("sy3")
    )
    ns = vals.agg(
        F.sum("t1").cast("long").alias("n"),
        F.sum("t2").cast("long").alias("m"),
    )
    n, m = F.col("n"), F.col("m")
    u12 = (n * F.col("sx3") + m * F.col("sy3")).cast("double")
    t_stat = u12 / (12.0 * (n + m) * n * m) - (4.0 * m * n - 1) / (
        6.0 * (n + m)
    )
    return ns.crossJoin(F.broadcast(s)).select(
        n.alias("n_weekday"),
        m.alias("n_weekend"),
        snap(t_stat, 6).alias("cvm_t"),
    )


# ---------------------- wave 38: Durbin-Watson autocorrelation

DURBIN_WATSON_ORACLE = """
-- Durbin-Watson statistic of the residuals from the daily-revenue-
-- on-time OLS trend: DW = sum (e_t - e_{t-1})^2 / sum e_t^2, the
-- standard lag-1 autocorrelation read on a REGRESSION's residuals
-- (the runs test reads signs around the median; Ljung-Box reads
-- raw-series ACF — this is the 'is the trend model leaving serial
-- structure behind' diagnostic, DW ~ 2(1 - rho)). EXACT device:
-- the day index is the dense ROW_NUMBER over observed days (gaps
-- documented as model choice); slope/intercept come from five
-- exact BIGINT moments; residuals are snapped to 1e-3 cents
-- (integer millicents) so both sums are exact WIDE integer sums —
-- order-free — and DW is one snapped division.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY d) - 1 AS t FROM daily
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM idx
), fit AS (
  SELECT n,
         (n * 1.0 * sty - st * 1.0 * sy)
           / (n * 1.0 * stt - st * 1.0 * st) AS b,
         (sy - (n * 1.0 * sty - st * 1.0 * sy)
                 / (n * 1.0 * stt - st * 1.0 * st) * st) / n AS a
  FROM mom
), res AS (
  SELECT t,
         CAST(FLOOR((y - a - b * t) * 1000 + 0.5) AS BIGINT) AS e
  FROM idx, fit
), lagged AS (
  SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM res
), sums AS (
  SELECT SUM(CAST((e - ep) AS HUGEINT) * (e - ep)) AS sd2,
         (SELECT SUM(CAST(e AS HUGEINT) * e) FROM res) AS se2
  FROM lagged WHERE ep IS NOT NULL
)
SELECT (SELECT n FROM fit) AS n_days,
       FLOOR((SELECT b FROM fit) / 100 * 10000 + 0.5) / 10000
         AS slope_dollars_per_day,
       FLOOR(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS dw_stat
FROM sums
"""


@register("agg_durbin_watson_daily", oracle=DURBIN_WATSON_ORACLE)
def agg_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson lag-1 residual autocorrelation of the daily
    revenue trend fit (see oracle for the snapped-residual device).

    Scale shape: facts collapse map-side to |days|; the OLS moments
    reduce in one Exchange; residuals, the lag window, and both
    WIDE squared sums run on the day table. The 1e-3-cent residual
    snap turns both sums into exact integers (order-free in both
    engines); a/b are doubles derived from exact integer moments by
    the same fixed-order chain in both engines."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    idx = daily.select(
        "y", (F.row_number().over(w) - 1).cast("long").alias("t")
    )
    t, y = F.col("t"), F.col("y")
    mom = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(t).cast("long").alias("st"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(t * t).cast("long").alias("stt"),
        F.sum(t * y).cast("long").alias("sty"),
    )
    n, st, sy, stt, sty = (
        F.col("n"),
        F.col("st"),
        F.col("sy"),
        F.col("stt"),
        F.col("sty"),
    )
    b = (n * 1.0 * sty - st * 1.0 * sy) / (n * 1.0 * stt - st * 1.0 * st)
    fit = mom.select(
        "n", b.alias("b"), ((sy - b * st) / n).alias("a")
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        "b",
        fixed(y - F.col("a") - F.col("b") * t, 3).alias("e"),
    )
    lw = Window.orderBy("t")
    lagged = res.select(
        "n", "b", "e", F.lag("e").over(lw).alias("ep")
    )
    # multiplicand-side WIDE casts (wave-32 rule): the squares are
    # widened BEFORE the multiply — a 1e10-millicent residual squares
    # past int64, and the oracle's CAST(e - ep AS HUGEINT) * (e - ep)
    # widens first too
    e, ep = F.col("e"), F.col("ep")
    de = (e - ep).cast("decimal(38,0)")
    ew = e.cast("decimal(38,0)")
    # global aggregation, NOT groupBy(n, b): both are broadcast
    # constants so the group count is 1 on any populated input
    # (identical values), but the grouped form emits ZERO rows on an
    # empty corpus where the oracle emits its n_days = 0 summary row
    # (empty-corpus sweep, round 14)
    out = lagged.agg(
        F.max("n").alias("n"),
        F.max("b").alias("b"),
        F.sum(F.when(ep.isNotNull(), de * de)).alias("sd2"),
        F.sum(ew * ew).alias("se2"),
    )
    return out.select(
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_days"),
        snap(F.col("b") / 100, 4).alias("slope_dollars_per_day"),
        snap(
            F.col("sd2").cast("double")
            / F.col("se2").cast("double"),
            6,
        ).alias("dw_stat"),
    )


# ----------------------- wave 39: Bartlett variance homogeneity

BARTLETT_ORACLE = """
-- Bartlett's test for equal order-total variances across the five
-- order priorities: the LIKELIHOOD-RATIO variance-homogeneity test
-- (most powerful under normality) — the parametric companion of
-- the Levene operator, which trades power for robustness; running
-- both is the standard practice (Levene robust screen, Bartlett
-- when normality holds). chi2 = [ (N-k)*ln(sp2) - sum (n_i-1)*
-- ln(si2) ] / C, C = 1 + (sum 1/(n_i-1) - 1/(N-k)) / (3(k-1)).
-- EXACT device: per-group SSE from exact BIGINT cent moments
-- (n*SS - S^2 form, summed WIDE); the ln calls are paid once per
-- GROUP (k=5 + pooled — a domain, not the corpus) and snapped to
-- 1e-9 integers so the chi2 chain is order-free in both engines.
WITH g AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS HUGEINT) AS s,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                  * CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS HUGEINT) AS ss
  FROM orders GROUP BY 1
), per AS (
  SELECT grp, n,
         CAST(n * ss - s * s AS DOUBLE) / n / (n - 1) AS si2
  FROM g
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM((n - 1) * 1.0 * (CAST(n * ss - s * s AS DOUBLE)
                                   / n / (n - 1))) AS DOUBLE) AS sse,
         SUM(1.0 / (n - 1)) AS sinv,
         -- CAST ... AS HUGEINT before the multiply+sum: DuckDB's
         -- FLOOR returns DOUBLE, and the wlog terms reach ~9e15
         -- near sf1 (past 2^53) — the integer chain must stay
         -- exact on BOTH sides, mirroring Spark's long sum.
         SUM(CAST(FLOOR(LN(CAST(n * ss - s * s AS DOUBLE) / n / (n - 1))
                        * 1000000000 + 0.5) AS HUGEINT)
             * (n - 1)) AS wlog
  FROM g
)
SELECT k AS n_groups, nn AS n_orders,
       FLOOR(((nn - k) * CAST(FLOOR(LN(sse / (nn - k))
                                    * 1000000000 + 0.5) AS HUGEINT)
              / 1000000000.0
              - wlog / 1000000000.0)
             / (1 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1)))
             * 1000000 + 0.5) / 1000000 AS bartlett_chi2
FROM tot
"""


@register("agg_bartlett_variance_test", oracle=BARTLETT_ORACLE)
def agg_bartlett_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity chi-square across the five
    order priorities (see oracle; the parametric companion of
    agg_levene_variance_homogeneity).

    Scale shape: one fact pass to five exact (n, s, ss) cent-moment
    rows (WIDE products — the s^2/n*ss terms pass int64 at ~1e7
    orders); all logs are per-GROUP, snapped at 1e-9; the chi2 is a
    1-row fixed chain on order-free integers and snapped logs."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    cents = fixed(F.col("o_totalprice"), 2)
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")).alias(
            "ss"
        ),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    si2 = (n * ss - s * s).cast("double") / n / (n - 1)
    tot = g.agg(
        F.sum(n).cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum((n - 1) * 1.0 * si2).cast("double").alias("sse"),
        F.sum(1.0 / (n - 1)).alias("sinv"),
        # decimal(38,0) before the multiply+sum: the snapped-log
        # terms reach ~9e15 near sf1 and ~9e18 at 1000x — the
        # integer chain must not saturate int64 (oracle mirrors
        # with HUGEINT).
        F.sum(
            fixed(F.log(si2), 9).cast(
                "decimal(38,0)"
            )
            * (n - 1)
        ).alias("wlog"),
    )
    nn, k = F.col("nn"), F.col("k")
    num = (
        (nn - k).cast("decimal(38,0)")
        * fixed(F.log(F.col("sse") / (nn - k)), 9)
    ).cast("double") / 1000000000.0 - F.col("wlog").cast(
        "double"
    ) / 1000000000.0
    c = 1 + (F.col("sinv") - 1.0 / (nn - k)) / (3.0 * (k - 1))
    return tot.select(
        k.alias("n_groups"),
        nn.alias("n_orders"),
        snap(num / c, 6).alias("bartlett_chi2"),
    )


# ------------------- wave 39: Poisson overdispersion index

OVERDISPERSION_ORACLE = """
-- Poisson overdispersion test on daily order counts: the variance-
-- to-mean dispersion index D = s^2 / xbar and the chi-square
-- dispersion statistic (n-1)*s^2/xbar ~ chi2(n-1) under a
-- homogeneous Poisson arrival model. D >> 1 (clumped arrivals —
-- batch jobs, campaigns) breaks every Poisson-based capacity
-- model; D << 1 says arrivals are scheduled, not random. The
-- exp-gap-fit operator reads inter-arrival TIMES; this reads
-- per-bucket COUNTS — the two classical views of the same
-- process. EXACT device: counts are integers, so n, sum, sum of
-- squares are exact BIGINTs and both statistics are one snapped
-- fixed-order chain (s^2 via the n*ss - s*s form, summed WIDE).
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS s,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
  FROM daily
)
SELECT n AS n_days,
       FLOOR(CAST(s AS DOUBLE) / n * 10000 + 0.5) / 10000
         AS mean_orders_per_day,
       FLOOR(CAST(n * ss - s * s AS DOUBLE) / n / (n - 1)
             / (CAST(s AS DOUBLE) / n)
             * 1000000 + 0.5) / 1000000 AS dispersion_index,
       FLOOR((n - 1) * (CAST(n * ss - s * s AS DOUBLE) / n / (n - 1)
                        / (CAST(s AS DOUBLE) / n))
             * 10000 + 0.5) / 10000 AS dispersion_chi2
FROM mom
"""


@register("agg_poisson_overdispersion", oracle=OVERDISPERSION_ORACLE)
def agg_poisson_overdispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variance-to-mean dispersion index of daily order counts with
    the chi-square Poisson dispersion test (see oracle).

    Scale shape: one fact pass collapses to |days| counts map-side;
    three exact WIDE moments reduce in one Exchange; both
    statistics are a 1-row chain."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    daily = orders.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c = F.col("c")
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("decimal(38,0)").alias("s"),
        F.sum(c.cast("decimal(38,0)") * c).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s.cast("double") / n
    s2 = (n * ss - s * s).cast("double") / n / (n - 1)
    d = s2 / mean
    return mom.select(
        n.alias("n_days"),
        snap(mean, 4).alias("mean_orders_per_day"),
        snap(d, 6).alias("dispersion_index"),
        snap((n - 1) * d, 4).alias("dispersion_chi2"),
    )


# ----------------------- wave 39: Page-Hinkley drift detection

PAGE_HINKLEY_ORACLE = """
-- Page-Hinkley drift statistic on daily revenue: the cumulative
-- deviation walk m_t = sum_{s<=t}(x_s - xbar) and its running
-- minimum; PH = max_t (m_t - min_{s<=t} m_s) with the detection
-- day at the argmax. CUSUM (window_cusum_changepoint) locates the
-- single most likely LEVEL SHIFT via argmax |S_t|; Page-Hinkley is
-- the one-sided DRIFT detector — the running-minimum reset makes
-- it fire on sustained upward drift even after earlier downward
-- noise, which |S_t| dilutes. EXACT device: with exact daily cents
-- the walk scaled by n is integer-exact: n*m_t = n*P_t - t*S
-- (P_t prefix sum, S total), so the running min, the gap, and the
-- argmax tie-break (earliest day) are exact integer comparisons in
-- both engines; only the final dollars conversion divides.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), ns AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS HUGEINT) AS s
  FROM daily
), walk AS (
  SELECT d,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         CAST((SELECT n FROM ns) AS HUGEINT)
           * SUM(y) OVER (ORDER BY d)
           - CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT)
             * (SELECT s FROM ns) AS nm
  FROM daily
), gaps AS (
  SELECT d, nm - MIN(nm) OVER (ORDER BY d) AS gap FROM walk
)
SELECT (SELECT CAST(n AS BIGINT) FROM ns) AS n_days,
       STRFTIME(d, '%Y-%m-%d') AS detection_day,
       FLOOR(CAST(gap AS DOUBLE) / (SELECT n FROM ns) / 100
             * 10000 + 0.5) / 10000 AS ph_stat_dollars
FROM gaps ORDER BY gap DESC, d LIMIT 1
"""


@register("events_page_hinkley_drift", oracle=PAGE_HINKLEY_ORACLE)
def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic + detection day on daily revenue
    (see oracle for the n-scaled exact integer walk and the CUSUM
    contrast).

    Scale shape: facts collapse map-side to |days|; the walk, the
    running minimum, and the argmax are window passes over the day
    table; everything except the final dollars division is exact
    integer arithmetic — order-free in both engines."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    ns = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    w = Window.orderBy("d")
    walk = daily.crossJoin(F.broadcast(ns)).select(
        "d",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.sum("y").over(w)
            - F.row_number().over(w).cast("decimal(38,0)") * F.col("s")
        ).alias("nm"),
    )
    gaps = walk.select(
        "d",
        "n",
        (F.col("nm") - F.min("nm").over(w)).alias("gap"),
    )
    return (
        gaps.orderBy(F.desc("gap"), F.asc("d"))
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.date_format("d", "yyyy-MM-dd").alias("detection_day"),
            snap(
                F.col("gap").cast("double") / F.col("n") / 100,
                4,
            ).alias("ph_stat_dollars"),
        )
    )


# ------------------ wave 40: Jonckheere-Terpstra ordered trend

JONCKHEERE_ORACLE = """
-- Jonckheere-Terpstra test for an ORDERED alternative across the
-- five order priorities (1-URGENT < ... < 5-LOW, the natural string
-- order): do order totals trend monotonically with urgency?
-- Kruskal-Wallis asks 'any difference'; Cochran-Armitage reads a
-- binary rate; JT is the k-group ordered-location test — strictly
-- more powerful than KW when the alternative is a trend. EXACT
-- device: JT = sum_{i<j} U_ij with U_ij = #(x_i < y_j) +
-- 0.5 #(x_i = y_j); doubled (JT2) to keep ties integral. Per
-- distinct cent value v with per-group counts c_i(v) and
-- strictly-below cumulatives b_i(v), each (i<j) pair contributes
-- 2*c_j(v)*b_i(v) + c_i(v)*c_j(v) — one window pass over the
-- <=|distinct cents| pivot table, all BIGINT (summed WIDE). The
-- z-score uses the classical NO-TIE null variance
-- [N^2(2N+3) - sum n_i^2(2n_i+3)]/72 (cent totals are
-- near-continuous; the tie correction is O(sum t^3/N^3) and
-- omitted — stated).
WITH s AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders
), piv AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM s GROUP BY v
), cum AS (
  SELECT *,
         SUM(c1) OVER (ORDER BY v) - c1 AS b1,
         SUM(c2) OVER (ORDER BY v) - c2 AS b2,
         SUM(c3) OVER (ORDER BY v) - c3 AS b3,
         SUM(c4) OVER (ORDER BY v) - c4 AS b4
  FROM piv
), jt AS (
  SELECT SUM(CAST(
           2 * (c2 * b1
                + c3 * (b1 + b2)
                + c4 * (b1 + b2 + b3)
                + c5 * (b1 + b2 + b3 + b4))
           + c1 * (c2 + c3 + c4 + c5)
           + c2 * (c3 + c4 + c5)
           + c3 * (c4 + c5)
           + c4 * c5 AS HUGEINT)) AS jt2
  FROM cum
), ns AS (
  SELECT CAST(SUM(c1 + c2 + c3 + c4 + c5) AS BIGINT) AS n,
         CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c3) AS BIGINT) AS n3, CAST(SUM(c4) AS BIGINT) AS n4,
         CAST(SUM(c5) AS BIGINT) AS n5
  FROM piv
)
SELECT n AS n_orders,
       CAST(jt2 AS BIGINT) AS jt2_stat,
       FLOOR((CAST(jt2 AS DOUBLE) / 2
              - (n * 1.0 * n
                 - (n1 * 1.0 * n1 + n2 * 1.0 * n2 + n3 * 1.0 * n3
                    + n4 * 1.0 * n4 + n5 * 1.0 * n5)) / 4)
             / SQRT((n * 1.0 * n * (2.0 * n + 3)
                     - (n1 * 1.0 * n1 * (2.0 * n1 + 3)
                        + n2 * 1.0 * n2 * (2.0 * n2 + 3)
                        + n3 * 1.0 * n3 * (2.0 * n3 + 3)
                        + n4 * 1.0 * n4 * (2.0 * n4 + 3)
                        + n5 * 1.0 * n5 * (2.0 * n5 + 3))) / 72)
             * 1000000 + 0.5) / 1000000 AS jt_z
FROM jt, ns
"""


@register("agg_jonckheere_terpstra", oracle=JONCKHEERE_ORACLE)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend test across the five order
    priorities (see oracle for the doubled pairwise-U device and
    the stated no-tie variance).

    Scale shape: one fact pass pivots to the <=|distinct cents|
    (value x 5-group-count) table; the cumulative window and the
    closed-form pair contributions run on that domain; JT2 is one
    WIDE integer sum and z one snapped chain."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    s = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        fixed(F.col("o_totalprice"), 2).alias("v"),
    )
    piv = s.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in (1, 2, 3, 4, 5)
        ]
    )
    w = Window.orderBy("v")
    cum = piv.select(
        "*",
        *[
            (F.sum(f"c{i}").over(w) - F.col(f"c{i}")).alias(f"b{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    c = {i: F.col(f"c{i}") for i in (1, 2, 3, 4, 5)}
    b = {i: F.col(f"b{i}") for i in (1, 2, 3, 4)}
    contrib = (
        2
        * (
            c[2] * b[1]
            + c[3] * (b[1] + b[2])
            + c[4] * (b[1] + b[2] + b[3])
            + c[5] * (b[1] + b[2] + b[3] + b[4])
        )
        + c[1] * (c[2] + c[3] + c[4] + c[5])
        + c[2] * (c[3] + c[4] + c[5])
        + c[3] * (c[4] + c[5])
        + c[4] * c[5]
    ).cast("decimal(38,0)")
    jt = cum.agg(F.sum(contrib).alias("jt2"))
    ns = piv.agg(
        F.sum(c[1] + c[2] + c[3] + c[4] + c[5]).cast("long").alias("n"),
        *[F.sum(f"c{i}").cast("long").alias(f"n{i}") for i in (1, 2, 3, 4, 5)],
    )
    n = F.col("n")
    sum_n2 = sum(
        F.col(f"n{i}") * 1.0 * F.col(f"n{i}") for i in (1, 2, 3, 4, 5)
    )
    sum_n2v = sum(
        F.col(f"n{i}") * 1.0 * F.col(f"n{i}") * (2.0 * F.col(f"n{i}") + 3)
        for i in (1, 2, 3, 4, 5)
    )
    mean = (n * 1.0 * n - sum_n2) / 4
    var = (n * 1.0 * n * (2.0 * n + 3) - sum_n2v) / 72
    z = (F.col("jt2").cast("double") / 2 - mean) / F.sqrt(var)
    return jt.crossJoin(F.broadcast(ns)).select(
        n.alias("n_orders"),
        F.col("jt2").cast("long").alias("jt2_stat"),
        snap(z, 6).alias("jt_z"),
    )


# ------------- wave 40: Cochran-Mantel-Haenszel stratified 2x2

CMH_ORACLE = """
-- Cochran-Mantel-Haenszel test of the exposure-outcome association
-- (positive account balance -> places an URGENT order) STRATIFIED
-- by customer nation: the common-odds-ratio chi-square that
-- controls for the stratum confounder — the textbook guard against
-- Simpson's paradox that a pooled chi2 (agg_chi2_independence)
-- cannot give. Per stratum k: a_k = exposed-with-outcome count,
-- E_k = r1_k*c1_k/n_k, V_k = r1_k*r2_k*c1_k*c2_k/(n_k^2*(n_k-1));
-- CMH = (sum(a-E))^2 / sum(V), no continuity correction (stated).
-- EXACT device: all cell counts are exact integers; the per-stratum
-- E and V rationals are snapped to 1e-9 integers so both sums are
-- order-free; the chi2 is one snapped chain. Strata with n_k < 2
-- contribute nothing (V undefined) — stated.
WITH cust AS (
  SELECT c_custkey, c_nationkey AS nation,
         CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS exposed
  FROM customer
), outc AS (
  SELECT DISTINCT o_custkey AS c_custkey, 1 AS outcome
  FROM orders WHERE o_orderpriority = '1-URGENT'
), tab AS (
  SELECT nation, exposed, COALESCE(outcome, 0) AS outcome,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cust LEFT JOIN outc USING (c_custkey)
  GROUP BY 1, 2, 3
), strata AS (
  SELECT nation,
         CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1
                       THEN cnt ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN exposed = 1 THEN cnt ELSE 0 END)
              AS BIGINT) AS r1,
         CAST(SUM(CASE WHEN outcome = 1 THEN cnt ELSE 0 END)
              AS BIGINT) AS k1,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM tab GROUP BY nation
), terms AS (
  SELECT FLOOR((a - r1 * 1.0 * k1 / n) * 1000000000 + 0.5) AS num9,
         FLOOR(r1 * 1.0 * (n - r1) * k1 * (n - k1)
               / (n * 1.0 * n * (n - 1)) * 1000000000 + 0.5) AS v9
  FROM strata WHERE n >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       FLOOR((SUM(num9) / 1000000000.0)
             * (SUM(num9) / 1000000000.0)
             / (SUM(v9) / 1000000000.0)
             * 1000000 + 0.5) / 1000000 AS cmh_chi2
FROM terms
"""


@register("agg_cmh_stratified_test", oracle=CMH_ORACLE)
def agg_cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 chi-square (see oracle
    for the exposure/outcome/stratum definitions and the snapped
    per-stratum rationals).

    Scale shape: the outcome flag is one DISTINCT over the filtered
    fact (map-side partial dedup); the 2x2xK table collapses the
    customer dim to <=4 rows per stratum; E/V terms snap to 1e-9
    integers on the |nations| domain so the two sums are order-free;
    chi2 is a 1-row chain."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("exposed"),
    )
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    outc = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("outcome", F.lit(1))
    )
    tab = (
        cust.join(outc, "c_custkey", "left")
        .fillna({"outcome": 0})
        .groupBy("nation", "exposed", "outcome")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cnt = F.col("cnt")
    strata = tab.groupBy("nation").agg(
        F.sum(
            F.when(
                (F.col("exposed") == 1) & (F.col("outcome") == 1), cnt
            ).otherwise(0)
        )
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("exposed") == 1, cnt).otherwise(0))
        .cast("long")
        .alias("r1"),
        F.sum(F.when(F.col("outcome") == 1, cnt).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(cnt).cast("long").alias("n"),
    )
    a, r1, k1, n = F.col("a"), F.col("r1"), F.col("k1"), F.col("n")
    terms = strata.filter(n >= 2).select(
        fixed(a - r1 * 1.0 * k1 / n, 9).alias("num9"),
        fixed(
            r1 * 1.0 * (n - r1) * k1 * (n - k1)
            / (n * 1.0 * n * (n - 1)),
            9,
        ).alias("v9"),
    )
    sn = F.sum("num9") / 1000000000.0
    sv = F.sum("v9") / 1000000000.0
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        snap(sn * sn / sv, 6).alias("cmh_chi2"),
    )


# --------------------------- wave 40: Mood's median test

MOOD_MEDIAN_ORACLE = """
-- Mood's median test across the five order priorities: counts above
-- vs at-or-below the POOLED lower median per group, chi2 on the 2xk
-- table. The coarsest, most outlier-proof k-group location test —
-- it reads ONLY each observation's side of the pooled median, so a
-- single corrupted billion-dollar order moves it by one cell where
-- Kruskal-Wallis moves a full rank range. The cheap cross-check
-- when KW and ANOVA disagree. EXACT device: the pooled lower
-- median is an exact order statistic (the ceil(N/2)-th smallest
-- cent, PERCENTILE_DISC semantics); all 2xk cells are exact
-- integers; expectations are per-cell rationals in one snapped
-- chi2 chain (cells are a k-domain, so the chain is fixed-order).
WITH s AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders
), med AS (
  SELECT v AS m FROM (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
           COUNT(*) OVER () AS n
    FROM s
  ) WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
), cells AS (
  SELECT g,
         CAST(SUM(CASE WHEN v > (SELECT m FROM med)
                       THEN 1 ELSE 0 END) AS BIGINT) AS ab,
         CAST(COUNT(*) AS BIGINT) AS n_g
  FROM s GROUP BY g
), tot AS (
  SELECT CAST(SUM(ab) AS BIGINT) AS ta,
         CAST(SUM(n_g) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
)
SELECT k AS n_groups,
       ta AS n_above_total,
       FLOOR(SUM(
           (ab - n_g * 1.0 * ta / nn) * (ab - n_g * 1.0 * ta / nn)
             / (n_g * 1.0 * ta / nn)
           + ((n_g - ab) - n_g * 1.0 * (nn - ta) / nn)
             * ((n_g - ab) - n_g * 1.0 * (nn - ta) / nn)
             / (n_g * 1.0 * (nn - ta) / nn)
         ) * 1000000 + 0.5) / 1000000 AS mood_chi2
FROM cells, tot GROUP BY k, ta, nn
"""


@register("agg_mood_median_test", oracle=MOOD_MEDIAN_ORACLE)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities (see
    oracle for the exact order-statistic median and the 2xk chi2).

    Scale shape: the pooled median is one exact order statistic
    (sort-free at scale via approx->exact refinement is the
    documented alternative; here a single window rank over the fact
    suffices and matches the oracle's PERCENTILE_DISC semantics);
    the 2xk cells collapse map-side; the chi2 chain runs on the
    k-domain. The chi2 SUM spans k=5 cells — fixed order is
    guaranteed by summing over the deterministic group domain in
    both engines only after snapping... the cells are exact
    integers and each cell's term is a fixed-order rational, so the
    5-term sum's addition order is the only float freedom; at
    1e-6 snap with terms O(1e2) the boundary risk is the module-
    docstring epsilon assumption."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    s = cached(orders.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        fixed(F.col("o_totalprice"), 2).alias("v"),
    ))
    w = Window.orderBy("v")
    med = (
        s.select(
            "v",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long"))
        .select(F.col("v").alias("m"))
    )
    cells = s.crossJoin(F.broadcast(med)).groupBy("g").agg(
        F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("ab"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    tot = cells.agg(
        F.sum("ab").cast("long").alias("ta"),
        F.sum("n_g").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ab, n_g = F.col("ab"), F.col("n_g")
    ta, nn, k = F.col("ta"), F.col("nn"), F.col("k")
    e1 = n_g * 1.0 * ta / nn
    e0 = n_g * 1.0 * (nn - ta) / nn
    term = (ab - e1) * (ab - e1) / e1 + (
        (n_g - ab) - e0
    ) * ((n_g - ab) - e0) / e0
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("k", "ta", "nn")
        .agg(snap(F.sum(term), 6).alias("mood_chi2"))
        .select(
            k.alias("n_groups"),
            ta.alias("n_above_total"),
            "mood_chi2",
        )
    )


# ----------- wave 41: Benjamini-Hochberg FDR over source KS screens

BH_FDR_ORACLE = """
-- Multiple-testing control for the per-source drift screens: each
-- source's doc-length distribution is KS-compared against the REST
-- of the corpus on a fixed 16-bucket histogram, the one-term DKW
-- bound p = min(1, 2*exp(-2 D^2 n1 n2/(n1+n2))) turns each D into
-- a p-value, and Benjamini-Hochberg step-up at q=0.10 decides
-- which sources are flagged. Running |sources| screens WITHOUT
-- FDR control is how drift monitors cry wolf — this is the
-- correction layer every per-source battery here feeds into.
-- EXACT device: bucket counts and cumulative sums are integers, so
-- D's numerator max|cum_s * n_rest - cum_rest * n_s| is an EXACT
-- integer (cross-multiplied, no division until the final chain);
-- p snaps to 1e-9 and the BH comparison runs on snapped integers
-- (p9 <= floor(rank*q/m*1e9+0.5)) in both engines.
WITH d AS (
  -- integer division on BOTH sides (// here, floor in Spark):
  -- DuckDB's CAST(double AS BIGINT) rounds half-away while Spark's
  -- cast truncates — a off-by-one bucket class caught at build
  SELECT source, LEAST(15, n_chars // 256) AS b
  FROM documents
), cnt AS (
  SELECT source, b, COUNT(*) AS c FROM d GROUP BY source, b
), scaffold AS (
  SELECT s.source, g.b
  FROM (SELECT DISTINCT source FROM d) s,
       (SELECT UNNEST(range(0, 16)) AS b) g
), cum AS (
  SELECT sc.source, sc.b,
         SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY sc.source ORDER BY sc.b
         ) AS cum_s
  FROM scaffold sc LEFT JOIN cnt c
    ON c.source = sc.source AND c.b = sc.b
), pers AS (
  SELECT source, MAX(cum_s) AS n_s FROM cum GROUP BY source
), alln AS (
  SELECT SUM(n_s) AS nn, COUNT(*) AS m FROM pers
), cumall AS (
  SELECT b, SUM(cum_s) AS cum_all FROM cum GROUP BY b
), dnum AS (
  SELECT c.source,
         MAX(ABS(c.cum_s * (a.nn - p.n_s) - (ca.cum_all - c.cum_s) * p.n_s))
           AS d_num,
         MAX(p.n_s) AS n_s, MAX(a.nn) AS nn, MAX(a.m) AS m
  FROM cum c
  JOIN pers p ON p.source = c.source
  JOIN cumall ca ON ca.b = c.b
  CROSS JOIN alln a
  GROUP BY c.source
), pval AS (
  SELECT source, n_s, nn, m,
         FLOOR(LEAST(1.0,
                 2.0 * EXP(-2.0 * CAST(d_num AS DOUBLE) * d_num
                           / (CAST(n_s AS DOUBLE) * (nn - n_s))
                           / (CAST(n_s AS DOUBLE) * (nn - n_s))
                           * (CAST(n_s AS DOUBLE) * (nn - n_s) / nn)))
               * 1000000000 + 0.5) AS p9,
         FLOOR(CAST(d_num AS DOUBLE) / (CAST(n_s AS DOUBLE) * (nn - n_s))
               * 1000000 + 0.5) / 1000000 AS ks_d
  FROM dnum
), ranked AS (
  SELECT source, n_s, m, ks_d, p9,
         ROW_NUMBER() OVER (ORDER BY p9, source) AS bh_rank,
         CASE WHEN p9 <= FLOOR(ROW_NUMBER() OVER (ORDER BY p9, source)
                               * 0.10 / m * 1000000000 + 0.5)
              THEN 1 ELSE 0 END AS under
  FROM pval
), kmax AS (
  SELECT COALESCE(MAX(CASE WHEN under = 1 THEN bh_rank END), 0) AS k
  FROM ranked
)
SELECT source,
       CAST(n_s AS BIGINT) AS n_docs,
       ks_d,
       FLOOR(p9 / 1000000000.0 * 1000000 + 0.5) / 1000000 AS p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       bh_rank <= k AS rejected
FROM ranked CROSS JOIN kmax
ORDER BY source
"""


@register("agg_bh_fdr_source_drift", oracle=BH_FDR_ORACLE)
def agg_bh_fdr_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS drift screens with Benjamini-Hochberg FDR
    step-up at q=0.10 (see oracle for the device and why the
    correction layer is the point).

    Scale shape (one-pass conditional-aggregate + window-fused
    form — the ml_roc_curve_points device): ONE fact pass
    aggregates each source's dense 16-bucket histogram as 16
    conditional partial sums — the Exchange carries |sources| rows
    of 16 longs, no (source, bucket) intermediate, no scaffold
    join. EVERYTHING after is fused into single-partition windows
    over that |sources|-row relation: column-wise totals, corpus
    size and m come from one unbounded window (no second corpus
    aggregate, no crossJoin broadcast), cumulative sums and the
    cross-multiplied exact D numerator are array HOF math on the
    16-wide rows, and the BH ranking + step-up cutoff are two more
    window expressions. The exp/division chain runs once per
    source and snaps at 1e-9; the step-up comparison is
    integer-vs-integer in both engines. (First draft: scaffold
    joins + per-bucket windows, 45 exchanges, 1.62s at sf0.1;
    second draft: second aggregate + crossJoins, 11 exchanges,
    1.44s; this form: 0.7s — the threshold_curve job-floor lesson,
    applied before the query ever carried a verdict.)"""
    docs = load_table(spark, sf_dir, "documents")
    b = F.least(F.lit(15).cast("long"), F.floor(F.col("n_chars") / 256))
    # corpus pass = the CHEAP (source, bucket) count; densifying to
    # 16-wide rows happens on the |sources|x16-row result (running
    # the 16 conditional sums against the corpus measured 3x the
    # single-count scan — wide codegen on the fact side)
    cnt = (
        docs.select("source", b.alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = cnt.groupBy("source").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in range(16)
        ]
    )
    harr = hist.select(
        "source", F.array(*[f"c{i}" for i in range(16)]).alias("h")
    )
    # expression-STRING forms (F.expr): the deep lambda trees built
    # through the Python Column API measured ~0.8s of py4j round
    # trips at DataFrame-CONSTRUCTION time per call (plan-build is
    # part of the driver's query path); one parsed SQL string per
    # column is a single py4j call
    wsum = ", ".join(
        f"sum(h[{i}]) over (partition by 1)" for i in range(16)
    )
    withtot = harr.select(
        "source",
        "h",
        F.expr(f"array({wsum})").alias("th"),
        F.expr("count(1) over (partition by 1)").cast("long").alias("m"),
    )
    cum = (
        "transform(sequence(0, 15), i -> "
        "aggregate(slice({0}, 1, i + 1), 0L, (acc, x) -> acc + x))"
    )
    joined = withtot.select(
        "source",
        "m",
        F.expr(cum.format("h")).alias("cum_s"),
        F.expr(cum.format("th")).alias("cum_all"),
        F.expr("aggregate(h, 0L, (a, x) -> a + x)").alias("n_s"),
        F.expr("aggregate(th, 0L, (a, x) -> a + x)").alias("nn"),
    )
    dnum = joined.select(
        "source",
        "n_s",
        "nn",
        "m",
        F.expr(
            "aggregate(zip_with(cum_s, cum_all, (cs, ca) -> "
            "abs(cs * (nn - n_s) - (ca - cs) * n_s)), 0L, "
            "(acc, x) -> greatest(acc, x))"
        ).alias("d_num"),
    )
    ns, nn = F.col("n_s").cast("double"), F.col("nn")
    neff_denom = ns * (nn - F.col("n_s"))
    p9 = fixed(
        F.least(
            F.lit(1.0),
            2.0
            * F.exp(
                -2.0
                * F.col("d_num").cast("double")
                * F.col("d_num")
                / neff_denom
                / neff_denom
                * (neff_denom / nn)
            ),
        ),
        9,
    )
    pval = dnum.select(
        "source",
        "n_s",
        "m",
        p9.alias("p9"),
        snap(F.col("d_num").cast("double") / neff_denom, 6).alias("ks_d"),
    )
    w = Window.orderBy("p9", "source")
    ranked = pval.withColumn("bh_rank", F.row_number().over(w)).withColumn(
        "under",
        F.when(
            F.col("p9")
            <= fixed(F.col("bh_rank") * 0.10 / F.col("m"), 9),
            1,
        ).otherwise(0),
    )
    wall2 = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withk = ranked.withColumn(
        "k",
        F.coalesce(
            F.max(F.when(F.col("under") == 1, F.col("bh_rank"))).over(
                wall2
            ),
            F.lit(0),
        ),
    )
    return (
        withk
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_docs"),
            "ks_d",
            snap(F.col("p9") / 1000000000.0, 6).alias("p_value"),
            F.col("bh_rank").cast("long").alias("bh_rank"),
            (F.col("bh_rank") <= F.col("k")).alias("rejected"),
        )
        .orderBy("source")
    )


# ------------- wave 42: Mahalanobis multivariate outlier screen

MAHALANOBIS_ORACLE = """
-- Mahalanobis-distance outlier screen on the customer
-- (order count, total spend) plane: the multivariate companion of
-- the univariate Grubbs/Hampel screens — a customer can be
-- unremarkable on each margin yet far off the joint distribution
-- (many tiny orders, one giant order), and covariance-aware
-- distance is what catches it. d^2 = w' SIGMA^-1 w with the 2x2
-- inverse in closed form. EXACT device: both features and all five
-- covariance moments are exact integers (counts, cents) widened
-- before products; the quadratic form is a fixed-order double
-- chain on those exact moments; ranking uses the 1e-6-SNAPPED d^2
-- with custkey tiebreak so top-20 membership matches.
WITH feat AS (
  SELECT o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM feat
), cov AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS mx,
         CAST(sy AS DOUBLE) / n AS my,
         CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS cxx,
         CAST(n * sxy - sx * sy AS DOUBLE) / n / n AS cxy,
         CAST(n * syy - sy * sy AS DOUBLE) / n / n AS cyy
  FROM mom
), scored AS (
  SELECT f.custkey, f.x, f.y,
         FLOOR(((f.x - c.mx) * (f.x - c.mx) * c.cyy
                - 2.0 * (f.x - c.mx) * (f.y - c.my) * c.cxy
                + (f.y - c.my) * (f.y - c.my) * c.cxx)
               / (c.cxx * c.cyy - c.cxy * c.cxy)
               * 1000000 + 0.5) AS d6
  FROM feat f CROSS JOIN cov c
)
SELECT custkey, CAST(x AS BIGINT) AS n_orders,
       CAST(y AS BIGINT) AS spend_cents,
       d6 / 1000000.0 AS mahalanobis_d2
FROM scored
ORDER BY d6 DESC, custkey
LIMIT 20
"""


@register("agg_mahalanobis_outliers", oracle=MAHALANOBIS_ORACLE)
def agg_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 joint (order count, spend) outlier customers by
    Mahalanobis distance (see oracle for the closed-form 2x2
    device and why the univariate screens miss these).

    Scale shape: ONE custkey Exchange builds the customer feature
    relation (map-side combined count + cent sum); the covariance
    moments are a second aggregate over it (widened before every
    product); the quadratic form is map-side math under a broadcast
    1-row covariance, and the top-20 is TakeOrderedAndProject on
    the SNAPPED d^2. The same shape covers any fixed feature pair;
    a p-feature version swaps the closed-form inverse for a
    broadcast p x p solve — still one Exchange."""
    orders = load_table(spark, sf_dir, "orders", parallel=False)
    cents = fixed(F.col("o_totalprice"), 2)
    feat = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(cents).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    mom = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    cov = mom.select(
        "n",
        (F.col("sx").cast("double") / n).alias("mx"),
        (F.col("sy").cast("double") / n).alias("my"),
        ((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / n / n).alias("cxx"),
        ((n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / n / n).alias("cxy"),
        ((n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / n / n).alias("cyy"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d6 = fixed(
        (
            dx * dx * F.col("cyy")
            - 2.0 * dx * dy * F.col("cxy")
            + dy * dy * F.col("cxx")
        )
        / (F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")),
        6,
    )
    scored = feat.crossJoin(F.broadcast(cov)).select(
        "custkey",
        F.col("x").alias("n_orders"),
        F.col("y").alias("spend_cents"),
        d6.alias("d6"),
    )
    return (
        scored.orderBy(F.col("d6").desc(), "custkey")
        .limit(20)
        .select(
            "custkey",
            "n_orders",
            "spend_cents",
            (F.col("d6") / 1000000.0).alias("mahalanobis_d2"),
        )
    )


# ----------------- wave 43: effect size / structural break / het LM

COHENS_D_ORACLE = """
-- Cohen's d (pooled-SD standardized mean difference) with Hedges'
-- small-sample correction, weekend vs weekday daily revenue: the
-- EFFECT-SIZE companion to agg_welch_ttest (which answers "is there
-- a difference" — this answers "how big, in SD units"). Sufficient
-- statistics are exact integer (cents, cents^2 summed WIDE); the
-- d / g chain is one fixed-order scalar expression, snapped 1e-6.
WITH daily AS (
  SELECT CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS we,
         CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 2, 1
), m AS (
  SELECT CAST(SUM(1 - we) AS BIGINT) AS n0,
         CAST(SUM(we) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN we = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
         CAST(SUM(CASE WHEN we = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
         SUM(CASE WHEN we = 0 THEN CAST(y AS HUGEINT) * y END) AS q0,
         SUM(CASE WHEN we = 1 THEN CAST(y AS HUGEINT) * y END) AS q1
  FROM daily
), c AS (
  SELECT n0, n1,
         s1 * 1.0 / n1 - s0 * 1.0 / n0 AS diff,
         (q0 * 1.0 - s0 * 1.0 * s0 / n0) AS ss0,
         (q1 * 1.0 - s1 * 1.0 * s1 / n1) AS ss1
  FROM m
), e AS (
  SELECT n0, n1, diff,
         diff / SQRT((ss0 + ss1) / (n0 + n1 - 2)) AS d
  FROM c
)
SELECT n0 AS n_weekday, n1 AS n_weekend,
       FLOOR(diff / 100 * 10000 + 0.5) / 10000 AS mean_diff_dollars,
       FLOOR(d * 1000000 + 0.5) / 1000000 AS cohens_d,
       FLOOR(d * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0)) * 1000000 + 0.5)
         / 1000000 AS hedges_g
FROM e
"""


@register("agg_cohens_d_weekend", oracle=COHENS_D_ORACLE)
def agg_cohens_d_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g effect size, weekend vs weekday daily
    revenue (see oracle).

    Scale shape: facts collapse map-side to |days| in one exchange;
    the two-group sufficient statistics (n, sum, WIDE sum-of-
    squares) are ONE conditional aggregation over the |days| table;
    d and g are a single-row fixed-order scalar chain. Nothing
    after the daily rollup is data-sized — the same envelope as the
    welch/wasserstein weekend family it completes."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(fixed(F.sum("value"), 2).alias("y"))
        .select(
            F.when(F.expr("weekday(d)") >= 5, 1).otherwise(0).alias("we"),
            "y",
        )
    )
    m = daily.agg(
        F.sum(1 - F.col("we")).cast("long").alias("n0"),
        F.sum("we").cast("long").alias("n1"),
        F.sum(F.when(F.col("we") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("we") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(
            F.when(
                F.col("we") == 0,
                (F.col("y").cast("decimal(38,0)") * F.col("y")),
            )
        ).alias("q0"),
        F.sum(
            F.when(
                F.col("we") == 1,
                (F.col("y").cast("decimal(38,0)") * F.col("y")),
            )
        ).alias("q1"),
    )
    c = m.select(
        "n0",
        "n1",
        (
            F.col("s1") * 1.0 / F.col("n1")
            - F.col("s0") * 1.0 / F.col("n0")
        ).alias("diff"),
        (
            F.col("q0") * 1.0
            - F.col("s0") * 1.0 * F.col("s0") / F.col("n0")
        ).alias("ss0"),
        (
            F.col("q1") * 1.0
            - F.col("s1") * 1.0 * F.col("s1") / F.col("n1")
        ).alias("ss1"),
    )
    d = F.col("diff") / F.sqrt(
        (F.col("ss0") + F.col("ss1")) / (F.col("n0") + F.col("n1") - 2)
    )
    e = c.select("n0", "n1", "diff", d.alias("d"))
    return e.select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        snap(F.col("diff") / 100, 4).alias("mean_diff_dollars"),
        snap(F.col("d"), 6).alias("cohens_d"),
        snap(
            F.col("d")
            * (
                F.lit(1.0)
                - F.lit(3.0)
                / (4.0 * (F.col("n0") + F.col("n1")) - F.lit(9.0))
            ),
            6,
        ).alias("hedges_g"),
    )


CHOW_ORACLE = """
-- Chow structural-break test on the daily-revenue time trend: fit
-- y = a + b*t separately on the first and second half of the day
-- range and pooled, then F = ((SSRp - SSR0 - SSR1)/2) /
-- ((SSR0 + SSR1)/(n - 4)) — the classic "did the data-generating
-- process change at the split" screen behind deploy/regime checks.
-- The split is deterministic (t*2 <= n, t = 1-based day rank).
-- Sufficient statistics per segment are exact integers (t small,
-- y cents, y^2 WIDE); each SSR is the centered closed form
-- Syy - Sty^2/Stt; the F chain is fixed-order, snapped 1e-6.
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT y,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         COUNT(*) OVER () AS k
  FROM daily
), seg AS (
  SELECT CASE WHEN t * 2 <= k THEN 0 ELSE 1 END AS g, t, y FROM idx
), m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * y) AS BIGINT) AS sty,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM seg GROUP BY g
), ssr AS (
  SELECT g, n, st, sy, stt, sty, syy,
         (syy * 1.0 - sy * 1.0 * sy / n)
           - (sty * 1.0 - st * 1.0 * sy / n)
             * (sty * 1.0 - st * 1.0 * sy / n)
             / (stt * 1.0 - st * 1.0 * st / n) AS s
  FROM m
), pool AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(st) AS BIGINT) AS st,
         CAST(SUM(sy) AS BIGINT) AS sy,
         CAST(SUM(stt) AS BIGINT) AS stt,
         CAST(SUM(sty) AS BIGINT) AS sty,
         SUM(syy) AS syy,
         SUM(s) AS s01,
         SUM(CASE WHEN g = 0 THEN n ELSE 0 END) AS n0,
         SUM(CASE WHEN g = 1 THEN n ELSE 0 END) AS n1
  FROM ssr
), f AS (
  SELECT n0, n1, s01,
         (syy * 1.0 - sy * 1.0 * sy / n)
           - (sty * 1.0 - st * 1.0 * sy / n)
             * (sty * 1.0 - st * 1.0 * sy / n)
             / (stt * 1.0 - st * 1.0 * st / n) AS sp,
         n
  FROM pool
)
SELECT CAST(n0 AS BIGINT) AS n_pre, CAST(n1 AS BIGINT) AS n_post,
       FLOOR(((sp - s01) / 2) / (s01 / (n - 4)) * 1000000 + 0.5)
         / 1000000 AS chow_f
FROM f
"""


@register("agg_chow_break_daily", oracle=CHOW_ORACLE)
def agg_chow_break_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F on the daily-revenue trend (see
    oracle for the split rule and closed-form SSRs).

    Scale shape: facts collapse map-side to |days|; the day rank is
    ONE single-partition window over the |days| table (domain-sized
    by construction — same posture as every daily window in the
    battery); per-segment sufficient statistics are one conditional
    aggregation; pooled moments are SUMS of the segment moments, so
    no second scan. The F statistic is a single-row fixed-order
    chain. y^2 sums are WIDE (decimal(38,0)/HUGEINT) — daily cents
    square past int64 at warehouse scale."""
    ev = load_table(spark, sf_dir, "events", parallel=False)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        fixed(F.sum("value"), 2).alias("y")
    )
    w = Window.orderBy("d")
    idx = daily.select(
        "y",
        F.row_number().over(w).alias("t"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).alias("k"),
    )
    seg = idx.select(
        F.when(F.col("t") * 2 <= F.col("k"), 0).otherwise(1).alias("g"),
        "t",
        "y",
    )
    m = seg.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    sty_c = F.col("sty") * 1.0 - F.col("st") * 1.0 * F.col("sy") / F.col("n")
    ssr_expr = (
        F.col("syy") * 1.0 - F.col("sy") * 1.0 * F.col("sy") / F.col("n")
    ) - sty_c * sty_c / (
        F.col("stt") * 1.0 - F.col("st") * 1.0 * F.col("st") / F.col("n")
    )
    ssr = m.select("g", "n", "st", "sy", "stt", "sty", "syy",
                   ssr_expr.alias("s"))
    pool = ssr.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("st").cast("long").alias("st"),
        F.sum("sy").cast("long").alias("sy"),
        F.sum("stt").cast("long").alias("stt"),
        F.sum("sty").cast("long").alias("sty"),
        F.sum("syy").alias("syy"),
        F.sum("s").alias("s01"),
        F.sum(F.when(F.col("g") == 0, F.col("n")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("g") == 1, F.col("n")).otherwise(0)).alias("n1"),
    )
    sty_cp = (
        F.col("sty") * 1.0 - F.col("st") * 1.0 * F.col("sy") / F.col("n")
    )
    sp = (
        F.col("syy") * 1.0 - F.col("sy") * 1.0 * F.col("sy") / F.col("n")
    ) - sty_cp * sty_cp / (
        F.col("stt") * 1.0 - F.col("st") * 1.0 * F.col("st") / F.col("n")
    )
    f = pool.select("n0", "n1", "s01", sp.alias("sp"), "n")
    return f.select(
        F.col("n0").cast("long").alias("n_pre"),
        F.col("n1").cast("long").alias("n_post"),
        snap(
            ((F.col("sp") - F.col("s01")) / 2)
            / (F.col("s01") / (F.col("n") - 4)),
            6,
        ).alias("chow_f"),
    )


BREUSCH_PAGAN_ORACLE = """
-- Breusch-Pagan (Koenker studentized form) heteroscedasticity LM
-- test on the univariate order-size regression: y = order total
-- (cents) on x = line count. Fit by exact-integer moments, then
-- regress the SNAPPED squared residuals e2 = floor(e^2 + 0.5) on x;
-- LM = n * R^2_aux ~ chi^2(1) under homoscedasticity — the screen
-- that says whether per-order variance grows with order size
-- (it does, by construction of TPC-H-ish totals: more lines = more
-- variance), i.e. whether OLS standard errors can be trusted.
-- Devices: (a,b) come from one exact-integer moment row via a
-- fixed-order float chain, so both engines compute bit-identical
-- residuals; e2 snaps to integer cents^2 BEFORE the aux moments, so
-- every aux sum is exact (e2^2 summed WIDE: ~1e20 per row at
-- fixture scale, 1e26 aggregate - inside HUGEINT/DECIMAL(38,0)
-- headroom, stated bound).
WITH per AS (
  SELECT o_orderkey AS ok,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
  FROM orders
), cnt AS (
  SELECT l_orderkey AS ok, COUNT(*) AS x FROM lineitem GROUP BY 1
), j AS (
  SELECT x, y FROM per JOIN cnt USING (ok)
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM j
), fit AS (
  -- every moment enters the float chain via an EXPLICIT double cast
  -- (DuckDB's `* 1.0` is DECIMAL(2,1) math on HUGEINT sums — the
  -- decimal product overflows 38 digits at sf >= 0.1; the MMD
  -- oracle's CAST-to-DOUBLE pattern keeps both engines on the same
  -- IEEE chain)
  SELECT n, sx, sxx,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS b,
         CAST(sy AS DOUBLE) / n
           - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
             * (CAST(sx AS DOUBLE) / n) AS a
  FROM m
), scored AS (
  SELECT x,
         CAST(FLOOR((y * 1.0 - a - b * x) * (y * 1.0 - a - b * x) + 0.5)
              AS BIGINT) AS e2
  FROM j, fit
), aux AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         SUM(CAST(e2 AS HUGEINT)) AS se2,
         SUM(CAST(x AS HUGEINT) * e2) AS sxe2,
         SUM(CAST(e2 AS HUGEINT) * e2) AS se2e2
  FROM scored
)
SELECT n AS n_orders,
       FLOOR((CAST(sxe2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE) / n)
             * (CAST(sxe2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE) / n)
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(se2e2 AS DOUBLE) - CAST(se2 AS DOUBLE) * CAST(se2 AS DOUBLE) / n))
             * n * 1000000 + 0.5) / 1000000 AS lm_koenker
FROM aux
"""


@register("agg_breusch_pagan_order_size", oracle=BREUSCH_PAGAN_ORACLE)
def agg_breusch_pagan_order_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breusch-Pagan/Koenker heteroscedasticity LM on the order-size
    regression (see oracle for the statistic and the exact devices).

    Scale shape: the per-order (x, y) relation is built once — the
    lineitem count and the orders join are both keyed on orderkey
    (co-partitioned, AQE-coalesced) — and persisted for its two
    consumers: the 5-moment fit row and the residual pass. The fit
    is a 1-row broadcast back onto the relation (house crossJoin
    pattern), so the residual pass is map-side arithmetic + one
    6-statistic reduction. Nothing iterates; nothing corpus-sized
    shuffles twice. e2^2 accumulates WIDE with the stated 1e26
    fixture-scale bound (1e38 ceiling reached only past ~1e12
    orders x 1e5-cent residuals — flagged, not silent)."""
    o = load_table(spark, sf_dir, "orders", parallel=False)
    li = load_table(spark, sf_dir, "lineitem", parallel=False)
    per = o.select(
        F.col("o_orderkey").alias("ok"),
        fixed(F.col("o_totalprice"), 2).alias("y"),
    )
    cnt = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count(F.lit(1)).alias("x")
    )
    j = cached(per.join(cnt, "ok").select("x", "y"))
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    sxy_d = F.col("sxy").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    b_expr = (sxy_d - sx_d * sy_d / F.col("n")) / (
        sxx_d - sx_d * sx_d / F.col("n")
    )
    fit = m.select(
        "n",
        "sx",
        "sxx",
        b_expr.alias("b"),
        (sy_d / F.col("n") - b_expr * (sx_d / F.col("n"))).alias("a"),
    )
    e = F.col("y") * 1.0 - F.col("a") - F.col("b") * F.col("x")
    scored = j.crossJoin(F.broadcast(fit.select("a", "b"))).select(
        "x",
        fixed(e * e, 0).alias("e2"),
    )
    aux = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("e2").cast("decimal(38,0)")).alias("se2"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("e2")).alias("sxe2"),
        F.sum(F.col("e2").cast("decimal(38,0)") * F.col("e2")).alias(
            "se2e2"
        ),
    )
    axe2_d = F.col("sxe2").cast("double")
    ax_d = F.col("sx").cast("double")
    ae2_d = F.col("se2").cast("double")
    axx_d = F.col("sxx").cast("double")
    ae2e2_d = F.col("se2e2").cast("double")
    sxe2_c = axe2_d - ax_d * ae2_d / F.col("n")
    return aux.select(
        F.col("n").alias("n_orders"),
        snap(
            sxe2_c
            * sxe2_c
            / (
                (axx_d - ax_d * ax_d / F.col("n"))
                * (ae2e2_d - ae2_d * ae2_d / F.col("n"))
            )
            * F.col("n"),
            6,
        ).alias("lm_koenker"),
    )
