"""Wave-5 operator tests: pure-Python third opinions for average
precision, the one-step Newton logistic probe, Ljung-Box, and Theil
inequality.
"""

from __future__ import annotations

import math

import numpy as np

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def test_average_precision_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_id", "event_type", "value")
        .collect()
    )
    ranked = sorted(rows, key=lambda r: (-r.value, r.event_id))
    cum = 0
    total_nano = 0
    n_pos = 0
    for i, r in enumerate(ranked, start=1):
        if r.event_type == "purchase":
            cum += 1
            n_pos += 1
            total_nano += math.floor((cum / i) * 1e9 + 0.5)
    got = q("ml_average_precision", spark, sf_dir).collect()[0]
    assert got.n_rows == len(rows) and got.n_pos == n_pos
    assert abs(got.average_precision - total_nano / n_pos / 1e9) < 2e-6


def test_logreg_probe_matches_numpy(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "value", "hour(ts) AS h")
        .where("value IS NOT NULL")
        .collect()
    )
    X = np.array(
        [[1.0, math.floor(r.value * 100 + 0.5), r.h] for r in rows]
    )
    z = np.array([1.0 if r.event_type == "purchase" else -1.0 for r in rows])
    beta = 2.0 * np.linalg.solve(X.T @ X, X.T @ z)
    got = q("ml_logreg_newton_probe", spark, sf_dir).collect()[0]
    assert got.n_rows == len(rows)
    assert abs(got.beta_intercept - beta[0]) < 1e-5
    assert abs(got.beta_value_cents - beta[1]) < 1e-8
    assert abs(got.beta_hour - beta[2]) < 1e-5
    # the probe must be an ascent direction of the log-likelihood at
    # beta=0: beta . X'z > 0 (X'z is the score direction there)
    score = X.T @ z
    assert float(np.array([got.beta_intercept, got.beta_value_cents, got.beta_hour]) @ score) > 0


def test_ljung_box_matches_numpy(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("date_trunc('day', ts) AS d", "value")
        .collect()
    )
    by_day: dict = {}
    for r in rows:
        by_day[r.d] = by_day.get(r.d, 0.0) + r.value
    y = np.array(
        [math.floor(v * 100 + 0.5) for _, v in sorted(by_day.items())],
        dtype=float,
    )
    n = len(y)
    ybar = y.sum() / n
    den = (y * y).sum() - n * ybar * ybar
    qsum = 0.0
    for k in range(1, 8):
        num = ((y[:-k] - ybar) * (y[k:] - ybar)).sum()
        rk = num / den
        qsum += rk * rk / (n - k)
    expect = n * (n + 2.0) * qsum
    got = q("timeseries_ljung_box", spark, sf_dir).collect()[0]
    assert got.n_days == n and got.df == 7
    assert abs(got.q_stat - expect) < 5e-5
    assert got.verdict == ("autocorrelated" if expect > 14.067 else "white_noise")


def test_theil_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_custkey", "o_totalprice")
        .collect()
    )
    cust: dict = {}
    for r in rows:
        cust[r.o_custkey] = cust.get(r.o_custkey, 0) + math.floor(
            r.o_totalprice * 100 + 0.5
        )
    vals = list(cust.values())
    n = len(vals)
    mu = sum(vals) / n
    t_nano = sum(
        math.floor((v / mu) * math.log(v / mu) * 1e9 + 0.5) for v in vals
    )
    l_nano = sum(math.floor(math.log(mu / v) * 1e9 + 0.5) for v in vals)
    got = q("agg_theil_inequality", spark, sf_dir).collect()[0]
    assert got.n_customers == n
    assert abs(got.theil_t - t_nano / n / 1e9) < 2e-6
    assert abs(got.theil_l - l_nano / n / 1e9) < 2e-6
    # T and L are both >= 0 (Jensen) and 0 only under perfect equality
    assert got.theil_t >= 0 and got.theil_l >= 0
