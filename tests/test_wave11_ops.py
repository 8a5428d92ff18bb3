"""Wave-11 tests: an independent full-matrix DTW implementation
(different memory layout than the operator's two-row DP), and a
python-csv third opinion for the multiline quoted-CSV roundtrip."""

from __future__ import annotations

import csv
import glob
from collections import Counter

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_dtw_matches_full_matrix_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("cast(to_date(ts) as string) AS d", "event_type")
        .collect()
    )
    v: Counter = Counter()
    p: Counter = Counter()
    days = set()
    for r in rows:
        days.add(r.d)
        if r.event_type == "view":
            v[r.d] += 1
        elif r.event_type == "purchase":
            p[r.d] += 1
    ds = sorted(days)
    a = [v[d] for d in ds]
    b = [p[d] for d in ds]
    n = len(ds)
    big = 1 << 60
    D = [[big] * (n + 1) for _ in range(n + 1)]
    D[0][0] = 0
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            D[i][j] = abs(a[i - 1] - b[j - 1]) + min(
                D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
            )
    [row] = registry.QUERIES["timeseries_dtw_distance"](
        spark, sf_dir
    ).collect()
    lock = sum(abs(x - y) for x, y in zip(a, b))
    assert (row.n_days, row.dtw_distance, row.lockstep_distance) == (
        n, D[n][n], lock,
    )
    # warping can only improve on the lockstep alignment
    assert row.dtw_distance <= row.lockstep_distance


def test_multiline_csv_roundtrip_matches_python(spark, sf_dir):
    [row] = registry.QUERIES["scan_csv_multiline_quoted"](
        spark, sf_dir
    ).collect()
    # third opinion: parse the written CSV with python's csv module
    # (an independent RFC-4180 implementation)
    import os

    from etl_data_ingestion_spark.operators.sources_scan import _scratch

    path = _scratch(sf_dir, "customer_multiline_csv")
    parsed = []
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, newline="") as fh:
            parsed.extend(csv.reader(fh))
    assert row.n_rows == len(parsed)
    assert row.key_sum == sum(int(r[0]) for r in parsed)
    assert row.comment_chars == sum(len(r[1]) for r in parsed)
    # every comment really is multiline (the fixture is doing its job)
    assert all("\n" in r[1] for r in parsed)
    assert row.building_rows == sum(
        1 for r in parsed if r[2] == "BUILDING"
    )
