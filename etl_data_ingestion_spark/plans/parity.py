"""The oracle check: does a registered query's Spark result match its
DuckDB oracle over the same parquet? ``check`` runs one query on both
engines and returns a ``Verdict``; tools and tests call it in-process.

Two results match when they have the same column names, row count and
values once canonicalized: columns sorted by name, rows sorted, every
cell rendered by ``canon_cell``. The canon is strict: floats by full
repr (``0.0`` is not ``0``), NaN and NULL as one token, arrays element
by element through ``tolist`` (numpy's ``str`` keeps 8 significant
digits and elides the middle of a long array), dates and times in ISO
form, bytes as hex.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass
from operator import methodcaller

import pandas as pd

from .registry import ORACLES, run

OK, FAIL, ROWS_ONLY, ORACLE_TIMEOUT = "ok", "fail", "rows-only", "oracle-timeout"

# DuckDB types with no pandas dtype: fetchdf returns them as float64 or
# object where Spark returns int64 or double, so equal values would
# still hash differently. An oracle CASTs them to BIGINT or DOUBLE.
UNREPRESENTABLE_TYPES = ("HUGEINT", "DECIMAL", "UBIGINT", "UINTEGER")


def duckdb_views(sf_dir: str, cpus: int | None = None):
    """A DuckDB connection with one view per catalog table over the
    parquet in ``sf_dir``; ``threads=cpus`` when given."""
    import duckdb

    from etl_data_ingestion_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    if cpus:
        con.execute(f"SET threads={cpus}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def duckdb_run(con, sql: str, fetch: str = "fetchall"):
    """Run ``sql`` to completion (``fetch`` forces materialization) and
    return (seconds, result), or None if it is still running after
    $SPARK_GRAFT_ORACLE_TIMEOUT seconds (default 180) and was
    interrupted: brute-force ground-truth oracles are superlinear
    (all-pairs Jaccard is O(docs²)) and stop terminating at the
    scale-curve sfs long before the Spark side does."""
    import duckdb

    budget = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "180"))
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    t0 = time.perf_counter()
    try:
        out = getattr(con.execute(sql), fetch)()
        return time.perf_counter() - t0, out
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
        if not isinstance(v, list):
            return canon_cell(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    """Rows of canonical cells, columns sorted by name, rows sorted.
    Column-wise ``map`` keeps it O(cells) on multi-million-row results."""
    if not len(df):
        return []
    return sorted(zip(*[df[c].map(canon_cell) for c in sorted(df.columns)]))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    diffs = [(a, b) for a, b in zip(canon_frame(got), canon_frame(want)) if a != b]
    if diffs:
        return "values differ, first: " + "; ".join(f"{a} != {b}" for a, b in diffs[:3])
    return None


@dataclass(frozen=True)
class Verdict:
    """``status`` is OK, FAIL, ROWS_ONLY (no oracle) or ORACLE_TIMEOUT
    (parity unverified, not failed). ``rows`` counts the Spark result,
    None when Spark raised. A FAIL says why in ``detail``; when a side
    raised, ``detail`` names the side and ``error`` holds its text."""

    name: str
    status: str
    rows: int | None = None
    detail: str = ""
    error: str | None = None


def check(spark, con, name: str, sf_dir: str, build=None) -> Verdict:
    """Run query ``name`` (or ``build`` standing in for it) on ``spark``
    through ``registry.run`` and its oracle on ``con`` (see
    ``duckdb_views``) over ``sf_dir``, and judge the results."""
    try:
        got = run(spark, name, sf_dir, methodcaller("toPandas"), build).result
    except Exception as e:  # the query's own failure is the verdict
        return Verdict(name, FAIL, detail="spark raised", error=str(e))
    sql = ORACLES.get(name)
    if sql is None:
        return Verdict(name, ROWS_ONLY, len(got))
    try:
        rel = con.sql(sql)  # planned, not run: enough to read the types
        types = zip(rel.columns, map(str, rel.types))
        bad = [f"{c}:{t}" for c, t in types if any(k in t for k in UNREPRESENTABLE_TYPES)]
        ran = None if bad else duckdb_run(con, sql, fetch="fetchdf")
    except Exception as e:
        return Verdict(name, FAIL, len(got), "oracle raised", str(e))
    if bad:
        why = f"oracle columns {bad} have no pandas dtype: CAST to BIGINT/DOUBLE"
        return Verdict(name, FAIL, len(got), why)
    if ran is None:
        return Verdict(name, ORACLE_TIMEOUT, len(got))
    reason = compare(got, ran[1])
    return Verdict(name, FAIL if reason else OK, len(got), reason or "")
