"""DuckDB oracles for the query workload and the result comparison.

A query's result matches its oracle when both have the same column
names and row count and the same values once canonicalized: columns
sorted by name, rows sorted, every cell rendered by ``canon_cell``
(floats by full repr with no rounding, NaN and NULL alike, lists
element-wise, dates and times in ISO form).
"""

from __future__ import annotations

import math
import os
import threading
import time

import pandas as pd

UNCHECKED = "unchecked"


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        if isinstance(seq, list):
            return "[" + ",".join(canon_cell(x) for x in seq) + "]"
        return canon_cell(seq)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    if not len(df):
        return []
    return sorted(zip(*[df[c].map(canon_cell) for c in cols]))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canon_frame(got), canon_frame(want)
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {first[0]} != {first[1]}"
    return None


def compute_oracles(
    data_dir: str, tables: list[str], sql: dict[str, str], budget_s: float
) -> tuple[dict[str, pd.DataFrame | str], float]:
    """Run each oracle SQL once over ``data_dir``; returns the results
    by query name (``UNCHECKED`` for an oracle that ran past
    ``budget_s``) and the seconds spent."""
    import duckdb

    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out: dict[str, pd.DataFrame | str] = {}
    for name, query in sql.items():
        timer = threading.Timer(budget_s, con.interrupt)
        timer.start()
        try:
            out[name] = con.execute(query).fetchdf()
        except duckdb.InterruptException:
            out[name] = UNCHECKED
        finally:
            timer.cancel()
    con.close()
    return out, time.perf_counter() - t0
