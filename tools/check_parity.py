"""Every registered query on Spark against its DuckDB oracle over the
same parquet, judged by ``plans.parity.check``.

Prints one line per query and a summary line. The last line is one JSON
object: the count per verdict, the names of every query that is not
ok, and each failure's detail. Exits nonzero on any failure.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark.plans import parity, registry  # noqa: E402
from etl_data_ingestion_spark.session import get_spark  # noqa: E402


# JSON summary key -> verdict status
KEYS = {"ok": parity.OK, "rows_only": parity.ROWS_ONLY,
        "oracle_timeout": parity.ORACLE_TIMEOUT, "failed": parity.FAIL}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    registry.load_all()
    spark = get_spark(app_name="check_parity")
    con = parity.duckdb_views(sf_dir)
    by: dict[str, list[parity.Verdict]] = {s: [] for s in KEYS.values()}
    for name in registry.query_names():
        if only and name not in only:
            continue
        v = parity.check(spark, con, name, sf_dir)
        by[v.status].append(v)
        if v.status == parity.FAIL:
            print(f"FAIL {name}: {v.detail}" + (f": {v.error}" if v.error else ""), flush=True)
        else:
            print(f"{v.status.upper():4} {name}: {v.rows} rows", flush=True)
    summary = {
        "sf_dir": sf_dir,
        **{k: len(by[s]) for k, s in KEYS.items()},
        "non_ok": {k: [v.name for v in by[s]] for k, s in KEYS.items() if k != "ok"},
        "failures": [
            {"name": v.name, "detail": v.detail, "error": (v.error or "")[:500]}
            for v in by[parity.FAIL]
        ],
    }
    print(f"\n{summary['ok']} ok, {summary['rows_only']} rows-only, {summary['oracle_timeout']}"
          f" oracle-timeout, {summary['failed']} failed (sf_dir={sf_dir})")
    print(json.dumps(summary))
    return 1 if summary["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
