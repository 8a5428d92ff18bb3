"""Every registered query on Spark against its DuckDB oracle over the
same parquet, judged by ``plans.parity.check``, on one fixture after
another in one Spark session.

Per fixture it prints one line per query and a summary line, then one
JSON object on a line of its own: the count per verdict, the names of
every query that is not ok, and each failure's detail. Exits nonzero
if any fixture has a failure.

Usage: python tools/check_parity.py [fixture_dir ...] [query ...]
An argument that is a directory is a fixture, any other is a query
name; with no fixture it checks /root/testdata/sf0.01, with no query
every registered query. The local fixtures come from tools/gen_scale.py
(.scaledata/sf0.3, .scaledata/sf1) and tools/gen_empty.py
(.scaledata/sf_empty).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark import catalog  # noqa: E402
from etl_data_ingestion_spark.plans import parity, registry  # noqa: E402
from etl_data_ingestion_spark.session import get_spark  # noqa: E402


# JSON summary key -> verdict status
KEYS = {"ok": parity.OK, "rows_only": parity.ROWS_ONLY,
        "oracle_timeout": parity.ORACLE_TIMEOUT, "failed": parity.FAIL}


def check_fixture(spark, sf_dir: str, only: set[str]) -> dict:
    by: dict[str, list[parity.Verdict]] = {s: [] for s in KEYS.values()}
    with parity.duckdb_views(sf_dir) as con:
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
    print(json.dumps(summary), flush=True)
    return summary


def main() -> int:
    registry.load_all()
    args = sys.argv[1:]
    fixtures = [a for a in args if os.path.isdir(a)] or ["/root/testdata/sf0.01"]
    only = {a for a in args if not os.path.isdir(a)}
    unknown = sorted(only - set(registry.QUERIES))
    for a in unknown:
        m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(a.rstrip("/")))
        hint = f"; make it with: python tools/gen_scale.py {m[1]} {a}" if m else ""
        print(f"{a}: neither a fixture directory nor a registered query{hint}", file=sys.stderr)
    if unknown:
        return 2

    spark = get_spark(app_name="check_parity")
    failed = 0
    for sf_dir in fixtures:
        failed += check_fixture(spark, sf_dir, only)["failed"]
        catalog.drop_plan_cache(spark)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
