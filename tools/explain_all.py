"""Dump a physical-plan summary for every registered query — the raw
material for PLANS.md audits. One block per query: scan pushdown
lines, join strategies, exchanges, window/codegen markers.

Usage: python tools/explain_all.py [sf_dir] [query ...] > plans.txt
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = (
    "Scan parquet",
    "PushedFilters",
    "PartitionFilters",
    "ReadSchema",
    "Join type",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "HashAggregate",
    "Window",
    "TakeOrderedAndProject",
    "Generate",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "WindowGroupLimit",
)


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from etl_data_ingestion_spark.plans import registry
    from etl_data_ingestion_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="explain_all")
    spark.sparkContext.setLogLevel("ERROR")

    for name in registry.query_names():
        if only and name not in only:
            continue
        try:
            plan = registry.run(spark, name, sf_dir, formatted).result
            print(f"==== {name}")
            for line in plan.splitlines():
                s = line.strip()
                if any(k in s for k in KEYS):
                    print(f"  {s[:150]}")
        except Exception as e:  # noqa: BLE001 — survey tool, keep going
            print(f"==== {name}\n  ERROR: {e}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
