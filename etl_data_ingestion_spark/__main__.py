"""CLI: list and run registered queries or ad-hoc SQL.

    python -m etl_data_ingestion_spark list
    python -m etl_data_ingestion_spark run tpch_q1_pricing_summary [sf_dir]
    python -m etl_data_ingestion_spark sql "SELECT COUNT(*) FROM lineitem" [sf_dir]
"""

from __future__ import annotations

import sys

from etl_data_ingestion_spark.catalog import DEFAULT_SF_DIR
from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.session import get_spark


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in ("list", "run", "sql"):
        print(__doc__)
        return 2
    registry.load_all()
    cmd = argv[0]
    if cmd == "list":
        for name in registry.query_names():
            mark = "oracle" if name in registry.ORACLES else "rows-only"
            print(f"{name}  [{mark}]")
        return 0
    sf_dir = argv[2] if len(argv) > 2 else DEFAULT_SF_DIR
    spark = get_spark(app_name=f"cli:{cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if cmd == "run":
        name = argv[1]
        if name not in registry.QUERIES:
            print(f"unknown query {name!r}; see `list`", file=sys.stderr)
            return 2
        registry.run(spark, name, sf_dir, lambda df: df.show(50, truncate=False))
    else:
        from etl_data_ingestion_spark.sql import run_sql

        run_sql(spark, sf_dir, argv[1]).show(50, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
