"""Save full `.explain("formatted")` output per query to plans/<round>/.

Optimization-round deliverable: for each touched query, commit the
physical plan BEFORE and AFTER the change so plan-shape claims
("2 Exchange -> 1", "SortMergeJoin -> BroadcastHashJoin") are
checkable without running Spark.

Usage: python tools/explain_save.py <suffix> <query> [query ...]
       (suffix is 'before' or 'after'; sf dir from $SPARK_GRAFT_SF_DIR,
        default /root/testdata/sf0.1; plans subdir from $PLANS_ROUND,
        default r15)
Writes plans/<round>/<query>_<suffix>.txt under the checkout this tool
lives in
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[1] not in ("before", "after"):
        print(
            "usage: python tools/explain_save.py <before|after> "
            "<query> [query ...]",
            file=sys.stderr,
        )
        return 2
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("PLANS_ROUND", "r15")

    from etl_data_ingestion_spark.plans import registry
    from etl_data_ingestion_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="explain_save")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = registry.run(spark, name, sf_dir, formatted).result
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({suffix}) sf_dir={sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
