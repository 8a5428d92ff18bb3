"""Job-floor decomposition for the perf-weak extended queries.

The r9 verdict's open question: six queries are correct and plan-
audited clean but sit >10x over their DuckDB oracle AND >1.5s absolute
at sf0.1 — "floor-dominated" was asserted, never measured. This tool
measures it:

- floor_noop_sec: a trivial `spark.range(cpus).write.noop` job under
  the bench protocol (min-of-5) — the per-JOB submission floor
  (scheduler + task launch + noop commit), no scan, no shuffle.
- floor_scan_sec: smallest-table parquet scan + 1-row count + noop
  (min-of-5) — the per-QUERY floor including one scan setup and one
  Exchange.
- per query: min-of-3 cold timing under bench.run_query, the number
  of Spark JOBS the query runs (registry.run's job group — AQE stage
  materializations each count, which is the honest number), best-of-3
  DuckDB oracle time, and the decomposition
      compute_over_floor = spark_sec - n_jobs * floor_noop_sec
  Anything still >3x the oracle after floor subtraction is flagged
  PLAN (needs a plan fix); the rest report FLOOR.

Usage: python tools/floor_decompose.py [sf_dir] [query ...]
Prints a markdown table for PLANS.md plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.session import DEFAULT_CPUS, get_spark

DEFAULT_QUERIES = [
    "graph_kcore_peel",
    "ml_item_item_cf",
    "dedup_end_to_end_canonical",
    "dedup_repeated_lines_corpus",
    "agg_kruskal_wallis",
    "pipeline_naive_bayes_spam",
    "pandas_cogroup_reconcile",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_QUERIES

    registry.load_all()
    import bench  # bench protocol: same session confs + run_query

    spark = get_spark(app_name="floor_decompose")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = DEFAULT_CPUS

    bench.warm_up(spark, sf_dir, cpus)

    def floor_noop() -> float:
        t0 = time.perf_counter()
        spark.range(0, cpus, 1, cpus).write.mode("overwrite").format(
            "noop"
        ).save()
        return time.perf_counter() - t0

    def floor_scan() -> float:
        from etl_data_ingestion_spark.catalog import load_table

        t0 = time.perf_counter()
        load_table(spark, sf_dir, "region").groupBy().count().write.mode(
            "overwrite"
        ).format("noop").save()
        return time.perf_counter() - t0

    floors, _ = bench.sample_interleaved(
        ["noop", "scan"],
        lambda k: {"noop": floor_noop, "scan": floor_scan}[k](),
        passes=5,
    )
    f_noop, f_scan = round(floors["noop"], 3), round(floors["scan"], 3)

    # also the warm pass
    n_jobs = {n: registry.run(spark, n, sf_dir, registry.NOOP).jobs for n in names}
    timings, _ = bench.sample_interleaved(
        names,
        lambda n: round(bench.run_query(spark, n, sf_dir), 3),
        passes=3,
        warm=False,
    )

    duck, _ = bench.time_oracles(names, sf_dir, cpus)

    print(f"\nfloor_noop_sec={f_noop}  floor_scan_sec={f_scan}  sf_dir={sf_dir}\n")
    print("| query | spark s | jobs | job-floor s | compute-over-floor s | duckdb s | raw ratio | over-floor ratio | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    out = {}
    for n in names:
        t, j, d = timings[n], n_jobs[n], duck.get(n)
        jf = round(j * f_noop, 3)
        cof = round(max(0.0, t - jf), 3)
        raw = round(t / d, 1) if d else None
        ofr = round(cof / d, 1) if d else None
        verdict = "PLAN" if (ofr is not None and ofr > 3.0 and cof > 0.5) else "FLOOR"
        out[n] = {
            "spark": t,
            "jobs": j,
            "job_floor": jf,
            "compute_over_floor": cof,
            "duckdb": d,
            "raw_ratio": raw,
            "over_floor_ratio": ofr,
            "verdict": verdict,
        }
        print(
            f"| {n} | {t} | {j} | {jf} | {cof} | {d} | {raw} | {ofr} | {verdict} |"
        )
    print()
    print(
        json.dumps(
            {
                "floor_noop_sec": f_noop,
                "floor_scan_sec": f_scan,
                "sf_dir": sf_dir,
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
