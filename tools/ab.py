"""Interleaved A/B of two arms of one registry query, values checked
identical before anything is timed.

Usage: python tools/ab.py <sf_dir>... <query> <armA> <armB> [rounds]

An arm is one of:
  stock              the registry builder of <query>;
  path.py:function   a (spark, sf_dir) -> DataFrame builder in path.py,
                     wrapped in registry.gated as the stock builder is;
  duckdb             <query>'s oracle SQL on DuckDB over the same parquet.

At every sf_dir both arms must return the same columns and the same
rows under plans.parity.compare; otherwise the A/B is refused
(exit 1) before any timing. Both arms are then sampled cold through
bench.sample_interleaved: one untimed warm pass, then `rounds`
(default 5) passes that each take one sample of A and one of B, so a
host-contention burst hits both arms alike. Spark arms run through
registry.run (values through toPandas, samples through the no-op sink)
on local[$SPARK_GRAFT_CPUS]; the DuckDB arm runs with
threads=$SPARK_GRAFT_CPUS under parity.duckdb_run's timeout.

Prints one JSON line:
  {"query", "rounds", "arms": {"a": armA, "b": armB},
   "sf": {sf_dir: {"a": {"min", "median", "samples"}, "b": {...},
                   "b_over_a": min B / min A}}}

Example: python tools/ab.py .scaledata/sf0.3 .scaledata/sf1 \\
             tpch_q6_forecast_revenue stock duckdb 4
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
from operator import methodcaller

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from etl_data_ingestion_spark.plans import parity, registry  # noqa: E402
from etl_data_ingestion_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def load_builder(spec: str):
    """The callable named by 'path.py:function'."""
    path, _, func = spec.rpartition(":")
    mspec = importlib.util.spec_from_file_location(
        os.path.splitext(os.path.basename(path))[0], path
    )
    if mspec is None or not func:
        raise SystemExit(f"arm {spec!r} is not stock, duckdb or path.py:function")
    mod = importlib.util.module_from_spec(mspec)
    mspec.loader.exec_module(mod)
    return getattr(mod, func)


def make_arm(spec: str, spark, query: str, cons: dict):
    """(values(sf_dir) -> pandas frame, sample(sf_dir) -> seconds | None)."""
    if spec == "duckdb":
        sql = registry.ORACLES.get(query)
        if sql is None:
            raise SystemExit(f"{query} has no oracle SQL")

        def values(sf_dir):
            r = parity.duckdb_run(cons[sf_dir], sql, fetch="fetchdf")
            if r is None:
                raise SystemExit(f"{query}: oracle timed out at {sf_dir}")
            return r[1]

        def sample(sf_dir):
            r = parity.duckdb_run(cons[sf_dir], sql)
            return None if r is None else round(r[0], 3)

        return values, sample
    build = None if spec == "stock" else registry.gated(load_builder(spec))

    def spark_run(sf_dir, action):
        return registry.run(spark, query, sf_dir, action, build)

    return (
        lambda sf_dir: spark_run(sf_dir, methodcaller("toPandas")).result,
        lambda sf_dir: round(spark_run(sf_dir, registry.NOOP).seconds, 3),
    )


def main(argv: list[str]) -> int:
    rounds = int(argv.pop()) if argv and argv[-1].isdigit() else 5
    if len(argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    *sf_dirs, query, spec_a, spec_b = argv
    registry.load_all()
    if query not in registry.QUERIES:
        raise SystemExit(f"unknown query {query!r}")
    cpus = DEFAULT_CPUS
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    cons = {d: parity.duckdb_views(d, cpus) for d in sf_dirs}
    arms = {
        "a": make_arm(spec_a, spark, query, cons),
        "b": make_arm(spec_b, spark, query, cons),
    }

    for d in sf_dirs:
        reason = parity.compare(arms["a"][0](d), arms["b"][0](d))
        if reason:
            print(
                f"REFUSED {query} at {d}: {spec_a} and {spec_b} return "
                f"different values: {reason}",
                file=sys.stderr,
            )
            return 1

    bench.warm_up(spark, sf_dirs[0], cpus)
    out = {"query": query, "rounds": rounds, "arms": {"a": spec_a, "b": spec_b}, "sf": {}}
    for d in sf_dirs:
        best, samples = bench.sample_interleaved(
            ["a", "b"], lambda k: arms[k][1](d), passes=rounds
        )
        lane: dict = {
            k: {
                "min": best.get(k),
                "median": round(statistics.median(s), 3) if s else None,
                "samples": s,
            }
            for k, s in samples.items()
        }
        lane["b_over_a"] = (
            round(best["b"] / best["a"], 3) if best.get("a") and "b" in best else None
        )
        out["sf"][d] = lane
    for con in cons.values():
        con.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
