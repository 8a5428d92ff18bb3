"""Whole-registry plan-construction profile (r13 verdict item 3).

For every registry query, split the second-call wall time into:

  build    — Python builder call: DataFrame construction (py4j
             round trips for each expression/operator node)
  optimize — force analysis+optimization of the built plan
             (df._jdf.queryExecution().optimizedPlan())
  execute  — noop write of the already-optimized DataFrame

The FIRST call per query is a warmup (imports, load_table plan
cache, JIT); the profile records the SECOND call, in a fresh
registry order, so session-catalog pollution inflating late samples
(the r13 probe's flaw) is at least constant across arms. Queries
that EXECUTE inside their builders by design (eager-in-builder:
AQE-gated iteratives, stateful streaming, persisted-index builds)
are detected by `execute < 50ms while build > 500ms` and flagged
EAGER — their build number is execution, not construction, and they
are excluded from the F.expr conversion ranking.

Writes tools/out/build_profile.json and prints the top-N lazy
builders by build time.

Usage: python tools/profile_build.py [top_n] [query ...]
  (AB_SF overrides the sf dir; default /root/testdata/sf0.1;
  PROFILE_SLICE=i/n profiles the i-th of n registry slices and
  writes tools/out/build_profile_{i}of{n}.json — merge with
  tools/merge_build_profile.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.session import get_spark

SF = os.environ.get("AB_SF", "/root/testdata/sf0.1")


def profile_one(spark, name):
    # warmup run end-to-end (build + run) so parquet footers,
    # load_table caches and codegen are hot; each registry.run releases
    # what the builder persisted or checkpointed
    try:
        registry.run(spark, name, SF, registry.NOOP)
    except Exception as e:  # noqa: BLE001
        return {"name": name, "err": f"{type(e).__name__}: {e}"[:200]}

    def optimize_and_execute(df):
        t0 = time.perf_counter()
        df._jdf.queryExecution().optimizedPlan()
        t1 = time.perf_counter()
        registry.NOOP(df)
        return t1 - t0, time.perf_counter() - t1

    run = registry.run(spark, name, SF, optimize_and_execute)
    optimize, execute = run.result
    out = {
        "name": name,
        "build": round(run.seconds - optimize - execute, 4),
        "optimize": round(optimize, 4),
        "execute": round(execute, 4),
    }
    out["eager"] = out["build"] > 0.5 and out["execute"] < 0.05
    return out


def main() -> None:
    top_n = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    only = set(sys.argv[2:])
    registry.load_all()
    spark = get_spark()
    spark.range(4).write.mode("overwrite").format("noop").save()
    names = [n for n in registry.QUERIES if not only or n in only]
    out_path = "tools/out/build_profile.json"
    slc = os.environ.get("PROFILE_SLICE")
    if slc:
        i, n = (int(x) for x in slc.split("/"))
        names = [nm for k, nm in enumerate(names) if k % n == i - 1]
        out_path = f"tools/out/build_profile_{i}of{n}.json"
    rows = []
    for name in names:
        rows.append(profile_one(spark, name))
    os.makedirs("tools/out", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"sf": SF, "rows": rows}, f, indent=1)
    ok = [r for r in rows if "err" not in r]
    total_build = sum(r["build"] for r in ok)
    total_exec = sum(r["execute"] for r in ok)
    print(
        f"\n{len(ok)} profiled; total build={total_build:.1f}s "
        f"optimize={sum(r['optimize'] for r in ok):.1f}s "
        f"execute={total_exec:.1f}s"
    )
    lazy = [r for r in ok if not r["eager"]]
    lazy.sort(key=lambda r: -r["build"])
    print(f"\ntop {top_n} LAZY builders by construction time:")
    for r in lazy[:top_n]:
        print(
            f"  {r['name']:45s} build={r['build']:.2f} "
            f"opt={r['optimize']:.2f} exec={r['execute']:.2f}"
        )
    eager = [r for r in ok if r["eager"]]
    print(f"\n{len(eager)} EAGER-in-builder (excluded from ranking):")
    for r in sorted(eager, key=lambda r: -r["build"])[:10]:
        print(f"  {r['name']:45s} build={r['build']:.2f}")
    for r in rows:
        if "err" in r:
            print("ERR", r["name"], r["err"])


if __name__ == "__main__":
    main()
