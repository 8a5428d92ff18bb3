"""Systematic audit of every load_table(..., parallel=True) call site
(r10 verdict item 2 / PLANS.md "QUEUED FOR R11").

The catalog's opt-in rule (_with_scan_parallelism docstring): the
single-row-group fixture fan-out is ONLY for operators whose per-row
CPU dwarfs a row's shuffle cost; a straight scan->partial-agg with
trivial per-row CPU must NOT opt in, because the RoundRobin Exchange
moves raw rows and defeats map-side combine. Round 10 caught two
misapplications (kruskal, item_cf) worth 0.6-0.8s each at sf0.1 AND
wins at sf1 — this tool audits the remaining sites empirically.

Method (per QUERY, since the conf gates all of a query's sites at
once):
  1. Detect which queries actually reach _with_scan_parallelism and
     from which call sites (monkeypatched recorder; plan cache off so
     every load_table call is observed). Plan construction only — no
     execution needed.
  2. A/B at sf0.1 under the bench protocol: minPartitions=32 (ON) vs
     0 (OFF), interleaved O,F,O,F,O,F samples (min-of-3 per side),
     plan cache dropped at every conf flip so neither side serves a
     stale cached plan.
  3. Queries where OFF wins by >=10% AND >=0.08s are re-A/B'd at sf1;
     a site is flagged DROP only if OFF wins-or-ties at BOTH scales
     (the r10 precedent's bar).

Prints a markdown table (site -> queries -> sf0.1 ON/OFF -> sf1
ON/OFF -> verdict) plus one JSON line for PLANS.md.

Usage: python tools/audit_parallel.py [--detect-only] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark import catalog
from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scaledata/sf1",
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def detect(spark) -> dict[str, list[tuple[str, str]]]:
    """query -> [(site 'file:line', table)] for every parallel=True
    call that actually fires during plan construction."""
    import inspect

    registry.load_all()
    orig = catalog._with_scan_parallelism
    hits: list[tuple[str, str]] = []

    def recorder(spark_, df):
        site = "?"
        for fr in inspect.stack()[1:]:
            fn = fr.filename
            if fn.endswith("catalog.py"):
                continue
            if "etl_data_ingestion_spark" in fn:
                site = f"{os.path.relpath(fn, REPO)}:{fr.lineno}"
                break
        # table name via the load_table frame's locals
        table = "?"
        for fr in inspect.stack()[1:]:
            if fr.filename.endswith("catalog.py") and fr.function == "load_table":
                table = fr.frame.f_locals.get("name", "?")
                break
        hits.append((site, table))
        return orig(spark_, df)

    catalog._with_scan_parallelism = recorder
    out: dict[str, list[tuple[str, str]]] = {}
    try:
        for name, fn in registry.QUERIES.items():
            hits.clear()
            # a registered scan skips the build, and with it the
            # fan-out call this records
            catalog.drop_plan_cache(spark)
            try:
                fn(spark, "/root/testdata/sf0.001")
            except Exception as e:  # plan-construction failure: report
                out[name] = [("CONSTRUCT-ERROR: " + repr(e)[:80], "?")]
                continue
            if hits:
                out[name] = sorted(set(hits))
    finally:
        catalog._with_scan_parallelism = orig
    return out


def ab(spark, name: str, sf_dir: str, n: int = 3) -> tuple[float, float]:
    """Interleaved ON/OFF min-of-n at sf_dir. Returns (on, off)."""
    import bench

    def arm(key: str) -> float:
        spark.conf.set("spark.etl.scan.minPartitions", "32" if key == "on" else "0")
        catalog.drop_plan_cache(spark)
        return bench.run_query(spark, name, sf_dir)

    best, _ = bench.sample_interleaved(["on", "off"], arm, passes=n, warm=False)
    spark.conf.set("spark.etl.scan.minPartitions", "32")
    catalog.drop_plan_cache(spark)
    return best["on"], best["off"]


def main() -> None:
    argv = sys.argv[1:]
    detect_only = "--detect-only" in argv
    only = [a for a in argv if not a.startswith("--")]

    spark = get_spark(app_name="audit_parallel")
    spark.sparkContext.setLogLevel("ERROR")
    sites = detect(spark)
    if only:
        sites = {k: v for k, v in sites.items() if k in only}
    print(f"# {len(sites)} queries reach _with_scan_parallelism")
    if detect_only:
        for q, ss in sorted(sites.items()):
            print(q, "->", ss)
        return

    import bench

    bench.warm_up(spark, SF01, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    rows = []
    t_start = time.time()
    for i, (q, ss) in enumerate(sorted(sites.items())):
        on01, off01 = ab(spark, q, SF01)
        cand = off01 < on01 - max(0.08, 0.10 * on01)
        on1 = off1 = None
        verdict = "KEEP"
        if cand:
            on1, off1 = ab(spark, q, SF1)
            if off1 <= on1 * 1.02:  # wins-or-ties at sf1
                verdict = "DROP"
            else:
                verdict = "KEEP(sf1)"
        rows.append(
            {
                "query": q,
                "sites": ["%s[%s]" % s for s in ss],
                "sf0.1_on": round(on01, 3),
                "sf0.1_off": round(off01, 3),
                "sf1_on": round(on1, 3) if on1 else None,
                "sf1_off": round(off1, 3) if off1 else None,
                "verdict": verdict,
            }
        )
        print(
            f"[{i+1}/{len(sites)} {time.time()-t_start:.0f}s] {q}: "
            f"on={on01:.3f} off={off01:.3f} {verdict}"
            + (f" sf1 on={on1:.3f} off={off1:.3f}" if on1 else "")
        )
    print()
    print("| query | sites | sf0.1 on | sf0.1 off | sf1 on | sf1 off | verdict |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            "| {query} | {s} | {sf01on} | {sf01off} | {sf1on} | {sf1off} | {v} |".format(
                query=r["query"],
                s="; ".join(r["sites"]),
                sf01on=r["sf0.1_on"],
                sf01off=r["sf0.1_off"],
                sf1on=r["sf1_on"] or "-",
                sf1off=r["sf1_off"] or "-",
                v=r["verdict"],
            )
        )
    print()
    print(json.dumps({"audit_parallel": rows}))


if __name__ == "__main__":
    main()
