"""Multi-scale parity sweep: the full registry against its oracles at
every scale point we have:

    sf0.001 / sf0.01 / sf0.1   (driver fixtures, /root/testdata)
    sf0.3   / sf1              (.scaledata, tools/gen_scale.py)

The `__spark_entry__.py` correctness gate runs at sf0.01 only. The
cross-engine bugs a sweep catches (fuzzy double ROUND at half
boundaries, negative zero, ulp drift in coupled recursions, HUGEINT
dtype reds, recall-floor breaks) are BOUNDARY classes: whether one
fires depends on whether any value in the dataset lands on a boundary,
so more data rolls more dice.

Each sf runs tools/check_parity.py in a FRESH subprocess (one Spark JVM
at a time — two local JVMs contend; and `__spark_entry__.py` is run
from a fresh process too) and reads the JSON summary it prints last.
Superlinear brute-force oracles outrun the oracle timeout at sf>=0.3
by design and count oracle-timeout, not failure. Writes
SWEEP_r{N}.json at the repo root: that summary per sf.

Usage: python tools/sweep_scales.py [round_number] [sf ...]
  round_number defaults to 0 (writes SWEEP_r0.json)
  sf args (e.g. 0.01 1) restrict the sweep; default runs all five.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
    "0.3": os.path.join(REPO, ".scaledata/sf0.3"),
    "1": os.path.join(REPO, ".scaledata/sf1"),
}


def ensure_scaledata(sf: str, path: str) -> bool:
    """Generate .scaledata dirs on demand (idempotent, seeded)."""
    if os.path.isdir(path):
        return True
    if not path.startswith(os.path.join(REPO, ".scaledata")):
        return False  # driver fixture missing — nothing we can do
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/gen_scale.py"), sf, path],
        check=True,
        cwd=REPO,
    )
    return True


def sweep_one(sf: str, path: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/check_parity.py"), path],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    last = (proc.stdout.splitlines() or [""])[-1]
    if not last.startswith("{"):
        raise SystemExit(f"check_parity at sf{sf} printed no summary:\n{proc.stderr[-2000:]}")
    return {"sf": sf, "rc": proc.returncode, **json.loads(last)}


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    wanted = sys.argv[2:] or list(SF_DIRS)
    results = []
    worst_rc = 0
    for sf in wanted:
        path = SF_DIRS[sf]
        if not ensure_scaledata(sf, path):
            print(f"SKIP sf{sf}: fixture dir missing ({path})")
            continue
        print(f"=== sweeping sf{sf} ({path}) ===", flush=True)
        r = sweep_one(sf, path)
        results.append(r)
        worst_rc = max(worst_rc, r["rc"])
        print(
            f"sf{sf}: {r['ok']} ok, {r['rows_only']} rows-only, "
            f"{r['oracle_timeout']} oracle-timeout, {r['failed']} failed",
            flush=True,
        )
        for name in r["non_ok"]["failed"]:
            print(f"  FAILED: {name}")
    out = os.path.join(REPO, f"SWEEP_r{rnd}.json")
    with open(out, "w") as f:
        json.dump({"round": rnd, "results": results}, f, indent=1)
    print(f"\nwrote {out}; overall {'CLEAN' if worst_rc == 0 else 'FAILURES'}")
    return worst_rc


if __name__ == "__main__":
    raise SystemExit(main())
