"""bench.py's shared measuring devices, checked without Spark: the
interleaved sampler, the drift baseline, and the names tools/ take
from bench (a rename must fail here, not in a hand-run tool)."""

from __future__ import annotations

import ast
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _scripted(values: dict):
    """run(key) returning the next scripted value of the key (a scalar
    is returned every time), plus the log of calls in order."""
    calls: list[str] = []

    def run(key):
        calls.append(key)
        v = values[key]
        return v.pop(0) if isinstance(v, list) else v

    return run, calls


def test_sampler_interleaves_passes_after_an_untimed_warm_pass():
    run, calls = _scripted({"a": [9.0, 1.2, 1.0, 1.1], "b": [9.0, 2.0, 2.2, 2.1]})
    best, samples = bench.sample_interleaved(["a", "b"], run, passes=3)
    assert calls == ["a", "b"] * 4
    assert samples == {"a": [1.2, 1.0, 1.1], "b": [2.0, 2.2, 2.1]}
    assert best == {"a": 1.0, "b": 2.0}


def test_sampler_retries_only_keys_whose_max_is_twice_their_min():
    run, calls = _scripted(
        {"noisy": [3.0, 1.0, 0.9, 0.8], "clean": [1.0, 1.9], "edge": [1.0, 2.0, 1.5, 1.5]}
    )
    best, samples = bench.sample_interleaved(
        ["noisy", "clean", "edge"], run, passes=2, retries=2, warm=False
    )
    assert calls == ["noisy", "clean", "edge"] * 2 + ["noisy", "edge"] * 2
    assert samples["clean"] == [1.0, 1.9]
    assert best == {"noisy": 0.8, "clean": 1.0, "edge": 1.0}


def test_sampler_without_spread_takes_no_retry():
    run, calls = _scripted({"a": [1.0, 1.5], "b": [2.0, 2.5]})
    bench.sample_interleaved(["a", "b"], run, passes=2, retries=2, warm=False)
    assert calls == ["a", "b", "a", "b"]


def test_sampler_skips_none_and_done_keys():
    # "gone" times out on its second sample, "none" has nothing to run,
    # "heavy" is done after one 6s sample, "ok" needs both retries
    run, calls = _scripted(
        {
            "gone": [0.5, None],
            "none": None,
            "heavy": [6.0],
            "ok": [1.0, 3.0, 1.0, 1.0, 1.0],
        }
    )
    best, samples = bench.sample_interleaved(
        ["gone", "none", "heavy", "ok"],
        run,
        passes=3,
        retries=2,
        done=lambda s: s[0] >= 5.0,
        warm=False,
    )
    assert calls == ["gone", "none", "heavy", "ok", "gone", "ok", "ok", "ok", "ok"]
    assert samples == {"gone": [0.5], "none": [], "heavy": [6.0], "ok": [1.0, 3.0, 1.0, 1.0, 1.0]}
    assert best == {"heavy": 6.0, "ok": 1.0}


def test_sampler_drops_a_key_that_returns_none_on_the_warm_pass():
    run, calls = _scripted({"a": [0.1, 1.0], "b": None})
    best, samples = bench.sample_interleaved(["a", "b"], run, passes=1)
    assert calls == ["a", "b", "a"]
    assert best == {"a": 1.0}


def _write_artifact(path, sf, cpus=None):
    art = {
        "sf": sf,
        "queries": {"h1": 1.0, "h2": 1.0},
        "extended": {"e1": {"spark": 1.0}, "slow": {"spark": 1.0}},
        "scale_curve": {
            "1": {"queries": {"h1": 1.0, "h2": 1.0, "h3": 1.0, "lane_slow": 1.0}},
            "0.1": {"ratio": 2.0},
        },
    }
    if cpus is not None:
        art["cpus"] = cpus
    path.write_text(json.dumps(art))


def test_drift_compares_only_against_the_same_sf_and_cpus(tmp_path):
    full = tmp_path / "BENCH_FULL.json"
    cur = {"h1": 1.0, "h2": 1.0, "e1": 1.0, "slow": 5.0}
    lane = {"h1": 1.0, "h2": 1.0, "h3": 1.0, "lane_slow": 4.0}

    _write_artifact(full, 0.1, cpus=8)
    same = bench.drift_baseline(str(full), 0.1, 8)
    assert bench._lane_drift(cur, same["0.1-main"]) == (["slow"], 1.0)
    assert bench._lane_drift(lane, same["1"]) == (["lane_slow"], 1.0)

    other_cpus = bench.drift_baseline(str(full), 0.1, 4)
    assert other_cpus == {}
    assert bench._lane_drift(cur, other_cpus.get("0.1-main", {})) == ([], None)
    assert bench.drift_baseline(str(full), 1.0, 8) == {}

    _write_artifact(full, 0.1)  # an artifact that predates the cpus field
    assert bench.drift_baseline(str(full), 0.1, 8) == {}
    assert bench.drift_baseline(str(tmp_path / "absent.json"), 0.1, 8) == {}


def test_lane_drift_ignores_a_lane_wide_shift():
    prev = {"a": 1.0, "b": 1.0, "c": 1.0}
    assert bench._lane_drift({"a": 3.0, "b": 3.0, "c": 3.0}, prev) == ([], 3.0)
    # sub-second queries never flag
    assert bench._lane_drift({"a": 0.9, "b": 0.1, "c": 0.1}, {"a": 0.1, "b": 0.1, "c": 0.1})[0] == []


def test_tools_use_only_names_bench_defines():
    refs = []
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        where = os.path.basename(path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "bench"
            ):
                refs.append((where, node.lineno, node.attr))
            elif isinstance(node, ast.ImportFrom) and node.module == "bench":
                refs.extend((where, node.lineno, a.name) for a in node.names)
    assert refs, "no tool imports bench any more; drop this test"
    missing = [r for r in refs if not hasattr(bench, r[2])]
    assert not missing, f"tools reference names bench does not define: {missing}"
