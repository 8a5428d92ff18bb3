"""sparketl benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,analytics} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout. The run generates its inputs
from the seed, starts Spark on local[<cores>] through
``session.get_spark``, makes one cold pass over the inputs (set-up),
then repeats passes until ``--seconds`` have been measured. Every
operation's output is checked (ingest: against the generator's
manifest; analytics: against the DuckDB oracle on the cold pass).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from spans around the package's public calls
and from Spark's event log. A fuller record, with the environment,
goes to ``.perfbench_run/results/`` in the checkout.

Everything the run writes stays under ``.perfbench_run/`` in the
checkout, Spark's scratch space and the JVM's temp dir included.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_data_ingestion_spark"
DRIVER_MEMORY = "2g"
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "tasks_per_op": "count",
}
PER_LAYER = {
    "ingest.runner.drain_s": "s",
    "ingest.stream_runner.drain_s": "s",
    "ingest.stream_runner.overhead_s": "s",
    "ingest.pipeline.ingest_ctb_file_s": "s",
    "ingest.pipeline.read_raw_header_s": "s",
    "ingest.sinks.warehouse_write_s": "s",
    "ingest.sinks.quarantine_write_s": "s",
    "ingest.sinks.files_written": "count",
    "ingest.sinks.bytes_written_per_input_byte": "ratio",
    "ingest.lifecycle.list_s": "s",
    "ingest.lifecycle.move_s": "s",
    "notify.s": "s",
    "spark.ingest.jobs_per_file": "count",
    "spark.ingest.tasks_per_file": "count",
    "spark.ingest.input_read_amplification": "ratio",
    "plans.registry.build_s": "s",
    "plans.registry.eager_jobs": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "spark.optimize_s": "s",
    "spark.execute_s": "s",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_busy_share": "ratio",
    "functions.python_udf_s": "s",
    "engine.cpu_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm() -> None:
    """Restart this process's peak-RSS count, so input generation does
    not count toward ``peak_rss_mb``."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _source_digest() -> dict[str, str]:
    """Identity of the code under test: the git commit when the
    checkout is a repository, and a digest of the package sources."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        commit = "none"
    return {"git_commit": commit, "package_sha256": h.hexdigest()}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _net_of_steal(wall: float, cpu: float, steal: float) -> float:
    """Wall time less the hypervisor's share: steal accrues only on
    busy CPUs, so the busy CPUs (``cpu + steal`` over ``wall``) lost
    ``steal`` between them, and the run waited ``steal`` divided by
    their number."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(wl, passes, tracer, eventlog: str, cpus: int) -> dict[str, float]:
    from spans import read_eventlog, self_times, spark_work
    from workloads import Ingest

    m = {k: 0.0 for k in PER_LAYER}
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    ops = sum(len(p.op_s) for p in traced)
    spans = tracer.spans
    own = self_times(spans)

    def total(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def windows(name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in spans if s.name == name]

    jobs, stages = read_eventlog(eventlog)
    pass_windows = [(p.start, p.end) for p in traced]
    work = spark_work(jobs, stages, pass_windows)
    if isinstance(wl, Ingest):
        drains = len(traced)
        batch_files = drains * len(wl.truths)
        stream_name = "ingest.stream_runner.run_landing_zone_stream"
        stream = [s for s in spans if s.name == stream_name]
        m["ingest.runner.drain_s"] = total("ingest.runner.run_landing_zone") / drains
        m["ingest.stream_runner.drain_s"] = total(stream_name) / drains
        m["ingest.stream_runner.overhead_s"] = sum(own[s.id] for s in stream) / drains
        for key, name in (
            ("ingest.pipeline.ingest_ctb_file_s", "ingest.pipeline.ingest_ctb_file"),
            ("ingest.pipeline.read_raw_header_s", "ingest.pipeline.read_raw_header"),
            ("ingest.sinks.warehouse_write_s", "ingest.sinks.warehouse_write"),
            ("ingest.sinks.quarantine_write_s", "ingest.sinks.quarantine_write"),
            ("notify.s", "notify"),
        ):
            m[key] = total(name) / ops
        m["ingest.lifecycle.list_s"] = total("ingest.lifecycle.list") / drains
        m["ingest.lifecycle.move_s"] = total("ingest.lifecycle.move") / batch_files
        m["ingest.sinks.files_written"] = sum(p.counts["files_written"] for p in traced) / drains
        m["ingest.sinks.bytes_written_per_input_byte"] = (
            sum(p.counts["bytes_written"] for p in traced) / (drains * wl.input_bytes))
        m["spark.ingest.jobs_per_file"] = work["jobs"] / ops
        m["spark.ingest.tasks_per_file"] = work["tasks"] / ops
        m["spark.ingest.input_read_amplification"] = (
            work["input_bytes"] / (drains * (wl.input_bytes + wl.stream_input_bytes)))
    else:
        for key, name in (
            ("plans.registry.build_s", "plans.registry.build"),
            ("catalog.load_table_s", "catalog.load_table"),
            ("spark.optimize_s", "spark.optimize"),
            ("spark.execute_s", "spark.execute"),
        ):
            m[key] = total(name) / ops
        m["catalog.load_table_calls"] = len(windows("catalog.load_table")) / ops
        m["plans.registry.eager_jobs"] = (
            spark_work(jobs, stages, windows("plans.registry.build"))["jobs"] / ops)
        per_query = spark_work(jobs, stages, windows("query"))
        m["spark.jobs_per_query"] = per_query["jobs"] / ops
        m["spark.stages_per_query"] = per_query["stages"] / ops
        m["spark.tasks_per_query"] = per_query["tasks"] / ops
    m["spark.executor_run_s"] = work["executor_run_ms"] / 1e3 / ops
    m["spark.executor_cpu_s"] = work["executor_cpu_ns"] / 1e9 / ops
    m["spark.gc_s"] = work["gc_ms"] / 1e3 / ops
    m["spark.shuffle_read_bytes"] = work["shuffle_read_bytes"] / ops
    m["spark.shuffle_write_bytes"] = work["shuffle_write_bytes"] / ops
    m["spark.spill_bytes"] = work["spill_bytes"] / ops
    m["spark.executor_busy_share"] = work["executor_run_ms"] / 1e3 / (
        sum(p.wall_s for p in traced) * cpus)
    m["functions.python_udf_s"] = work["python_run_ms"] / 1e3 / ops
    m["engine.cpu_s"] = sum(p.cpu_s for p in traced) / ops
    m["trace.pass_s"] = _median([p.wall_s for p in traced])
    m["trace.overhead_s"] = m["trace.pass_s"] - _median([p.wall_s for p in plain])
    return m


def run(args: argparse.Namespace) -> dict:
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    try:
        return _run(args, cpus, base, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, cpus: int, base: str, work: str,
         results: str) -> dict:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    # Keep every scratch file of Spark, the JVM and Python in the run dir.
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # every JVM, spark-submit's launcher included: temp files here,
        # and no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    import workloads
    from cputime import steal_s, tree_cpu_s
    from spans import Tracer, read_eventlog, spark_work

    t_gen = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed, os.path.join(base, "cache"))
    gen_s = time.perf_counter() - t_gen
    _reset_hwm()

    # Spark's event log is the source of the job and task counts, so
    # it is on in both kinds of run.
    eventlog = os.path.join(work, "eventlog")
    os.makedirs(eventlog)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + eventlog,
        "spark.eventLog.compress": "false",
    }

    outcome = workloads.Outcome()
    st_setup, c_setup = steal_s(), tree_cpu_s()
    t_setup = time.perf_counter()
    from etl_data_ingestion_spark.plans import registry
    from etl_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        registry.load_all()
        started_s = time.perf_counter() - t_setup
        cold = wl.cold_pass(spark, outcome)
        setup_wall_s = time.perf_counter() - t_setup
        setup_cpu_s = tree_cpu_s() - c_setup
        setup_steal_s = steal_s() - st_setup

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
        passes = []
        t0 = time.perf_counter()
        # A traced run alternates traced and plain passes (traced
        # first) so the difference between them is the span overhead.
        while (not passes or time.perf_counter() - t0 < args.seconds
               or (args.trace and len(passes) < 2)):
            use = tracer if (args.trace and len(passes) % 2 == 0) else None
            passes.append(wl.run_pass(spark, outcome, use))
        env = {
            "cpus": cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "seed": args.seed,
            "workload": args.workload,
            "trace": args.trace,
            **_source_digest(),
        }
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = _vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")
    finally:
        _stop_spark(spark)
    if isinstance(wl, workloads.Analytics):
        wl.verify(outcome)

    measured = [p for p in passes if not p.traced]
    detail: dict[str, float] = {
        "passes": len(passes),
        "op_fail_share": outcome.failed / max(outcome.attempted, 1),
        # not a bounded metric: JVM heap growth makes it vary by a
        # fifth or more between identical runs
        "peak_rss_mb": peak_kb / 1024.0,
        # Wall and CPU times. Not bounded metrics: other tenants of the
        # host move them by a third or more between identical runs.
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "setup_steal_s": setup_steal_s,
        "spark_start_s": started_s,
        "pass_s": _median([p.wall_s for p in measured]),
        "pass_net_of_steal_s": _median(
            [_net_of_steal(p.wall_s, p.cpu_s, p.steal_s) for p in measured]),
        "pass_cpu_s": _median([p.cpu_s for p in measured]),
        "pass_steal_s": _median([p.steal_s for p in measured]),
        "op_geomean_s": _geomean([t for p in measured for t in p.op_s]),
        "inputs_s": gen_s,
    }
    if args.trace:
        metrics = _layer_metrics(wl, passes, tracer, eventlog, cpus)
        tracer.write(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        jobs, stages = read_eventlog(eventlog)
        work_done = spark_work(jobs, stages, [(p.start, p.end) for p in measured])
        ops = sum(len(p.op_s) for p in measured)
        metrics = {
            "setup_s": _net_of_steal(setup_wall_s, setup_cpu_s, setup_steal_s),
            "jobs_per_op": work_done["jobs"] / ops,
            "tasks_per_op": work_done["tasks"] / ops,
        }
        if isinstance(wl, workloads.Ingest):
            batch = _median([p.counts["batch_s"] for p in measured])
            detail.update(
                files_per_s=len(wl.truths) / batch,
                rows_per_s=wl.input_rows / batch,
                stream_files_per_s=wl.stream_files
                / _median([p.counts["stream_s"] for p in measured]),
            )
        else:
            detail.update(
                query_geomean_s=detail["op_geomean_s"],
                oracle_s=wl.oracle_s,
                oracles_unchecked=wl.unchecked,
            )
    units = PER_LAYER if args.trace else END_TO_END
    record = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    full = dict(record, env=env, detail=detail, failures=outcome.failures,
                cold_op_s=cold.op_s, pass_s=[p.wall_s for p in passes],
                op_s=[p.op_s for p in passes])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(full, f, indent=1)
    print("perfbench env " + json.dumps(env, sort_keys=True))
    print("perfbench detail " + json.dumps(detail, sort_keys=True))
    for line in outcome.failures:
        print("perfbench failure " + line)
    return record


def _give_up(signum, frame) -> None:
    """Past the time limit: kill the JVM (its Python workers follow)
    and exit without a result."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    print(f"perfbench: no result within {RUN_LIMIT_S} s", file=sys.stderr)
    os._exit(3)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from a source checkout", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: pyspark is required: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _give_up)
    signal.alarm(RUN_LIMIT_S)
    record = run(args)
    signal.alarm(0)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
