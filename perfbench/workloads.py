"""The benchmark's workloads, driven through the package's public
entry points only.

Both run as one closed-loop client: the next operation starts when the
previous one has returned. An operation is one landed file for
``ingest`` and one query for ``analytics``.

ingest     Four email-attachment-sized CTB files (three planted
           file-level failures and one clean file) plus one bulk file
           with row defects that carries most of the rows. A pass drains
           the set with ``run_landing_zone``, then drains a copy of the
           four small files with ``run_landing_zone_stream``.
analytics  Nine registry queries (headline and graph) over fixed
           generated tables, each built and run to the noop sink with
           the cache cleared; the seed sets the query order.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import pickle
import pkgutil
import random
import shutil
import time
from dataclasses import dataclass, field

import ctbgen
import oracle
import tablegen
from etl_data_ingestion_spark import catalog, operators
from etl_data_ingestion_spark.ingest import pipeline, runner, stream_runner
from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import CollectingNotifier
from etl_data_ingestion_spark.plans import registry
from cputime import steal_s, tree_cpu_s
from spans import Tracer, patched, span

# Nine queries, chosen so one run fits the run budget and still covers
# every layer: TPC-H scans, joins and aggregation, window, as-of join,
# the events table, a correlated subquery, the pandas-UDF query that
# dominates the headline (minhash), and a graph query whose builder
# runs eager jobs over the graph2 edge build (adamic-adar).
QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "window_running_total",
    "join_asof_purchase_view",
    "stream_tumbling_hourly",
    "subquery_correlated_avg_qty",
    "dedup_minhash_lsh",
    "graph_adamic_adar_topk",
]
# The analytics tables are fixed, like a warehouse fixture: every query
# matches its oracle on them. Some statistical queries (the IVF recall
# floor) and rounded float sums can legitimately differ on other draws.
TABLE_SEED = 42
TABLE_SF = 0.001
ORACLE_BUDGET_S = 60.0

SMALL_FILES = 4
SMALL_ROWS = 400
LARGE_ROWS = 5_000


@dataclass
class Pass:
    wall_s: float
    op_s: list[float]
    cpu_s: float  # CPU seconds of the whole process tree
    steal_s: float  # CPU seconds the hypervisor took, all CPUs
    traced: bool
    start: float  # epoch seconds
    end: float
    counts: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


class StampingNotifier(CollectingNotifier):
    """Collects notifications and the time each one was sent; the
    runners notify once per file, so the gaps are per-file times."""

    def __init__(self):
        super().__init__()
        self.stamps: list[float] = []

    def success(self, filename, inserted_rows):
        super().success(filename, inserted_rows)
        self.stamps.append(time.perf_counter())

    def error(self, context, details):
        super().error(context, details)
        self.stamps.append(time.perf_counter())

    def no_data(self, query):
        super().no_data(query)
        self.stamps.append(time.perf_counter())


def _gaps(t0: float, stamps: list[float]) -> list[float]:
    return [b - a for a, b in zip([t0] + stamps, stamps)]


def _dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a sink directory."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


class Ingest:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = os.path.join(work, "landing")
        self.stream_truths = ctbgen.generate(self.src, seed, SMALL_FILES, SMALL_ROWS)
        self.truths = self.stream_truths + ctbgen.generate(
            self.src, seed, 1, LARGE_ROWS, planted_failures=False, prefix="CTB_BULK")
        ctbgen.write_manifest(os.path.join(work, "manifest.json"), self.truths)
        self.input_bytes = sum(t.nbytes for t in self.truths)
        self.input_rows = sum(t.data_rows for t in self.truths)
        self.stream_files = sum(t.stream_visible for t in self.stream_truths)
        self.stream_input_bytes = sum(t.nbytes for t in self.stream_truths)
        self._n = 0

    def _stage(self, root: str, truths: list[ctbgen.FileTruth]) -> None:
        unprocessed = os.path.join(root, "Unprocessed")
        os.makedirs(unprocessed)
        for t in truths:
            shutil.copyfile(os.path.join(self.src, t.name),
                            os.path.join(unprocessed, t.name))

    def cold_pass(self, spark, outcome: Outcome) -> Pass:
        return self.run_pass(spark, outcome, None)

    def run_pass(self, spark, outcome: Outcome, tracer: Tracer | None) -> Pass:
        """Drain a fresh copy of the landing set with the batch runner
        and a copy of the small files with the streaming runner, then
        check both drains against the manifest (untimed)."""
        self._n += 1
        base = os.path.join(self.work, f"pass{self._n}")
        batch, stream = os.path.join(base, "batch"), os.path.join(base, "stream")
        self._stage(batch, self.truths)
        self._stage(stream, self.stream_truths)
        zone = LandingZone(spark, batch)
        zone.ensure_dirs()
        sinks = {
            k: ParquetWarehouseSink(os.path.join(base, k))
            for k in ("batch_wh", "batch_q", "stream_wh", "stream_q")
        }
        notes = [StampingNotifier(), StampingNotifier()]
        targets = self._trace_targets(zone, sinks, notes) if tracer else []
        start = time.time()
        with patched(targets, tracer):
            st0, c0 = steal_s(), tree_cpu_s()
            t0 = time.perf_counter()
            with span(tracer, "ingest.runner.run_landing_zone"):
                report = runner.run_landing_zone(
                    spark, zone, sinks["batch_wh"], sinks["batch_q"], notes[0])
            t1 = time.perf_counter()
            with span(tracer, "ingest.stream_runner.run_landing_zone_stream"):
                sreport = stream_runner.run_landing_zone_stream(
                    spark, os.path.join(stream, "Unprocessed"),
                    os.path.join(stream, "Archived"), os.path.join(stream, "ckpt"),
                    sinks["stream_wh"], sinks["stream_q"], notes[1])
            t2 = time.perf_counter()
            c2, st2 = tree_cpu_s(), steal_s()
        end = time.time()
        files_written = bytes_written = 0
        for k in ("batch_wh", "batch_q"):
            n, b = _dir_files(sinks[k].path)
            files_written += n
            bytes_written += b
        self._check(spark, outcome, report, notes[0], sinks["batch_wh"],
                    sinks["batch_q"], zone=batch, stream=False)
        self._check(spark, outcome, sreport, notes[1], sinks["stream_wh"],
                    sinks["stream_q"], zone=None, stream=True)
        shutil.rmtree(base, ignore_errors=True)
        return Pass(
            wall_s=t2 - t0,
            op_s=_gaps(t0, notes[0].stamps) + _gaps(t1, notes[1].stamps),
            cpu_s=c2 - c0, steal_s=st2 - st0,
            traced=tracer is not None, start=start, end=end,
            counts={
                "batch_s": t1 - t0, "stream_s": t2 - t1,
                "files_written": files_written, "bytes_written": bytes_written,
            },
        )

    @staticmethod
    def _trace_targets(zone, sinks, notes) -> list[tuple[object, str, str]]:
        targets = [
            (runner, "ingest_ctb_file", "ingest.pipeline.ingest_ctb_file"),
            (stream_runner, "ingest_ctb_file", "ingest.pipeline.ingest_ctb_file"),
            (pipeline, "read_raw_header", "ingest.pipeline.read_raw_header"),
            (zone, "list_unprocessed", "ingest.lifecycle.list"),
            (zone, "mark_processed", "ingest.lifecycle.move"),
            (zone, "mark_failed", "ingest.lifecycle.move"),
        ]
        for key, sink in sinks.items():
            kind = "warehouse_write" if key.endswith("_wh") else "quarantine_write"
            targets.append((sink, "write", f"ingest.sinks.{kind}"))
        for note in notes:
            for attr in ("success", "error", "no_data"):
                targets.append((note, attr, "notify"))
        return targets

    def _check(self, spark, outcome: Outcome, report, notifier, wh, q,
               zone: str | None, stream: bool) -> None:
        """Compare one drain with the manifest: each file is one op,
        and so is each sink's row count read back."""
        got = {o.path.rsplit("/", 1)[-1]: o for o in report.outcomes}
        noted: dict[str, list[str]] = {}
        for ev in notifier.events:
            noted.setdefault(ev.subject.rsplit(" - ", 1)[-1], []).append(ev.kind)
        drain = "stream" if stream else "batch"
        truths = self.stream_truths if stream else self.truths
        for t in truths:
            if stream and not t.stream_visible:
                continue
            o = got.get(t.name)
            ok = (
                o is not None
                and (o.state, o.valid_rows, o.quarantined_rows)
                == (t.state, t.valid_rows, t.quarantined_rows)
                and noted.get(t.name) == [t.notification]
            )
            if ok and zone is not None:
                moved = "Processed" if t.state == "processed" else "Failed"
                ok = os.path.exists(os.path.join(zone, moved, t.name))
            outcome.record(ok, f"{drain} {t.name}: got "
                           f"{o and (o.state, o.valid_rows, o.quarantined_rows)} "
                           f"notes {noted.get(t.name)}")
        # Row counts read back from the sinks, untimed. A sink that
        # got no rows may have written no file at all.
        for sink, want, what in (
            (wh, sum(t.valid_rows for t in truths), "warehouse"),
            (q, sum(t.quarantined_rows for t in truths), "quarantine"),
        ):
            have = (spark.read.parquet(sink.path).count()
                    if _dir_files(sink.path)[0] else 0)
            outcome.record(have == want, f"{drain} {what} rows {have} != {want}")


class Analytics:
    def __init__(self, work: str, seed: int, cache_dir: str):
        self.data = os.path.join(work, "tables")
        tablegen.generate(self.data, TABLE_SEED, TABLE_SF)
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.cache_dir = cache_dir
        self.collected: dict = {}
        self.oracle_s = 0.0
        self.unchecked = 0

    def cold_pass(self, spark, outcome: Outcome) -> Pass:
        return self.run_pass(spark, outcome, None, collect=True)

    def run_pass(self, spark, outcome: Outcome, tracer: Tracer | None,
                 collect: bool = False) -> Pass:
        """One pass over the query set. With ``collect`` each result is
        collected, for ``verify``, instead of being written to the noop
        sink."""
        targets = self._trace_targets() if tracer is not None else []
        op_s = []
        start = time.time()
        st0, c0 = steal_s(), tree_cpu_s()
        t0 = time.perf_counter()
        with patched(targets, tracer):
            for name in self.order:
                spark.catalog.clearCache()
                q0 = time.perf_counter()
                try:
                    if collect:
                        self.collected[name] = registry.QUERIES[name](
                            spark, self.data).toPandas()
                    elif tracer is None:
                        df = registry.QUERIES[name](spark, self.data)
                        df.write.mode("overwrite").format("noop").save()
                    else:
                        self._traced_query(spark, tracer, name)
                    ok, reason = True, None
                except Exception as e:  # one query's failure is one failed op
                    ok, reason = False, f"raised {type(e).__name__}: {str(e)[:200]}"
                op_s.append(time.perf_counter() - q0)
                if not (ok and collect):  # collected ones count in verify
                    outcome.record(ok, f"{name}: {reason}")
        t1 = time.perf_counter()
        return Pass(wall_s=t1 - t0, op_s=op_s, cpu_s=tree_cpu_s() - c0,
                    steal_s=steal_s() - st0, traced=tracer is not None,
                    start=start, end=time.time())

    def verify(self, outcome: Outcome) -> None:
        """Compare every collected result with its DuckDB oracle. Runs
        after Spark has stopped, outside every timer."""
        oracles = self._oracles()
        for name, got in self.collected.items():
            want = oracles.get(name, oracle.UNCHECKED)
            if isinstance(want, str):
                self.unchecked += 1
                reason = None
            else:
                reason = oracle.compare(got, want)
            outcome.record(reason is None, f"{name}: {reason}")

    def _oracles(self) -> dict:
        """Oracle results, computed once per table set and oracle text
        and cached on disk beside the run directories."""
        sql = {n: registry.ORACLES[n] for n in self.order if n in registry.ORACLES}
        key = hashlib.sha256(
            repr((TABLE_SEED, TABLE_SF, sorted(sql.items()))).encode()
        ).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"oracles-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        oracles, self.oracle_s = oracle.compute_oracles(
            self.data, list(catalog.TABLES), sql, ORACLE_BUDGET_S)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(oracles, f)
        os.replace(tmp, path)
        return oracles

    def _traced_query(self, spark, tracer: Tracer, name: str) -> None:
        """Build, plan and execute one query, each step in its span."""
        with tracer.span("query"):
            with tracer.span("plans.registry.build"):
                df = registry.QUERIES[name](spark, self.data)
            with tracer.span("spark.optimize"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute"):
                df.write.mode("overwrite").format("noop").save()

    @staticmethod
    def _trace_targets() -> list[tuple[object, str, str]]:
        """``load_table`` wherever an operator module binds it."""
        targets = [(catalog, "load_table", "catalog.load_table")]
        for info in pkgutil.iter_modules(operators.__path__):
            mod = importlib.import_module(f"{operators.__name__}.{info.name}")
            if "load_table" in vars(mod):
                targets.append((mod, "load_table", "catalog.load_table"))
        return targets


def make(name: str, work: str, seed: int, cache_dir: str):
    if name == "ingest":
        return Ingest(work, seed)
    if name == "analytics":
        return Analytics(work, seed, cache_dir)
    raise KeyError(name)

