"""Structured Streaming tests: the SAME transformations the registry
oracle-checks in batch mode, here driven incrementally via readStream
over the events fixture with a memory sink (complete/append modes),
plus watermarked dedup.
"""

from __future__ import annotations

import pytest

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.streaming import (
    dedup_first_event,
    session_aggregate,
    sessionize_stateful,
    tumbling_counts,
)


@pytest.fixture()
def events_stream(spark, sf_dir, tmp_path):
    # re-write the fixture as us-timestamps so readStream gets a plain
    # timestamp schema (the raw fixture is ns, see catalog.load_table)
    batch = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "stream_src")
    batch.write.parquet(src)
    return (
        spark.readStream.schema(batch.schema).parquet(src),
        batch,
    )


def run_to_completion(spark, df, name, mode):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark, events_stream):
    stream_df, batch_df = events_stream
    got = run_to_completion(
        spark, tumbling_counts(stream_df), "tumbling_out", "complete"
    )
    expected = tumbling_counts(batch_df)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_session_stream_matches_batch(spark, events_stream):
    stream_df, batch_df = events_stream
    got = run_to_completion(
        spark, session_aggregate(stream_df), "session_out", "complete"
    )
    expected = session_aggregate(batch_df)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_dedup_stream_bounded_state(spark, events_stream):
    stream_df, batch_df = events_stream
    got = run_to_completion(
        spark, dedup_first_event(stream_df), "dedup_out", "append"
    )
    # streaming keeps arrival-order first; with one availableNow batch
    # over a sorted parquet the kept set of KEYS must equal batch mode's
    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in dedup_first_event(batch_df).collect()
    }
    got_keys = {(r["user_id"], r["event_type"]) for r in got.collect()}
    assert got_keys == batch_keys
    assert got.count() == len(batch_keys)


def test_streaming_is_streaming(spark, events_stream):
    stream_df, _ = events_stream
    assert stream_df.isStreaming
    assert tumbling_counts(stream_df).isStreaming


def test_stateful_sessionize(spark, events_stream):
    """applyInPandasWithState session tracker vs batch gaps-and-islands.

    Sessions CLOSED by a gap transition must all be emitted; each
    user's final session may or may not also appear depending on
    whether the post-batch watermark advance fires its event-time
    timeout — so assert closed ⊆ emitted ⊆ all."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    stream_df, batch_df = events_stream
    got = run_to_completion(
        spark, sessionize_stateful(stream_df, gap_minutes=30), "stateful_out", "append"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    flagged = batch_df.withColumn(
        "new_s",
        F.when(
            prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1
        ).otherwise(0),
    ).withColumn("session_id", F.sum("new_s").over(wsum))
    sessions = (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last_per_user = sessions.groupBy("user_id").agg(
        F.max("session_id").alias("last_id")
    )
    key = lambda rows: {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in rows
    }
    all_sessions = key(sessions.collect())
    closed = key(
        sessions.join(last_per_user, "user_id")
        .filter(F.col("session_id") != F.col("last_id"))
        .collect()
    )
    emitted = key(got.collect())
    assert closed, "fixture must contain closed sessions"
    assert closed <= emitted <= all_sessions


def test_streaming_landing_zone_exactly_once(spark, tmp_path):
    """Streaming runner (SURVEY §7.2 step 5): checkpointed file
    consumption + cleanSource=archive. A file is ingested exactly once
    across TWO drain cycles (the reference's O5 label-commit gap is
    closed: re-running does NOT double-ingest), and the consumed file
    leaves the watch dir."""
    import os

    from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
    from etl_data_ingestion_spark.ingest.stream_runner import run_landing_zone_stream
    from etl_data_ingestion_spark.notify import CollectingNotifier

    from tests.test_ingest_ctb import header_line, row

    unproc = tmp_path / "Unprocessed"
    unproc.mkdir()
    (unproc / "CTB_stream.tsv").write_text(header_line() + "\n" + row() + "\n")

    wh = ParquetWarehouseSink(str(tmp_path / "wh"))
    qr = ParquetWarehouseSink(str(tmp_path / "quar"))
    notifier = CollectingNotifier()
    args = (
        spark,
        str(unproc),
        str(tmp_path / "Archived"),
        str(tmp_path / "ckpt"),
        wh,
        qr,
        notifier,
    )
    report1 = run_landing_zone_stream(*args)
    assert [o.state for o in report1.outcomes] == ["processed"]
    assert report1.total_inserted == 1

    report2 = run_landing_zone_stream(*args)  # second drain: nothing new
    assert report2.outcomes == []
    assert spark.read.parquet(str(tmp_path / "wh")).count() == 1  # exactly once
    # cleanSource archival is asynchronous/best-effort in Spark; the
    # consumed file is either already archived or still present but
    # checkpointed-as-consumed (never re-ingested, asserted above)
    assert os.listdir(str(unproc)) in ([], ["CTB_stream.tsv"])


def test_stream_stream_interval_join(spark, events_stream):
    """Watermarked stream-stream interval join vs the identical batch
    join: same (purchase, view) pair set. Both sides watermarked at 1h
    with a 30-minute interval bound — the condition pair that lets the
    join state evict."""
    from etl_data_ingestion_spark.streaming import purchase_view_interval_join

    stream_df, batch_df = events_stream
    sp = stream_df.filter("event_type = 'purchase'")
    sv = stream_df.filter("event_type = 'view'")
    got = run_to_completion(
        spark,
        purchase_view_interval_join(sp, sv),
        "ss_join_out",
        "append",
    )
    bp = batch_df.filter("event_type = 'purchase'")
    bv = batch_df.filter("event_type = 'view'")
    expected = purchase_view_interval_join(bp, bv)
    key = lambda rows: {(r["p_id"], r["v_id"]) for r in rows}
    got_pairs, exp_pairs = key(got.collect()), key(expected.collect())
    assert exp_pairs, "fixture must produce join pairs"
    assert got_pairs == exp_pairs


def test_stream_upsert_matches_batch_upsert(spark, tmp_path):
    """foreachBatch keep-latest MERGE: streaming the events in
    micro-batches into the upsert sink must end at exactly the state
    the batch warehouse_upsert_latest computes — per-key latest rows,
    regardless of how the stream was chopped into batches."""
    import pyspark.sql.functions as F

    from etl_data_ingestion_spark.streaming.upsert import (
        current_state_path,
        latest_per_key,
        run_stream_upsert,
    )

    from etl_data_ingestion_spark.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    events.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_stream_upsert(
        spark,
        stream,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    state_path = current_state_path(str(tmp_path / "state"))
    assert state_path is not None, "pointer file must name a committed state"
    got = spark.read.parquet(state_path)
    want = latest_per_key(events)
    assert got.count() == want.count()
    diff = got.select("user_id", "event_id").exceptAll(
        want.select("user_id", "event_id")
    )
    assert diff.count() == 0


def test_watermark_drops_late_window_update(spark, tmp_path):
    """A genuinely late row (behind the watermark by more than the
    delay when its micro-batch runs) must be DROPPED from the windowed
    aggregate: the finalized window emits WITHOUT it. This is the real
    withWatermark behavior that stream_late_data_accounting's batch
    analogue sizes the delay for."""
    import datetime as dt

    import pyspark.sql.functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, "id long, ts timestamp")

    src = str(tmp_path / "wm_src")
    # batch 1: two on-time events; max event time base+2h, so the
    # watermark for the NEXT batch is base+1h30m
    mk([(1, base), (2, base + dt.timedelta(hours=2))]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop")
        .start()
    )
    q.processAllAvailable()

    # batch 2: one LATE row targeting the [base, base+1h) window
    # (ts < watermark base+1h30m) and one fresh row that advances
    # the watermark further
    mk(
        [
            (3, base + dt.timedelta(minutes=10)),
            (4, base + dt.timedelta(hours=2, minutes=10)),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    emitted = {r.wstart: r.n for r in spark.table("wm_drop").collect()}
    # the [base, base+1h) window finalized with ONLY event 1 —
    # late event 3 was dropped, not merged
    assert emitted.get(base) == 1, emitted


def test_stateful_ewma_stream_matches_batch_fold(spark, tmp_path):
    """The streaming EWMA's carried state must reproduce the batch
    fold exactly when the stream replays a time-ordered log: source
    files are landed in event-time order (the layout the
    time-partitioned event-log writer produces) and consumed one per
    trigger, so each micro-batch extends the recursion where the last
    one stopped."""
    import pandas as pd
    import pyspark.sql.functions as F

    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.streaming import ewma_stateful

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # land as 3 time-ordered files (thirds of the time range)
    rows = events.orderBy("ts", "event_id").collect()
    src = str(tmp_path / "src")
    third = len(rows) // 3
    schema = events.schema
    for i, lo in enumerate([0, third, 2 * third]):
        hi = len(rows) if i == 2 else lo + third
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = (
        ewma_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table("ewma_out").toPandas()
    # last emitted row per key = final state
    final = {
        r.event_type: (r.ewma_value, r.n_events)
        for _, r in out.sort_values("n_events").iterrows()
    }

    # batch fold in the same (ts, event_id) order
    pdf = pd.DataFrame([r.asDict() for r in rows])
    for etype, grp in pdf.groupby("event_type"):
        y = None
        for v in grp.sort_values(["ts", "event_id"])["value"]:
            y = float(v) if y is None else 0.5 * float(v) + 0.5 * y
        got_y, got_n = final[etype]
        assert got_n == len(grp)
        assert abs(got_y - y) < 1e-9, (etype, got_y, y)


def test_stateful_transitions_stream_matches_batch_lead(spark, tmp_path):
    """Streaming transition pairs (state-carried across micro-batches)
    must equal the batch LEAD pairing over the same time-ordered
    events — INCLUDING the pairs that span batch boundaries, which a
    per-batch LEAD would drop."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.streaming import transitions_stateful

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    rows = events.orderBy("ts", "event_id").collect()
    src = str(tmp_path / "src")
    third = len(rows) // 3
    for i, lo in enumerate([0, third, 2 * third]):
        hi = len(rows) if i == 2 else lo + third
        spark.createDataFrame(rows[lo:hi], events.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        transitions_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.table("trans_out")
        .groupBy("from_type", "to_type")
        .count()
        .collect()
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        events.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .count()
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sum(r["count"] for r in got) > 0


def test_static_enrichment_stream_matches_batch(spark, events_stream, sf_dir):
    from etl_data_ingestion_spark.streaming.windows import (
        static_enriched_spend,
    )

    stream_df, batch_df = events_stream
    customer = load_table(spark, sf_dir, "customer")
    got = run_to_completion(
        spark,
        static_enriched_spend(stream_df, customer),
        "static_enrich_out",
        "complete",
    )
    expected = static_enriched_spend(batch_df, customer)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_transform_with_state_spend_tracker_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor): run the
    per-user spend tracker over the stream in micro-batches; the LAST
    emitted row per user must equal the one-shot batch aggregate.
    Requires google.protobuf (the state-server protocol runtime) —
    skipped in containers without it, exactly like the gmail tests."""
    pytest.importorskip("google.protobuf")
    from etl_data_ingestion_spark.streaming.spend_tracker import (
        batch_totals,
        track_spend,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    batch = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    src = str(tmp_path / "spend_src")
    # several files -> several micro-batches with maxFilesPerTrigger
    batch.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        track_spend(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("spend_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "spend_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    out = spark.table("spend_out")
    # last emission per user = the one with the max total_events
    w = Window.partitionBy("user_id").orderBy(F.desc("total_events"))
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "total_events", "total_value", "max_value")
    )
    expected = batch_totals(batch)
    got = {r.user_id: r for r in final.collect()}
    want = {r.user_id: r for r in expected.collect()}
    assert set(got) == set(want)
    for uid, g in got.items():
        wrow = want[uid]
        assert g.total_events == wrow.total_events, uid
        assert abs(g.total_value - wrow.total_value) < 0.05, uid
        assert g.max_value == wrow.max_value, uid


def test_spend_tracker_processor_logic_with_injected_state():
    """Unit-test the StatefulProcessor against an injected state
    handle (no protobuf needed): carried totals accumulate across
    handleInputRows calls exactly like the batch aggregate."""
    import pandas as pd

    from etl_data_ingestion_spark.streaming.spend_tracker import SpendTracker

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema):
            return self.state

    t = SpendTracker()
    t.init(FakeHandle())
    out1 = list(
        t.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [1.5, 2.5]})]), None
        )
    )[0]
    assert out1.total_events[0] == 2 and out1.total_value[0] == 4.0
    out2 = list(
        t.handleInputRows((7,), iter([pd.DataFrame({"value": [6.0]})]), None)
    )[0]
    assert out2.batch_events[0] == 1
    assert out2.total_events[0] == 3
    assert out2.total_value[0] == 10.0
    assert out2.max_value[0] == 6.0


def test_windowed_topk_stream_matches_batch(spark, events_stream):
    from etl_data_ingestion_spark.streaming import rank_topk, windowed_topk

    stream_df, batch_df = events_stream
    finalized = run_to_completion(
        spark, windowed_topk(stream_df), "topk_counts_out", "complete"
    )
    got = rank_topk(finalized, 3).orderBy("window_start", "rnk").collect()
    want = windowed_topk(batch_df, 3).orderBy("window_start", "rnk").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r.rnk <= 3 for r in got)


def test_streaming_landing_zone_zero_byte_file(spark, tmp_path):
    """A 0-byte file gives the file stream no row, but the source still
    logs it, so the streaming runner fails it as the batch runner does:
    a failed outcome and the same error notification. cleanSource
    archives it with the rest of its batch once the next batch starts."""
    import os
    import time

    from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
    from etl_data_ingestion_spark.ingest.stream_runner import run_landing_zone_stream
    from etl_data_ingestion_spark.notify import CollectingNotifier

    from tests.test_ingest_ctb import header_line, row

    unproc = tmp_path / "Unprocessed"
    unproc.mkdir()
    (unproc / "CTB_zero.tsv").write_bytes(b"")
    (unproc / "CTB_ok.tsv").write_text(header_line() + "\n" + row() + "\n")
    notifier = CollectingNotifier()
    args = (
        spark, str(unproc), str(tmp_path / "Archived"), str(tmp_path / "ckpt"),
        ParquetWarehouseSink(str(tmp_path / "wh")),
        ParquetWarehouseSink(str(tmp_path / "quar")),
        notifier,
    )

    def archived():
        return sorted(f for _, _, fs in os.walk(tmp_path / "Archived") for f in fs)

    report = run_landing_zone_stream(*args)
    zero_path = f"file:{unproc}/CTB_zero.tsv"
    empty = f"CTB file '{zero_path}' is empty or has no data rows."
    assert [(o.path.rsplit("/", 1)[-1], o.state, o.error) for o in report.outcomes] == [
        ("CTB_ok.tsv", "processed", None),
        ("CTB_zero.tsv", "failed", empty),
    ]
    assert [(e.kind, e.subject.rsplit(" - ", 1)[-1]) for e in notifier.events] == [
        ("success", "CTB_ok.tsv"), ("error", "CTB_zero.tsv"),
    ]
    assert notifier.events[1].body == empty

    (unproc / "CTB_next.tsv").write_text(header_line() + "\n" + row() + "\n")
    report = run_landing_zone_stream(*args)  # starts batch 1: batch 0 is archived
    assert [o.path.rsplit("/", 1)[-1] for o in report.outcomes] == ["CTB_next.tsv"]
    assert [e.subject.rsplit(" - ", 1)[-1] for e in notifier.events] == [
        "CTB_ok.tsv", "CTB_zero.tsv", "CTB_next.tsv",
    ]
    deadline = time.monotonic() + 30
    while archived() != ["CTB_ok.tsv", "CTB_zero.tsv"] and time.monotonic() < deadline:
        time.sleep(0.2)
    assert archived() == ["CTB_ok.tsv", "CTB_zero.tsv"]
    assert os.listdir(unproc) == ["CTB_next.tsv"]


def test_logged_paths_read_the_file_source_log(spark, tmp_path):
    """``logged_paths`` gives each micro-batch the paths its frame
    holds, spelled as the ``binaryFile`` path column spells them, across
    the compacted ``9.compact`` entry, for a name with a space and a
    ``%``, and for a 0-byte file the frame has no row for. A batch with
    no log entry, and a log of another version, raise."""
    from etl_data_ingestion_spark.ingest.stream_runner import (
        BINARY_FILE_SCHEMA,
        logged_paths,
    )

    src = tmp_path / "landing"
    src.mkdir()
    names = [f"CTB_{i:02d}.tsv" for i in range(12)] + ["CTB a%b.tsv", "CTB_zero.tsv"]
    for name in names:
        (src / name).write_text("" if name == "CTB_zero.tsv" else "a\tb\n1\t2\n")
    zero = f"file:{src}/CTB_zero.tsv"
    ckpt = str(tmp_path / "ckpt")
    batches = []

    def record(batch_df, batch_id):
        batches.append((
            batch_id,
            logged_paths(spark, ckpt, batch_id),
            sorted(r.path for r in batch_df.collect()),
        ))

    q = (
        spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1).load(str(src))
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [b for b, _, _ in batches] == list(range(len(names)))
    assert (tmp_path / "ckpt" / "sources" / "0" / "9.compact").exists()
    assert not (tmp_path / "ckpt" / "sources" / "0" / "9").exists()
    for _, logged, rows in batches:
        assert len(logged) == 1
        assert [p for p in logged if p != zero] == rows
    assert sorted(p for _, logged, _ in batches for p in logged) == sorted(
        f"file:{src}/{name}" for name in names
    )

    with pytest.raises(FileNotFoundError):
        logged_paths(spark, ckpt, len(names))
    log_dir = tmp_path / "v2" / "sources" / "0"
    log_dir.mkdir(parents=True)
    (log_dir / "0").write_text(
        'v2\n{"path":"file:///x.tsv","timestamp":0,"batchId":0}\n'
    )
    with pytest.raises(ValueError, match="v2"):
        logged_paths(spark, str(tmp_path / "v2"), 0)


def test_stream_jobs_per_file_kind(spark, tmp_path, monkeypatch):
    """A micro-batch of every file kind runs, under the query's job
    group, the two jobs the batch drain of the same files runs (as
    ``test_runner.py::test_jobs_per_file_kind``): one warehouse append
    and one quarantine append. No job runs before the batch's files are
    processed: the arrival log is read on the driver."""
    from etl_data_ingestion_spark.ingest import stream_runner
    from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
    from etl_data_ingestion_spark.notify import CollectingNotifier

    from tests.test_runner import FILE_KINDS, land_kinds

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    unproc = tmp_path / "Unprocessed"
    unproc.mkdir()
    land_kinds(unproc)

    group = []

    def group_jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group[0]))

    jobs = []
    process_files = stream_runner.process_files

    def count_jobs(spark, paths, *args, **kwargs):
        if not group:
            group.append(sc.getLocalProperty("spark.jobGroup.id"))
        before = group_jobs()
        jobs.append(("before", len(before)))
        try:
            return process_files(spark, paths, *args, **kwargs)
        finally:
            jobs.append((len(paths), len(group_jobs() - before)))

    monkeypatch.setattr(stream_runner, "process_files", count_jobs)
    report = stream_runner.run_landing_zone_stream(
        spark, str(unproc), str(tmp_path / "Archived"), str(tmp_path / "ckpt"),
        ParquetWarehouseSink(str(tmp_path / "wh")),
        ParquetWarehouseSink(str(tmp_path / "q")),
        CollectingNotifier(),
    )
    assert [o.state for o in report.outcomes] == [
        "processed", "processed", "failed", "failed", "failed",
    ]
    assert group[0]
    assert jobs == [("before", 0), (len(FILE_KINDS), 2)]
    assert len(group_jobs()) == 2
