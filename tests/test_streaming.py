"""Structured Streaming: file source -> watermarked windows / session
windows -> sink, drained with availableNow (the streaming twin of one
daily batch run). Results are checked against the equivalent batch
computation on the same data — streaming and batch must agree."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cliqz_etl_spark.streaming.jobs import (
    read_event_stream,
    run_to_memory,
    run_to_parquet,
    session_rollup,
    windowed_event_counts,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def _write_events(path: str) -> None:
    rows = [
        # user 1: two sessions (gap > 30 min between e2 and e3)
        (1, "2024-01-01T10:00:00", 1, "click", 1.0),
        (2, "2024-01-01T10:10:00", 1, "view", 2.0),
        (3, "2024-01-01T11:30:00", 1, "click", 3.0),
        # user 2: one session, crosses the hour boundary
        (4, "2024-01-01T10:55:00", 2, "purchase", 10.0),
        (5, "2024-01-01T11:05:00", 2, "click", 4.0),
    ]
    with open(f"{path}/events.json", "w") as f:
        for eid, ts, uid, et, v in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                "event_type": et, "value": v}) + "\n")


def test_windowed_counts_match_batch(spark):
    src = tempfile.mkdtemp()
    _write_events(src)
    stream = read_event_stream(spark, src, EVENT_SCHEMA)
    assert stream.isStreaming
    # complete mode: availableNow drains one batch and stops, so append
    # mode would hold every window open behind the watermark forever
    run_to_memory(windowed_event_counts(stream, "1 hour"), "win_counts", mode="complete")
    got = {(str(r["window_start"]), r["event_type"]): r["n_events"]
           for r in spark.table("win_counts").collect()}
    batch = spark.read.schema(EVENT_SCHEMA).json(src)
    want = {
        (str(r["w"]["start"]), r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # 4 groups: both users' 11:00 clicks merge into one window row
    assert got == want and len(got) == 4


def test_session_window_gap_semantics(spark):
    src = tempfile.mkdtemp()
    _write_events(src)
    stream = read_event_stream(spark, src, EVENT_SCHEMA)
    run_to_memory(session_rollup(stream, "30 minutes"), "sessions", mode="complete")
    rows = sorted(
        ((r["user_id"], r["n_events"], r["session_value"])
         for r in spark.table("sessions").collect())
    )
    # user 1 splits at the >30min gap; user 2's hour-crossing pair stays one
    # session (session windows follow the gap, not clock-hour boundaries)
    assert rows == [(1, 1, 3.0), (1, 2, 3.0), (2, 2, 14.0)]


def test_streaming_parquet_sink_matches_batch_layout(spark):
    src, out, ckpt = tempfile.mkdtemp(), tempfile.mkdtemp(), tempfile.mkdtemp()
    _write_events(src)
    stream = read_event_stream(spark, src, EVENT_SCHEMA)
    enriched = stream.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    run_to_parquet(enriched, f"{out}/events", f"{ckpt}/cp", partition_by="day")
    back = spark.read.parquet(f"{out}/events")
    assert back.count() == 5
    assert sorted(str(r["day"]) for r in back.select("day").distinct().collect()) == ["2024-01-01"]


def test_apply_in_pandas_with_state_running_counts(spark):
    """Custom stateful operator: per-user running event counts kept in the
    state store across micro-batches (applyInPandasWithState) — the escape
    hatch when windowed/session aggregations can't express the state
    machine. Two waves verify state survives between batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = tempfile.mkdtemp()

    def write_wave(fname, rows):
        with open(f"{src}/{fname}", "w") as f:
            for eid, ts, uid, et, v in rows:
                f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                    "event_type": et, "value": v}) + "\n")

    def running_count(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    def drain():
        stream = read_event_stream(spark, src, EVENT_SCHEMA)
        counted = stream.groupBy("user_id").applyInPandasWithState(
            running_count,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        out: list = []
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and recovery is exactly what carries state to wave 2
        (counted.writeStream.foreachBatch(
            lambda bdf, _id: out.extend(bdf.collect()))
         .outputMode("update").option("checkpointLocation", f"{src}/_cp")
         .trigger(availableNow=True).start().awaitTermination())
        return {r["user_id"]: r["n_events"] for r in out}

    write_wave("w1.json", [(1, "2024-01-01T10:00:00", 1, "click", 1.0),
                           (2, "2024-01-01T10:05:00", 1, "view", 2.0),
                           (3, "2024-01-01T10:06:00", 2, "click", 3.0)])
    got1 = drain()
    assert got1 == {1: 2, 2: 1}
    # wave 2: state must carry totals forward via the checkpoint
    write_wave("w2.json", [(4, "2024-01-01T11:00:00", 1, "purchase", 4.0)])
    got2 = drain()
    assert got2 == {1: 3}  # update mode emits only changed groups


def test_exact_gap_boundary_merges_everywhere(spark):
    """Boundary semantics pinned by measurement: an inter-event gap of
    EXACTLY 1800 s MERGES into the same session in Spark's native
    session_window (windows [t, t+gap] chain when they touch) — and the
    lag+cumsum sessionizer and its DuckDB oracle use the matching strict
    `gap > 1800` split rule. A gap of 1801 s splits. All three
    implementations must agree on both sides of the boundary."""
    from cliqz_etl_spark.queries.sessions import with_session_seq

    rows = [
        (1, "2024-01-01T10:00:00", 7, "click", 1.0),
        (2, "2024-01-01T10:30:00", 7, "view", 1.0),   # gap == 1800 s -> merges
        (3, "2024-01-01T11:00:01", 7, "click", 1.0),  # gap 1801 s -> new session
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "event_type", "value"]) \
        .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
                "user_id", "event_type", "value")
    seqs = sorted(r["session_seq"] for r in with_session_seq(df).collect())
    assert seqs == [1, 1, 2]
    native = (df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
              .agg(F.count(F.lit(1)).alias("n")).collect())
    assert sorted(r["n"] for r in native) == [1, 2]
    src = tempfile.mkdtemp()
    with open(f"{src}/events.json", "w") as f:
        for eid, ts, uid, et, v in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                "event_type": et, "value": v}) + "\n")
    run_to_memory(session_rollup(read_event_stream(spark, src, EVENT_SCHEMA)),
                  "boundary_sessions", mode="complete")
    assert sorted(r["n_events"] for r in spark.table("boundary_sessions").collect()) == [1, 2]


def test_dedup_stream_drops_redelivered_events(spark):
    from cliqz_etl_spark.streaming.jobs import dedup_stream

    src = tempfile.mkdtemp()
    _write_events(src)
    doubled = (read_event_stream(spark, src, EVENT_SCHEMA)
               .unionByName(read_event_stream(spark, src, EVENT_SCHEMA)))
    run_to_memory(dedup_stream(doubled), "dedup_out", mode="append")
    got = spark.table("dedup_out")
    assert got.count() == 5
    assert got.select("event_id").distinct().count() == 5


def test_stream_stream_join_matches_batch(spark):
    from cliqz_etl_spark.streaming.jobs import click_purchase_join

    src = tempfile.mkdtemp()
    rows = [
        (1, "2024-01-01T10:00:00", 1, "click", 1.0),     # 3540 s before p -> in window
        (2, "2024-01-01T08:00:00", 1, "click", 1.0),     # 2 h before -> outside lookback
        (3, "2024-01-01T10:59:00", 1, "purchase", 9.0),
        (4, "2024-01-01T11:30:00", 1, "click", 1.0),     # after purchase -> excluded
        (5, "2024-01-01T10:58:00", 2, "click", 1.0),     # other user -> excluded
    ]
    with open(f"{src}/events.json", "w") as f:
        for eid, ts, uid, et, v in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                "event_type": et, "value": v}) + "\n")
    clicks = read_event_stream(spark, src, EVENT_SCHEMA).where(F.col("event_type") == "click")
    purchases = read_event_stream(spark, src, EVENT_SCHEMA).where(F.col("event_type") == "purchase")
    run_to_memory(click_purchase_join(clicks, purchases), "ssj_out", mode="append")
    got = [(r["user_id"], r["purchase_id"], r["click_id"], r["gap_sec"])
           for r in spark.table("ssj_out").collect()]
    assert got == [(1, 3, 1, 3540)]


def test_streaming_legacy_nanos_layout_and_conf_restore(spark, tmp_path):
    """The streaming gate queries must read the legacy TIMESTAMP(NANOS)
    events layout (driver shipped it through round 2) AND restore the
    session-wide nanosAsLong conf after draining — a leaked 'true' makes
    any later nanos-annotated parquet read silently surface bigint."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cliqz_etl_spark.queries.streamq import streaming_hourly_counts

    instants = [datetime.datetime(2024, 1, 1, 10, 0, 7),
                datetime.datetime(2024, 1, 1, 10, 30, 0),
                datetime.datetime(2024, 1, 1, 11, 5, 0)]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(instants, pa.timestamp("ns")),
        "user_id": pa.array([10, 10, 20], pa.int64()),
        "event_type": pa.array(["click", "click", "purchase"]),
        "value": pa.array([1.5, 2.5, 4.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    legacy = tmp_path / "legacy_stream"
    legacy.mkdir()
    pq.write_table(pa.table(cols), legacy / "events.parquet", version="2.6")

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(conf_key, "false") == "false"
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_cents"])
           for r in streaming_hourly_counts(spark, str(legacy)).collect()}
    assert got == {
        ("2024-01-01 10:00:00", "click"): (2, 400),
        ("2024-01-01 11:00:00", "purchase"): (1, 400),
    }
    assert spark.conf.get(conf_key, "false") == "false", "conf leaked"


def _state_partition_counts(q) -> set[int]:
    return {so["numShufflePartitions"]
            for so in q.lastProgress["stateOperators"]}


def test_drain_restores_shuffle_partitions(spark, tmp_path):
    """The drain sizes the stateful shuffle for the stream it starts; the
    session's batch sizing must come back after the drain, on both the
    registry path (streamq) and the run_to_* sinks, and the drained
    stream itself must have used the stream-scoped width: a fresh
    checkpoint over a small source starts at the 4-partition floor."""
    from cliqz_etl_spark.queries.streamq import streaming_hourly_counts

    src = tmp_path / "src"
    src.mkdir()
    _write_events(str(src))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    try:
        df = streaming_hourly_counts(spark, "/root/testdata/sf0.001")
        assert df.count() > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17", \
            "drain leaked its stream-scoped shuffle sizing into the session"
        for run in (
            lambda ev: run_to_memory(ev, "restore_mem", mode="complete"),
            lambda ev: run_to_parquet(ev, str(tmp_path / "out"),
                                      str(tmp_path / "ckpt")),
        ):
            q = run(windowed_event_counts(
                read_event_stream(spark, str(src), EVENT_SCHEMA)))
            assert _state_partition_counts(q) == {4}
            assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_checkpoint_keeps_its_first_state_partition_count(spark, tmp_path):
    """Spark restores the state width from an existing checkpoint's
    offset log: a checkpoint first started at 32 stays at 32 when the
    drain restarts it, and still emits exactly the closed windows."""
    from cliqz_etl_spark.tables import scoped_conf

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    (tmp_path / "src").mkdir()

    def emit(name, stamps):
        with open(f"{src}/{name}", "w") as f:
            for i, ts in enumerate(stamps):
                f.write(json.dumps({"event_id": i, "ts": ts, "user_id": 1,
                                    "event_type": "click",
                                    "value": 1.0}) + "\n")

    def counts():
        ev = read_event_stream(spark, src, EVENT_SCHEMA)
        return windowed_event_counts(ev, "1 hour")

    emit("a.json", ["2024-01-01T10:00:00", "2024-01-01T10:20:00",
                    "2024-01-01T12:00:00"])
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "32",
                     default="32"):
        first = (counts().writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
    assert first.awaitTermination(120)
    assert _state_partition_counts(first) == {32}
    # watermark 13:10 after this drain: the 10:00 and 12:00 windows close
    emit("b.json", ["2024-01-01T13:30:00", "2024-01-01T14:10:00"])
    q = run_to_parquet(counts(), out, ckpt)
    assert _state_partition_counts(q) == {32}
    got = sorted((r["window_start"].isoformat(), r["n_events"])
                 for r in spark.read.parquet(out).collect())
    assert got == [("2024-01-01T10:00:00", 2), ("2024-01-01T12:00:00", 1)]


def test_drain_timeout_stops_the_query(spark, tmp_path, monkeypatch):
    """A drain that outlives DRAIN_TIMEOUT_S is stopped and raises with
    the query's name; no stream is left running behind the error."""
    import time

    import pytest

    from cliqz_etl_spark.streaming import jobs

    monkeypatch.setattr(jobs, "DRAIN_TIMEOUT_S", 0.01)
    src = tmp_path / "src"
    src.mkdir()
    _write_events(str(src))

    def slow_sink(batch, batch_id):
        time.sleep(1)

    with pytest.raises(TimeoutError, match="stalled_drain"):
        jobs.drain(read_event_stream(spark, str(src), EVENT_SCHEMA),
                   lambda w: w.foreachBatch(slow_sink)
                   .queryName("stalled_drain")
                   .option("checkpointLocation", str(tmp_path / "ckpt")))
    assert spark.streams.active == []


def test_every_stream_runs_through_the_one_drain():
    """Source scan: ``awaitTermination(`` appears in the program and its
    tools only inside ``jobs.drain``, so an unsized or unbounded drain
    cannot creep back in. Test files are exempt."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    hits = {str(p.relative_to(root)): p.read_text().count("awaitTermination(")
            for d in ("cliqz_etl_spark", "tools")
            for p in sorted((root / d).rglob("*.py"))
            if "awaitTermination(" in p.read_text()}
    assert hits == {"cliqz_etl_spark/streaming/jobs.py": 1}, hits


def test_local_heap_default_bounds():
    """min(16g, ~70% RAM) floored at 1g — whatever the box, the derived
    default parses as whole GiB inside [1, 16]."""
    import re

    from cliqz_etl_spark.session import _local_heap_default

    m = re.fullmatch(r"(\d+)g", _local_heap_default())
    assert m and 1 <= int(m.group(1)) <= 16


def test_late_event_behind_watermark_is_dropped(spark):
    """Real watermark semantics need TWO drains against one checkpoint:
    drain 1 advances the event-time watermark past an old hour; a row for
    that hour arriving in drain 2 must be dropped — its window is final
    and never re-emitted, and it must not resurrect a new one."""
    import glob
    import os

    with tempfile.TemporaryDirectory() as d:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        os.makedirs(src)

        def emit(name, rows):
            with open(f"{src}/{name}", "w") as f:
                for eid, ts, uid in rows:
                    f.write(json.dumps({"event_id": eid, "ts": ts,
                                        "user_id": uid, "event_type": "click",
                                        "value": 1.0}) + "\n")

        def drain():
            ev = read_event_stream(spark, src, EVENT_SCHEMA)
            run_to_parquet(windowed_event_counts(ev, "1 hour"), out, ckpt)

        # drain 1: events at 10:xx and 12:00 -> watermark lands at 11:00,
        # closing (and emitting) the 10:00 window
        emit("a.json", [(1, "2024-01-01T10:00:00", 1),
                        (2, "2024-01-01T10:20:00", 1),
                        (3, "2024-01-01T12:00:00", 1)])
        drain()
        # drain 2: two stragglers behind the 11:00 watermark — one in the
        # already-emitted 10:00 window, one in the never-seen 09:00 hour —
        # plus an on-time 13:30 event
        emit("b.json", [(4, "2024-01-01T09:30:00", 9),
                        (5, "2024-01-01T10:40:00", 9),
                        (6, "2024-01-01T13:30:00", 1)])
        drain()

        rows = spark.read.parquet(out).collect()
        got = {(r["window_start"].isoformat(), r["event_type"]): r["n_events"]
               for r in rows}
        starts = [r["window_start"].isoformat() for r in rows]
        # the closed 10:00 window was emitted once, with drain-1's count
        # only — the 10:40 straggler neither re-emits nor augments it
        assert starts.count("2024-01-01T10:00:00") == 1
        assert got[("2024-01-01T10:00:00", "click")] == 2
        # the 09:30 straggler resurrects nothing
        assert "2024-01-01T09:00:00" not in starts
        assert glob.glob(f"{out}/part-*") or glob.glob(f"{out}/**/part-*")


def test_state_store_provider_parity(spark):
    from tests.conftest import SF_SMOKE

    """Swapping the state-store provider (default in-memory vs RocksDB)
    must never change a drained result — providers decide state
    RESIDENCY, not semantics. Pins the watermarked windowed agg and the
    in-stream dedup row-for-row across providers."""
    from cliqz_etl_spark.queries import load_all
    from cliqz_etl_spark.operators.cache import release_all
    from cliqz_etl_spark.streaming.jobs import state_store_conf
    from cliqz_etl_spark.tables import scoped_conf

    reg = load_all()
    sf = SF_SMOKE
    conf = state_store_conf("rocksdb")
    [(k, v)] = list(conf.items())
    for name in ["streaming_hourly_counts", "streaming_dedup"]:
        try:
            base = sorted(tuple(r) for r in reg[name].fn(spark, sf).collect())
        finally:
            release_all()
        try:
            with scoped_conf(spark, k, v,
                             default="org.apache.spark.sql.execution."
                                     "streaming.state."
                                     "HDFSBackedStateStoreProvider"):
                rocks = sorted(tuple(r)
                               for r in reg[name].fn(spark, sf).collect())
        finally:
            release_all()
        assert base == rocks, name


def test_interval_seconds_parses_compound_intervals():
    """F.expr("interval 1 hour 30 minutes") is legal SQL; the driver-side
    bucket math must accept the identical grammar (and reject garbage
    with a ValueError naming the format, not a KeyError mid-query)."""
    import pytest

    from cliqz_etl_spark.streaming.jobs import _interval_seconds

    assert _interval_seconds("1 hour") == 3600
    assert _interval_seconds("90 seconds") == 90
    assert _interval_seconds("1 hour 30 minutes") == 5400
    assert _interval_seconds("2 days 1 hour 1 second") == 2 * 86_400 + 3601
    for bad in ("", "1", "1 fortnight", "one hour", "1 hour 30"):
        with pytest.raises(ValueError):
            _interval_seconds(bad)
