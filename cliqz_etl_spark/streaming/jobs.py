"""Structured Streaming surface.

The reference is a scheduled daily batch job whose incremental unit is the
``submission={day}`` partition (testpilot_data.py:86-87,197-200) — SURVEY.md
§2.8 records streaming as absent. This module is the north-star extension:
the same logical operations expressed over unbounded input, so a user can
run the extraction or the event rollups continuously instead of daily.

Design notes for scale:
- File source + ``availableNow`` trigger reproduces the daily batch
  exactly (catch-up runs are bounded); a Kafka source drops in unchanged.
- Watermarks bound state: the 1-hour watermark on event time caps the
  window-state store regardless of input volume.
- ``session_window`` is the streaming twin of the batch lag+cumsum
  sessionizer (queries/sessions.py) — same gap semantics, state-store
  backed instead of a window over a shuffle.
- Output to partitioned parquet keeps the warehouse layout identical to
  the batch sink, so downstream consumers cannot tell which wrote it.
- Every bounded stream runs through ``drain``, which sizes the state
  shuffle from the source's volume: ``max(4, min(source_bytes // 64 MiB,
  max(8, 2 x defaultParallelism)))`` partitions. The state store pays a
  fixed per-partition, per-microbatch commit cost, so a small source at
  the session's batch width (32) spends most of its drain committing
  empty partitions. The width is scoped to ``start()``; batch plans keep
  the session value.
- Checkpoints pin the width: Spark restores ``spark.sql.shuffle.
  partitions`` from the offset log of an existing checkpoint, so a
  checkpoint first started at 32 keeps 32 however its source is sized
  now. Read the effective count from the returned query's
  ``lastProgress`` (``stateOperators[*].numShufflePartitions``), never
  assume it.
- A drain is bounded by ``DRAIN_TIMEOUT_S``: a stalled stream is stopped
  and fails with its last progress, instead of blocking its caller.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

GAP = "30 minutes"
WATERMARK = "1 hour"
# the bound on one availableNow drain; above the 100x stress decade's
# slowest drain, below the test suite's whole budget
DRAIN_TIMEOUT_S = 1800


def read_event_stream(spark: SparkSession, path: str, schema: StructType,
                      fmt: str = "json") -> DataFrame:
    """Unbounded file-source scan. Explicit schema is mandatory (streaming
    sources cannot infer)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type with late-data handling:
    rows later than the watermark are dropped, closed windows are final."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def session_rollup(events: DataFrame, gap: str = GAP) -> DataFrame:
    """Gap-based session aggregation — the streaming equivalent of the
    batch sessionize query (same 30-min gap). State per (user, session)
    is bounded by the watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("session_value"))
        .select("user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events", "session_value")
    )


def dedup_stream(events: DataFrame, key_cols: list[str] | None = None,
                 watermark: str = WATERMARK) -> DataFrame:
    """Exactly-once event delivery over an at-least-once source:
    ``dropDuplicatesWithinWatermark`` keeps the first row per key and
    holds per-key state only until the watermark passes the key's event
    time — the state store stays bounded by (event rate x watermark
    horizon) no matter how long the stream runs, which plain
    ``dropDuplicates`` on a stream does not guarantee. The first thing a
    real event pipeline needs in front of every downstream aggregate."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(key_cols or ["event_id"])
    )


_INTERVAL_UNIT_SEC = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86_400, "days": 86_400,
}


def _interval_seconds(interval: str) -> int:
    """'1 hour' / '30 minutes' / '1 hour 30 minutes' -> seconds.

    Accepts the same compound N-unit sequences ``F.expr("interval ...")``
    does, so every interval string a caller can pass into the SQL side
    (e.g. ``click_purchase_join``'s lookback) parses identically for the
    driver-side bucket math instead of blowing up mid-query."""
    toks = interval.split()
    if not toks or len(toks) % 2:
        raise ValueError(
            f"interval {interval!r}: expected 'N unit [N unit ...]' with "
            f"units in {sorted(set(_INTERVAL_UNIT_SEC))}")
    total = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        try:
            total += int(n) * _INTERVAL_UNIT_SEC[unit.lower()]
        except (ValueError, KeyError):
            raise ValueError(
                f"interval {interval!r}: bad component {n!r} {unit!r}; "
                f"expected 'N unit' with units in "
                f"{sorted(set(_INTERVAL_UNIT_SEC))}") from None
    return total


def click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                        lookback: str = "1 hour",
                        watermark: str = WATERMARK) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding ``lookback``. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can size the
    join state (buffered rows per side) from the watermark + range instead
    of holding both streams forever — the required shape for any
    unbounded stream-stream join.

    The equality key is (user, lookback-sized time bucket), with the
    purchase side exploded to probe its own bucket and the previous one —
    the bucketed range join (same trick as the batch
    range_join_close_events). Joining on user alone is quadratic in a
    hot user's per-batch event count: the join matches range predicates
    by nested loop WITHIN an equality key, and a Zipf-headed corpus puts
    a fixed double-digit percentage of all events on one user no matter
    how many users exist (measured: the 10x stress decade ran minutes in
    one straggler task before bucketing, seconds after). Each (click,
    purchase) pair within range spans at most two buckets and the click's
    bucket equals exactly one of the two probes, so results are identical
    pair-for-pair — the oracle pins it. Bucketing also splits the hot
    user's join STATE across buckets, so state-partition skew falls with
    the bucket width, not the key distribution."""
    lb = _interval_seconds(lookback)
    c = (clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"))
         .withWatermark("click_ts", watermark)
         .withColumn("c_bucket",
                     F.floor(F.col("click_ts").cast("long") / lb)))
    p = (purchases.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"))
         .withWatermark("purchase_ts", watermark)
         .withColumn("p_bucket",
                     F.floor(F.col("purchase_ts").cast("long") / lb))
         .withColumn("probe_bucket",
                     F.explode(F.array(F.col("p_bucket"),
                                       F.col("p_bucket") - 1))))
    return (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_bucket") == F.col("probe_bucket"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"interval {lookback}")),
        )
        .select(
            "user_id", "purchase_id", "click_id",
            (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long"))
            .cast("long").alias("gap_sec"),
        )
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame,
                    on: str = "user_id") -> DataFrame:
    """Stream-static join: each micro-batch of the stream joins the
    (batch) dimension snapshot — Spark re-plans the static side per batch,
    so a broadcast dimension costs no streaming state at all (unlike
    stream-stream joins there is nothing to buffer: the static side is
    complete by definition). The standard shape for enriching an event
    stream with reference data."""
    return events.join(F.broadcast(dim), on)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful streaming op: a custom per-key accumulator
    (running event count + integer-cents value total per user) that
    survives across micro-batches in the state store — the
    programmable-state escape hatch a real event pipeline reaches for
    when windows/dedup primitives don't fit (counters, custom
    sessionation, ML feature state). Update mode emits each user's
    current totals once per micro-batch that touched the user.

    Implemented with ``applyInPandasWithState`` (Arrow-batched GroupState).
    Spark 4's ``transformWithStateInPandas`` successor was tried and is
    gated out: its state-server protocol imports google.protobuf, which
    this environment does not provide — same state semantics either way."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        # total starts as None, not 0: SQL SUM over zero non-NULL values
        # is NULL, and a NULL event value must be SKIPPED, never cast —
        # np.floor(nan).astype(int64) is INT64_MIN garbage, the classic
        # pandas NaN->int trap
        n, cents = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            mask = ~np.isnan(v)
            if mask.any():
                add = int(np.floor(v[mask] * 100 + 0.5).astype("int64").sum())
                cents = add if cents is None else cents + add
        state.update((n, cents))
        yield pd.DataFrame({
            "user_id": pd.array([key[0]], dtype="Int64"),
            "n_events": [n],
            "total_cents": pd.array([cents], dtype="Int64"),
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        stateStructType="n_events bigint, total_cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _source_bytes(df: DataFrame) -> int:
    """Bytes behind a stream's file sources, read from its analyzed plan:
    each ``StreamingRelation`` leaf's ``path`` option (narrowed by its
    ``pathGlobFilter``), sized on the Hadoop FS. A distinct path is
    counted once, so a self-union does not double its volume; a source
    without a path (generator, Kafka) contributes nothing."""
    from cliqz_etl_spark.io import _hadoop_fs, _hadoop_path

    spark = df.sparkSession
    sources = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        opts = leaf.dataSource().options()
        path, glob = opts.get("path"), opts.get("pathGlobFilter")
        if path.isDefined():
            sources.add((path.get(), glob.get() if glob.isDefined() else None))
    total = 0
    for path, glob in sources:
        fs = _hadoop_fs(spark, path)
        for st in fs.globStatus(_hadoop_path(spark, path)) or []:
            hits = [st]
            if glob is not None and st.isDirectory():
                hits = fs.listStatus(
                    st.getPath(), spark._jvm.org.apache.hadoop.fs.GlobFilter(glob))
            total += sum(fs.getContentSummary(h.getPath()).getLength()
                         for h in hits)
    return total


def drain(df: DataFrame,
          sink: Callable[[DataStreamWriter], DataStreamWriter]
          ) -> StreamingQuery:
    """Run a bounded stream to completion: ``sink`` configures
    ``df.writeStream`` (format, mode, checkpoint, name), the drain adds
    the availableNow trigger, starts it with the state shuffle sized from
    the source's bytes (the session width comes back right after
    ``start()``) and waits at most ``DRAIN_TIMEOUT_S``. A drain that
    runs out of time is stopped and raises ``TimeoutError`` with its last
    progress. Returns the terminated query, whose ``lastProgress`` holds
    the effective partition count — an existing checkpoint keeps the
    count it was first started with."""
    from cliqz_etl_spark.tables import scoped_conf

    spark = df.sparkSession
    # One state partition per ~64 MiB of source, floored at 4 and capped
    # at 2x parallelism: past the cap extra partitions only add commits,
    # not concurrency. Floor 8 -> 4 in round 14, interleaved A/B at sf0.1:
    # left_outer_join 5.33/3.48 -> 2.64/3.79 s, daily_peak 3.09/2.72 ->
    # 1.78/1.91 s; floor 2 regressed the funnel and was rejected.
    cap = max(8, 2 * spark.sparkContext.defaultParallelism)
    n = max(4, min(_source_bytes(df) // (64 << 20), cap))
    writer = sink(df.writeStream).trigger(availableNow=True)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(n),
                     default="32"):
        q = writer.start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not drain within "
            f"{DRAIN_TIMEOUT_S} s; last progress: {q.lastProgress}")
    return q


def run_to_memory(df: DataFrame, name: str,
                  mode: str = "append") -> StreamingQuery:
    """Drain all available input into an in-memory table (tests/debug):
    availableNow processes the backlog then stops — the streaming twin of
    one daily batch run."""
    return drain(df, lambda w: w.format("memory").queryName(name)
                 .outputMode(mode))


def run_to_parquet(df: DataFrame, path: str, checkpoint: str,
                   partition_by: str | None = None) -> StreamingQuery:
    """Continuous warehouse sink: append-mode parquet with checkpointed
    exactly-once file commits; layout matches the batch writer."""
    def sink(w: DataStreamWriter) -> DataStreamWriter:
        w = (w.format("parquet").option("path", path)
             .option("checkpointLocation", checkpoint).outputMode("append"))
        return w.partitionBy(partition_by) if partition_by else w
    return drain(df, sink)


def run_to_upsert(df: DataFrame, base_path: str, checkpoint: str,
                  key: str | list[str]) -> StreamingQuery:
    """foreachBatch merge sink: each micro-batch SCD-1-upserts into a
    parquet target (io.upsert_parquet — same-key rows replaced, new keys
    appended). This is the streaming keyed-table pattern the built-in
    file sink cannot express (it only appends): an update-mode stream of
    per-key state emits each key's LATEST row per touched batch, and the
    merge keeps the target at exactly one current row per key.

    Semantics notes:
    - NULL-key rows are dropped before merging. A keyed table cannot
      address a NULL key — the anti-join that replaces same-key rows
      never matches NULL = NULL, so a NULL key would silently duplicate
      on every batch instead of upserting.
    - foreachBatch is at-least-once per batch: a retry after a sink
      failure re-applies the SAME batch. The upsert is idempotent for a
      deterministic batch (replacing a key's row with the same row), so
      replays converge — the reason merge, not blind append, is the
      right sink for keyed state.
    - first batch bootstraps the target with a plain write (no base to
      merge into yet)."""
    from cliqz_etl_spark.io import _hadoop_fs, _hadoop_path, upsert_parquet

    keys = [key] if isinstance(key, str) else list(key)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bdf = batch_df.where(
            " AND ".join(f"{k} IS NOT NULL" for k in keys))
        spark = bdf.sparkSession
        fs = _hadoop_fs(spark, base_path)
        if fs.exists(_hadoop_path(spark, base_path)):
            upsert_parquet(spark, base_path, bdf, keys)
        else:
            bdf.write.mode("overwrite").parquet(base_path)

    return drain(df, lambda w: w.foreachBatch(apply_batch)
                 .option("checkpointLocation", checkpoint)
                 .outputMode("update"))


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def state_store_conf(provider: str = "rocksdb") -> dict[str, str]:
    """Conf for choosing the state-store provider on a stream.

    Measured at the 100x stress decade (tools/scale_stress.py): RocksDB
    runs ~2-3x the wall-clock of the default in-memory HDFS-backed store
    but holds peak state at 90-201 MiB where the default held ~1.8 GiB —
    so set it exactly when a stream's state outgrows executor heap
    (giant dedup key spaces, wide stream-stream joins), and keep the
    default below that threshold. Providers never change results, only
    residency — pinned by tests/test_streaming.py's parity test."""
    if provider == "rocksdb":
        return {"spark.sql.streaming.stateStore.providerClass":
                ROCKSDB_PROVIDER}
    if provider == "default":
        return {}
    raise ValueError(f"unknown state store provider {provider!r}")


def funnel_progress(events: DataFrame) -> DataFrame:
    """Out-of-order-safe strict-funnel state: per user, buffer the funnel
    events seen so far (micros + type code) and REFOLD the ordered state
    machine each micro-batch. Sequence matching over unordered arrival
    cannot keep a constant-size sufficient statistic (a late EARLIER
    signup can re-qualify views the old threshold rejected), so the
    buffer is the honest cost — exactly the CEP engine's within-horizon
    event buffer; production deployments bound it with watermark
    eviction, which a drain-to-completion gate does not need. n_seen is
    strictly monotone per user, so the update-mode sink's max-n_seen row
    is the complete reading.

    Input contract: (user_id, tsu micros, et in {signup, view, purchase}).
    Type codes sort like the strings (purchase < signup < view) so the
    fold's tie order equals the batch sequence_funnel's sort_array fold."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    code = {"purchase": 0, "signup": 1, "view": 2}

    def update(key, pdfs, state: GroupState):
        ts, et = ((list(state.get[0]), list(state.get[1]))
                  if state.exists else ([], []))
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["tsu"])
            et.extend(code[e] for e in pdf["et"])
        t1 = t2 = t3 = None
        for i in sorted(range(len(ts)), key=lambda j: (ts[j], et[j])):
            t, c = ts[i], et[i]
            if t1 is None and c == 1:
                t1 = t
            if t2 is None and t1 is not None and c == 2 and t > t1:
                t2 = t
            if t3 is None and t2 is not None and c == 0 and t > t2:
                t3 = t
        state.update((ts, et))
        yield pd.DataFrame({
            "user_id": pd.array([key[0]], dtype="Int64"),
            "n_seen": [len(ts)],
            "t1": pd.array([t1], dtype="Int64"),
            "t2": pd.array([t2], dtype="Int64"),
            "t3": pd.array([t3], dtype="Int64"),
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=("user_id bigint, n_seen bigint, "
                          "t1 bigint, t2 bigint, t3 bigint"),
        stateStructType="ts array<bigint>, et array<int>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def mg_candidate_state(events: DataFrame, k: int,
                       n_buckets: int) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter screen: users hash into
    ``n_buckets`` state groups, each holding at most ``k`` MG counters
    that update across micro-batches (MG is a one-pass streaming
    algorithm by construction — state is the counter dict, bounded at
    k entries per bucket regardless of stream length).

    Soundness with k = K (the global threshold divisor): a user's whole
    count lives in ONE bucket (the hash partitions users, not rows), so
    global count > n/K implies bucket count > bucket_n/K, and MG with K
    counters never evicts such a key — the candidate union is a
    superset of every global heavy hitter for ANY bucket sizing. The
    exact verification pass then makes the output deterministic.
    Emits (bucket, n_seen, candidates[]) per touched bucket per batch;
    n_seen is monotone, so the drain's max-n_seen row per bucket is the
    final screen."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            users, counts, n_seen = state.get
            counters = dict(zip(users, counts))
        else:
            counters, n_seen = {}, 0
        for pdf in pdfs:
            for u in pdf["user_id"]:
                u = int(u)
                n_seen += 1
                if u in counters:
                    counters[u] += 1
                elif len(counters) < k:
                    counters[u] = 1
                else:
                    dead = []
                    for c in counters:
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for d in dead:
                        del counters[d]
        state.update((list(counters.keys()),
                      list(counters.values()), n_seen))
        yield pd.DataFrame({
            "bucket": pd.array([key[0]], dtype="Int64"),
            "n_seen": [n_seen],
            "candidates": [list(counters.keys())],
        })

    return events.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=("bucket bigint, n_seen bigint, "
                          "candidates array<bigint>"),
        stateStructType=("users array<bigint>, counts array<bigint>, "
                         "n_seen bigint"),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
