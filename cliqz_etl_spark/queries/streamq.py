"""Streaming queries in the correctness gate.

Each callable builds a *bounded* streaming run over the scale-factor
parquet (file-stream source, availableNow trigger, complete-mode memory
sink) and returns the drained result as a DataFrame — so Structured
Streaming semantics themselves are DuckDB-oracle-checked, not just
unit-tested: hourly tumbling windows must equal the batch/SQL grouping by
date_trunc('hour'), and gap sessions must equal the lag+cumsum CTE.
"""

from __future__ import annotations

import functools
import itertools
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cliqz_etl_spark.queries import query
from cliqz_etl_spark.functions.hashing import md5_long_sql
from cliqz_etl_spark.queries.analytics import SEQ_FUNNEL_ORACLE
from cliqz_etl_spark.queries.dedup import _BUCKETS_CTE
from cliqz_etl_spark.queries.sessions import _SESSION_CTE
from cliqz_etl_spark.streaming.jobs import (
    click_purchase_join,
    dedup_stream,
    drain,
    run_to_memory,
    run_to_parquet,
    running_user_totals,
    session_rollup,
)

_SINK_IDS = itertools.count()


def _scoped_legacy_nanos(fn):
    """Hold spark.sql.legacy.parquet.nanosAsLong=true across a streaming
    query's whole build+drain span when the events layout is legacy nanos,
    and restore the previous value afterwards. Streams execute at
    ``start()``, not at ``readStream`` — so unlike the batch reader's
    creation-time snapshot the conf must stay live until the drain
    returns; a bare ``conf.set`` here used to leak session-wide and make
    any later nanos-annotated parquet read silently surface bigint."""
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cliqz_etl_spark.tables import events_ts_is_native, scoped_conf

        if events_ts_is_native(os.path.join(sf_dir, "events.parquet")):
            return fn(spark, sf_dir)
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong",
                         "true", default="false"):
            return fn(spark, sf_dir)
    return wrapper


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Probe the parquet footer once (cached) to learn how ts is stored:
    # file-stream sources require an explicit schema, and forcing the wrong
    # one silently reinterprets the raw int64 (micros read as nanos lands
    # every event in 1970). Mirrors tables.load_table's dtype branch; the
    # legacy-layout session conf is owned by @_scoped_legacy_nanos on the
    # enclosing query so it outlives start() and is restored after drain.
    from cliqz_etl_spark.tables import events_ts_is_native

    native = events_ts_is_native(os.path.join(sf_dir, "events.parquet"))
    # LTZ, not NTZ: EventTimeWatermark only accepts TIMESTAMP, and with the
    # session timezone pinned to UTC (session.py) the parquet NTZ micros
    # read as identical instants.
    ts_type = "timestamp" if native else "long"
    schema = (f"event_id long, ts {ts_type}, user_id long, "
              "event_type string, value double, props string")
    # the file-stream source wants a directory; glob-filter to the one table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if native:
        return raw
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _drain(df: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
    """Run the bounded stream to completion into a memory sink (through
    ``jobs.drain``, which sizes its state partitions from the source) and
    return the drained table."""
    from cliqz_etl_spark.operators.cache import track_temp_view

    spark = df.sparkSession
    name = f"{prefix}_{next(_SINK_IDS)}"
    run_to_memory(df, name, mode)
    out = spark.table(name)
    out.schema  # force analysis NOW: the plan must bind the sink relation
    # before release_all() (bench/oracle runners) drops the temp view —
    # the catalog entry is what pins the drained result in driver memory
    # for the rest of the process, so it is released like any cache
    track_temp_view(spark, name)
    return out


@query(
    "streaming_hourly_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type AS event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    # ts IS NOT NULL: a row with no event time cannot enter a watermarked
    # window() aggregation — the stream drops it, so the oracle must too
)
@_scoped_legacy_nanos
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour rollup, drained to completion: streaming
    output must equal the SQL date_trunc grouping exactly (epoch-aligned
    windows)."""
    ev = _event_stream(spark, sf_dir)
    windowed = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long").alias("total_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "total_cents",
        )
    )
    return _drain(windowed, "hourly_counts")


@query(
    "streaming_sessions",
    oracle=_SESSION_CTE + """
    SELECT user_id AS user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessioned GROUP BY user_id, session_seq
    """,
)
@_scoped_legacy_nanos
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window rollup, drained to completion — must agree
    with the batch lag+cumsum sessionizer's oracle (third independent
    implementation of the same gap semantics)."""
    ev = _event_stream(spark, sf_dir)
    sessions = session_rollup(ev).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )
    return _drain(sessions, "sessions")


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type AS event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY 1
    """,
    # No ts filter: unlike window()/session_window() aggregations (which
    # DROP NULL-event-time rows), dropDuplicatesWithinWatermark still
    # dedups a NULL-ts row by key and emits it — its state entry just
    # never expires (fuzz-pinned)
)
@_scoped_legacy_nanos
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream exactly-once dedup: the source is unioned with itself
    (every event delivered twice — an at-least-once source), then
    dropDuplicatesWithinWatermark on event_id keeps one copy per key with
    watermark-bounded state. The drained rows are aggregated batch-side;
    matching the plain per-type counts over the ORIGINAL table proves
    exactly one copy of every duplicated event survived."""
    doubled = _event_stream(spark, sf_dir).unionByName(_event_stream(spark, sf_dir))
    # project AFTER the keyed dedup (which needs event_id + the
    # watermarked ts) but BEFORE the sink: the memory sink then holds
    # 2 narrow columns per surviving event instead of the full 6-column
    # row — at production volume the sink is a table/topic and this is
    # the difference between shipping the fact and shipping the payload
    deduped = _drain(dedup_stream(doubled).select("event_type", "value"),
                     "dedup", mode="append")
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long").alias("total_cents"),
    )


@query(
    "streaming_stream_join",
    oracle="""
    SELECT p.user_id AS user_id, p.event_id AS purchase_id,
           c.event_id AS click_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
@_scoped_legacy_nanos
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (purchases x same-user clicks in the
    preceding hour), both sides watermarked and the join range bounded in
    event time so join state is finite. Drained with availableNow and
    checked against the equivalent batch join — streaming must emit
    exactly the batch pair set."""
    clicks = _event_stream(spark, sf_dir).where(F.col("event_type") == "click")
    purchases = _event_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    return _drain(click_purchase_join(clicks, purchases), "ssjoin",
                  mode="append")


@query(
    "streaming_running_totals",
    oracle="""
    SELECT user_id AS user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY 1
    """,
)
@_scoped_legacy_nanos
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (transformWithStateInPandas): per-user
    running totals held in ValueState. Drained with availableNow — the
    final Update-mode emission per user must equal the batch aggregate
    exactly, verifying the programmable-state path end to end."""
    ev = _event_stream(spark, sf_dir)
    return _drain(running_user_totals(ev), "running_totals", mode="update")


@query(
    "streaming_enriched_counts",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type AS event_type,
           COUNT(*) AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
@_scoped_legacy_nanos
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the customer
    dimension (broadcast, zero streaming state) and rolls up per
    (segment, type) — must equal the batch join exactly."""
    from cliqz_etl_spark.streaming.jobs import enrich_with_dim
    from cliqz_etl_spark.tables import load_table

    ev = _event_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    counts = (
        enrich_with_dim(ev, dim)
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _drain(counts, "enriched", mode="complete")


@query(
    "streaming_upsert_totals",
    # user_id IS NOT NULL: the merge sink drops NULL-key rows — a keyed
    # table cannot address a NULL key (the replace anti-join never
    # matches NULL = NULL, so NULLs would duplicate per batch, not merge)
    oracle="""
    SELECT user_id AS user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
@_scoped_legacy_nanos
def streaming_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch merge sink end-to-end: the stateful running-totals
    stream drains through run_to_upsert into a keyed parquet table (each
    micro-batch SCD-1-merges its touched users), and the FINAL table must
    equal the batch aggregate — proving per-batch merges compose to
    exactly-once keyed state. Scratch target + checkpoint are wiped per
    call so every run is a fresh drain (the gate runs repeatedly)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.streaming.jobs import run_to_upsert

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_upsert_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    base, ckpt = f"{root}/table", f"{root}/ckpt"
    ev = _event_stream(spark, sf_dir)
    run_to_upsert(running_user_totals(ev), base, ckpt, "user_id")
    if not os.path.isdir(base):  # empty corpus: no batch ever wrote
        return spark.createDataFrame(
            [], "user_id long, n_events long, total_cents long")
    return spark.read.parquet(base).select("user_id", "n_events", "total_cents")


_SYN_N, _SYN_USERS, _SYN_PARTS = 20_000, 500, 16


@query(
    "synthetic_source_rollup",
    # The oracle MANUFACTURES the same table from range(n) with the
    # md5_long twins — a generator source is checkable precisely because
    # generation is arithmetic, not I/O.
    oracle=f"""
    WITH r AS (
        SELECT unnest(range({_SYN_N})) AS i
    ), g AS (
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01'
                 + ({md5_long_sql("CAST(i AS VARCHAR) || '#2'")} % {30 * 86_400})
                   * INTERVAL 1 SECOND AS ts,
               {md5_long_sql('i')} % {_SYN_USERS} AS user_id,
               ['click','error','purchase','signup','view']
                 [({md5_long_sql("CAST(i AS VARCHAR) || '#1'")} % 5) + 1] AS event_type,
               CAST({md5_long_sql("CAST(i AS VARCHAR) || '#3'")} % 100000 AS DOUBLE)
                 / 100.0 AS value
        FROM r
    )
    SELECT event_type AS event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM g GROUP BY 1, 2
    """,
    doc="Custom Python DataSource (Spark 4 API): partition-parallel "
        "deterministic generator, oracle regenerates the table from "
        "range(n).",
)
def synthetic_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register + read the generator source (16 explicit row-range
    partitions — the parallelism is the source's, not a file listing's)
    and roll up per (type, day). sf_dir is unused by design: a generator
    has no storage to scale; the gate proves the DataSource machinery
    (registration, schema, partitions(), per-slice read) end to end."""
    from cliqz_etl_spark.sources import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    df = (spark.read.format("synthetic_events")
          .option("n_rows", _SYN_N).option("n_users", _SYN_USERS)
          .option("n_partitions", _SYN_PARTS).load())
    return (
        df.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("total_cents"))
    )


_SYNS_N, _SYNS_BATCH = 3_000, 1_250  # 3 catch-up runs: 1250+1250+500


@query(
    "synthetic_stream_rollup",
    oracle=f"""
    WITH r AS (
        SELECT unnest(range({_SYNS_N})) AS i
    ), g AS (
        SELECT ['click','error','purchase','signup','view']
                 [({md5_long_sql("CAST(i AS VARCHAR) || '#1'")} % 5) + 1] AS event_type,
               {md5_long_sql('i')} % 100 AS user_id,
               CAST({md5_long_sql("CAST(i AS VARCHAR) || '#3'")} % 100000 AS DOUBLE)
                 / 100.0 AS value
        FROM r
    )
    SELECT event_type AS event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM g GROUP BY 1
    """,
    doc="Streaming half of the custom DataSource: repeated availableNow "
        "catch-up runs over one checkpoint compose exactly-once.",
)
def synthetic_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SimpleDataSourceStreamReader emits ONE batch per availableNow
    run, so the gate runs the stream to the SAME parquet sink +
    checkpoint repeatedly until the generator's cap is reached — the
    scheduled-catch-up-runs pattern (a daily batch over a continuous
    source). Every restart recovers the offset from the checkpoint and
    the sink must end up with each generated row EXACTLY once; the
    oracle aggregates the regenerated table. sf_dir is unused (generator
    source); scratch dirs are wiped per call for a fresh drain."""
    import hashlib
    import math
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.sources import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_synstream_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"
    n_runs = math.ceil(_SYNS_N / _SYNS_BATCH) + 1  # +1 proves the empty tail
    for _ in range(n_runs):
        src = (spark.readStream.format("synthetic_events")
               .option("n_rows", _SYNS_N)
               .option("rows_per_batch", _SYNS_BATCH)
               .option("n_users", 100).load())
        run_to_parquet(src, out, ckpt)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("total_cents"))
    )


@query(
    "state_store_probe",
    oracle="""
    SELECT user_id AS user_id, COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
@_scoped_legacy_nanos
def state_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store INTROSPECTION (the Spark 4 statestore reader): drain a
    per-user streaming count with a checkpoint, then read the query's
    OWN state store back as a DataFrame and emit the keyed counts from
    the STATE, not the sink. Matching the batch GROUP BY proves the
    state contents are exactly the aggregate — the observability path
    for auditing a production streaming checkpoint (what keys live in
    state, how big, which partition) without touching the running query.
    Scratch checkpoint is wiped per call for a fresh drain."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_ssprobe_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    ev = _event_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    drain(agg, lambda w: w.format("noop")
          .option("checkpointLocation", f"{root}/ckpt").outputMode("update"))
    state = spark.read.format("statestore").load(f"{root}/ckpt")
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n_events"),
    )


@query(
    "stream_sink_roundtrip",
    # same generated table as synthetic_stream_rollup's oracle, but the
    # Spark side routes it generator-stream -> CUSTOM stream sink
    # (jsonl_shards epoch commits) -> JSON read-back, closing the last
    # quadrant of the Python DataSource API under an oracle
    oracle=f"""
    WITH r AS (
        SELECT unnest(range({_SYNS_N})) AS i
    ), g AS (
        SELECT ['click','error','purchase','signup','view']
                 [({md5_long_sql("CAST(i AS VARCHAR) || '#1'")} % 5) + 1] AS event_type,
               {md5_long_sql('i')} % 100 AS user_id,
               CAST({md5_long_sql("CAST(i AS VARCHAR) || '#3'")} % 100000 AS DOUBLE)
                 / 100.0 AS value
        FROM r
    )
    SELECT event_type AS event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM g GROUP BY 1
    """,
    doc="Custom stream SOURCE -> custom stream SINK (per-epoch staged "
        "commits) -> read-back rollup; exactly-once across catch-up runs.",
)
def stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated availableNow catch-up runs over one checkpoint, writing
    through the jsonl_shards DataSourceStreamWriter: every generated row
    must land in exactly one committed epoch shard. sf_dir unused
    (generator source); scratch dirs wiped per call."""
    import hashlib
    import math
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.sources import (JsonlShardDataSource,
                                         SyntheticEventsDataSource)

    for src_cls in (SyntheticEventsDataSource, JsonlShardDataSource):
        try:
            spark.dataSource.register(src_cls)
        except Exception:
            pass
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_ssink_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"
    os.makedirs(out)
    for _ in range(math.ceil(_SYNS_N / _SYNS_BATCH) + 1):
        src = (spark.readStream.format("synthetic_events")
               .option("n_rows", _SYNS_N)
               .option("rows_per_batch", _SYNS_BATCH)
               .option("n_users", 100).load())
        drain(src, lambda w: w.format("jsonl_shards").option("path", out)
              .option("checkpointLocation", ckpt).outputMode("append"))
    back = (spark.read
            .schema("event_id long, ts string, user_id long, "
                    "event_type string, value double")
            .json(out))
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("total_cents"))
    )


@query(
    "streaming_left_outer_join",
    # The outer arm's emission rule was pinned EMPIRICALLY before this
    # oracle was written (boundary-probed to the second, three configs):
    # an unmatched purchase emits its NULL row iff
    #   purchase_ts < min(max click ts, max purchase ts) - delay
    # (strict) — the final global watermark, which is the MIN across the
    # two sides' per-source watermarks. Purchases newer than that stay
    # in state when the bounded drain ends: the stream cannot yet prove
    # no matching click will arrive. The min() must PROPAGATE NULL (no
    # clicks at all -> click watermark never advances -> nothing emits);
    # DuckDB's least() skips NULLs, hence the CASE.
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), wm AS (
        SELECT CASE WHEN (SELECT MAX(click_ts) FROM c) IS NULL
                      OR (SELECT MAX(purchase_ts) FROM p) IS NULL
                    THEN NULL
                    ELSE least((SELECT MAX(click_ts) FROM c),
                               (SELECT MAX(purchase_ts) FROM p))
                         - INTERVAL 1 HOUR END AS w
    )
    SELECT p.user_id AS user_id, p.purchase_id AS purchase_id,
           c.click_id AS click_id,
           CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
               AS gap_sec
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    UNION ALL
    SELECT p.user_id, p.purchase_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM p, wm
    WHERE p.purchase_ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND c.click_ts <= p.purchase_ts
            AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR)
    """,
)
@_scoped_legacy_nanos
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: purchases keep flowing even with no
    qualifying click — the NULL row emits only once the watermark proves
    no match can still arrive, and the oracle models that cutoff exactly
    (see the oracle comment). Plain user-equality key here: the bucketed
    range key (streaming_stream_join) would explode each purchase into
    two probe rows and turn one unmatched purchase into two NULL rows —
    outer joins and probe-expansion don't compose."""
    from cliqz_etl_spark.streaming.jobs import WATERMARK

    clicks = (_event_stream(spark, sf_dir).where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", WATERMARK))
    purchases = (_event_stream(spark, sf_dir)
                 .where(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", WATERMARK))
    j = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 1 hour")),
        "left_outer",
    ).select(
        "user_id", "purchase_id", "click_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long"))
        .cast("long").alias("gap_sec"),
    )
    return _drain(j, "lojoin", mode="append")


@query(
    "streaming_daily_peak",
    oracle="""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events WHERE ts IS NOT NULL
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
           CAST(max(n) AS BIGINT) AS peak_hourly,
           CAST(sum(n) AS BIGINT) AS n_daily
    FROM (SELECT date_trunc('day', h) AS d, event_type, n FROM hourly)
         CROSS JOIN wm
    WHERE d + INTERVAL 1 DAY <= wm.w
    GROUP BY d, event_type
    """,
    # Emission cutoff pinned EMPIRICALLY (the left-outer-join discipline):
    # a probe corpus with max(ts) exactly one hour past a day boundary —
    # final watermark == that day's end — shows the day EMITTING, so the
    # rule is day_end <= watermark, non-strict. Every hour of an emitted
    # day is itself closed (hour_end <= day_end <= wm), so emitted days
    # aggregate their full hour set and the batch oracle is exact.
)
@_scoped_legacy_nanos
def streaming_daily_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained windowed aggregation (window-of-window, Spark 3.4+
    multiple-stateful-operator support): watermarked hourly counts
    re-aggregated INSIDE THE SAME STREAM into per-day peak and total —
    the two-level rollup (minute->hour->day) every monitoring pipeline
    wants without a second job or an intermediate sink.

    Append mode is mandatory — two stateful aggregations cannot run
    under complete output — so only watermark-closed day windows reach
    the sink; the oracle reproduces the cutoff from max(ts). State is
    bounded by the union of open hour + open day windows (rate x
    horizon, not stream length). The hourly->daily handoff passes only
    FINALIZED hourly rows downstream, which is what makes the re-
    aggregation exactly-once per window."""
    ev = _event_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"), "event_type")
        .agg(F.max("n").cast("long").alias("peak_hourly"),
             F.sum("n").cast("long").alias("n_daily"))
        .select(F.date_format(F.col("d.start"), "yyyy-MM-dd").alias("day"),
                "event_type", "peak_hourly", "n_daily")
    )
    return _drain(daily, "daily_peak", mode="append")


@query(
    "streaming_progress_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_input_rows,
           CAST(count(DISTINCT user_id)
                + CASE WHEN count(*) FILTER (user_id IS NULL) > 0
                       THEN 1 ELSE 0 END AS BIGINT) AS final_state_rows
    FROM events
    """,
)
@_scoped_legacy_nanos
def streaming_progress_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StreamingQueryListener-driven observability, oracle-checked.

    A listener accumulates numInputRows and the final stateOperators
    numRowsTotal across every micro-batch of a keyed-count drain; the
    query's OUTPUT is those listener readings — so the monitoring path
    itself (the API a production alerting hook consumes) is what the
    DuckDB oracle verifies: total input rows must equal count(*), final
    state rows must equal the distinct key count (NULL key included —
    a groupBy state row addresses NULL like any other key).

    Listener events are delivered on a separate bus thread and can
    arrive after the drain returns, so the query polls until the readings
    go stable (bounded wait) before reporting — the part naive listener
    consumers get wrong. Complete-mode keyed count keeps state =
    |keys|, constant per key regardless of stream length."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from cliqz_etl_spark.operators.cache import track_temp_view

    class _Audit(StreamingQueryListener):
        """Accumulates progress for ONE query, matched by name: the
        listener bus is session-global and asynchronous, so without the
        filter a late-delivered event from a previous drain (or any
        concurrent stream in the session) corrupts the oracle-gated
        readings."""

        def __init__(self, query_name: str):
            self.query_name = query_name
            self.rows = 0
            self.state = None
            self.batches = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name != self.query_name:
                return
            self.rows += p.numInputRows
            self.batches += 1
            if p.stateOperators:
                self.state = p.stateOperators[0].numRowsTotal

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    ev = _event_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    name = f"progress_audit_{next(_SINK_IDS)}"
    listener = _Audit(name)
    spark.streams.addListener(listener)
    try:
        run_to_memory(agg, name, "complete")
        # listener bus is async: wait for the readings to stabilize
        # (two consecutive identical non-empty snapshots), bounded
        prev = None
        for _ in range(60):
            snap = (listener.rows, listener.state, listener.batches)
            if listener.batches > 0 and snap == prev:
                break
            prev = snap
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    track_temp_view(spark, name)
    return spark.createDataFrame(
        [(int(listener.rows), int(listener.state or 0))],
        "total_input_rows long, final_state_rows long")


@query(
    "streaming_sequence_funnel",
    # the batch sequence_funnel's oracle verbatim: the stateful drain and
    # the batch fold implement the same min-chain semantics, so the hash
    # match proves the streaming buffer+refold equivalent — the fourth
    # independent implementation of a shared semantics gate (after the
    # three sessionizers)
    oracle=SEQ_FUNNEL_ORACLE,
)
@_scoped_legacy_nanos
def streaming_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict signup -> later view -> later purchase funnel as an
    arbitrary-stateful stream (applyInPandasWithState CEP buffer +
    refold), drained to completion, latest per-user reading aggregated
    batch-side into the same four counts the batch oracle states."""
    from cliqz_etl_spark.streaming.jobs import funnel_progress

    ev = (_event_stream(spark, sf_dir)
          .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()
                 & F.col("event_type").isin("signup", "view", "purchase"))
          .select("user_id", F.unix_micros("ts").alias("tsu"),
                  F.col("event_type").alias("et")))
    drained = _drain(funnel_progress(ev), "seqfunnel", mode="update")
    w = Window.partitionBy("user_id")
    latest = (drained
              .withColumn("mx", F.max("n_seen").over(w))
              .where(F.col("n_seen") == F.col("mx")))
    month_us = 30 * 86400 * 1000000
    return latest.agg(
        F.count("t1").cast("long").alias("n_signup"),
        F.count("t2").cast("long").alias("n_view_after"),
        F.count("t3").cast("long").alias("n_purchase_after"),
        F.count(F.when(F.col("t3") <= F.col("t1") + F.lit(month_us), 1))
        .cast("long").alias("n_converted_30d"))


SHH_K = 128     # global heavy-hitter threshold divisor AND per-bucket counters
SHH_BUCKETS = 8


@query(
    "streaming_heavy_hitters",
    # exact GROUP BY + HAVING — a different algorithm entirely, so the
    # hash match is evidence the streaming MG screen lost no heavy hitter
    oracle=f"""
    WITH ev AS (
        SELECT user_id FROM events WHERE user_id IS NOT NULL
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev)
    SELECT user_id AS user_id, CAST(count(*) AS BIGINT) AS cnt
    FROM ev CROSS JOIN tot
    GROUP BY user_id, tot.n
    HAVING count(*) * {SHH_K} > tot.n
    """,
)
@_scoped_legacy_nanos
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with frequency > n/{128} — heavy_hitters_exact's STREAMING
    sibling: the Misra-Gries screen runs as bounded per-bucket state
    over the event stream (128 counters per bucket survive any batch
    split; eviction engages once a bucket sees >128 distinct users, as
    the sf0.1 corpus does), then the exact pass counts candidates only
    against the batch table. The bounded-state screen is the shape that
    tracks hot keys over an unbounded stream where per-key state
    (running_user_totals) would grow without limit."""
    from cliqz_etl_spark.streaming.jobs import mg_candidate_state
    from cliqz_etl_spark.tables import load_table as _lt

    ev = (_event_stream(spark, sf_dir)
          .where(F.col("user_id").isNotNull())
          .select("user_id", (F.col("user_id") % SHH_BUCKETS).alias("bucket")))
    drained = _drain(mg_candidate_state(ev, SHH_K, SHH_BUCKETS), "shh",
                     mode="update")
    w = Window.partitionBy("bucket")
    cand = (drained.withColumn("mx", F.max("n_seen").over(w))
            .where(F.col("n_seen") == F.col("mx"))
            .select(F.explode("candidates").alias("user_id"))
            .distinct())
    evb = _lt(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    n = evb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (evb.join(F.broadcast(cand), ["user_id"], "left_semi")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .crossJoin(F.broadcast(n))
            .where(F.col("cnt") * SHH_K > F.col("n"))
            .select("user_id", "cnt"))


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a file-stream source (explicit schema, the file-stream
    contract; matches the parquet layout the driver generates)."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


@query(
    "streaming_dedup_screen",
    # identical SQL to dedup_incremental's oracle: the streaming run must
    # produce exactly the batch screen's candidate set (the established
    # streaming-vs-batch equivalence discipline)
    oracle=_BUCKETS_CTE + """
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    """,
)
def streaming_dedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup screening as a STREAM: arriving documents
    (the doc_id % 5 == 0 slice, riding a file-stream source) are screened
    inside foreachBatch against the accumulated corpus's LSH band index
    (batch-side, precomputed once and reused across micro-batches), and
    each micro-batch's matches append to a staged parquet sink. The
    production ingest-dedup layout: the stream pays only its own
    signatures per batch, corpus index partitions are read in place, and
    the drained match set must equal the batch screen pair-for-pair
    (dedup_incremental's oracle, verbatim). foreachBatch is at-least-once
    per batch; the one-shot availableNow drain into a fresh staging dir
    keeps this run exactly-once, and a production deployment would key
    the sink by batchId (the jsonl_sink/run_to_upsert discipline)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.operators.dedup import incremental_lsh_matches
    from cliqz_etl_spark.queries.dedup import N_BANDS, N_PERM, SHINGLE_K
    from cliqz_etl_spark.tables import load_table

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 != 0)
    batch_stream = _doc_stream(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    # stable per-sf_dir staging root, wiped per call — mkdtemp per
    # invocation leaked a pair of dirs every run (the running_user_totals
    # drain discipline, applied here after the round-10 review)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_dedup_screen_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"

    def screen(batch: DataFrame, batch_id: int) -> None:
        (incremental_lsh_matches(batch, corpus, "doc_id", "text",
                                 N_PERM, N_BANDS, SHINGLE_K)
         .write.mode("append").parquet(out))

    drain(batch_stream, lambda w: w.foreachBatch(screen)
          .option("checkpointLocation", ckpt))
    # distinct batch-side: re-delivered docs across micro-batches (the
    # at-least-once ingest case) collapse to one candidate row
    if not os.path.isdir(out):  # no matching source file: no batch wrote
        return spark.createDataFrame([], "new_id long, corpus_id long")
    return spark.read.parquet(out).select("new_id", "corpus_id").distinct()


# --------------------------------------------------------------------------
# Streaming drift monitor — PSI between a batch reference slice and the
# LIVE event stream, via mergeable fixed-bound histograms. Unlike
# psi_drift's data-derived bounds (a batch luxury: a stream cannot know
# the global min/max), buckets here are fixed-edge, which is what makes
# per-micro-batch partial counts SUMMABLE: each foreachBatch stages its
# own bucket histogram, and the monitor's final state is just the
# per-bucket sum — the production drift-monitor shape (bounded state:
# B counters, regardless of stream volume). The oracle computes the
# same fixed-bucket PSI in one batch pass, so the hash match proves the
# micro-batch merge lost nothing.
# --------------------------------------------------------------------------
_DRIFT_CUTOFF = "2024-01-16 00:00:00"
_DRIFT_BUCKET = "CAST(greatest(0, least(9, floor(value / 50))) AS BIGINT)"


def _drift_oracle() -> str:
    from cliqz_etl_spark.queries.advanced import _psi_term_sql

    return f"""
    WITH base AS (
        SELECT {_DRIFT_BUCKET} AS bucket,
               CAST(ts >= TIMESTAMP '{_DRIFT_CUTOFF}' AS BIGINT) AS cur
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), spine AS (SELECT unnest(range(10)) AS bucket),
    cnt AS (
        SELECT spine.bucket AS bucket,
               CAST(COALESCE(sum(1 - cur), 0) AS BIGINT) AS n_ref,
               CAST(COALESCE(sum(cur), 0) AS BIGINT) AS n_cur
        FROM spine LEFT JOIN base ON base.bucket = spine.bucket
        GROUP BY spine.bucket
    ), tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS a_tot,
               CAST(sum(n_cur) AS BIGINT) AS b_tot
        FROM cnt
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_ref, n_cur,
           {_psi_term_sql('n_ref', 'n_cur', 'a_tot', 'b_tot')}
               AS psi_contrib_micro
    FROM cnt CROSS JOIN tot
    """


@query("streaming_drift_monitor", oracle=_drift_oracle())
@_scoped_legacy_nanos
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the post-cutoff event-value stream against the
    pre-cutoff batch reference, over fixed 10-bucket value histograms.

    Plan shape: the stream pays one B-row histogram per micro-batch
    (map-side combine inside the batch, appended to the staging sink);
    the monitor state is the per-bucket SUM of those partials — fixed
    bounds make the histogram a commutative monoid, which is the whole
    trick. The reference histogram is one batch aggregate; the spine
    join, totals, and quantized-ln PSI terms are all 10-row frames. At
    100 TB/day the stream side still stages B rows per batch."""
    import hashlib
    import shutil
    import tempfile

    from cliqz_etl_spark.queries.advanced import _psi_term_sql
    from cliqz_etl_spark.tables import load_table as _lt

    bucket = F.expr(_DRIFT_BUCKET)
    cutoff = F.lit(_DRIFT_CUTOFF).cast("timestamp")

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"cliqz_drift_mon_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"

    stream = (_event_stream(spark, sf_dir)
              .where(F.col("value").isNotNull() & F.col("ts").isNotNull()
                     & (F.col("ts") >= cutoff))
              .select(bucket.alias("bucket")))

    def stage_histogram(batch: DataFrame, batch_id: int) -> None:
        (batch.groupBy("bucket")
         .agg(F.count(F.lit(1)).cast("long").alias("n"))
         .write.mode("append").parquet(out))

    drain(stream, lambda w: w.foreachBatch(stage_histogram)
          .option("checkpointLocation", ckpt))

    if os.path.isdir(out):
        cur = (spark.read.parquet(out).groupBy("bucket")
               .agg(F.sum("n").cast("long").alias("c")))
    else:  # no micro-batch fired (no post-cutoff rows in the source)
        cur = spark.createDataFrame([], "bucket long, c long")

    ref = (_lt(spark, sf_dir, "events")
           .where(F.col("value").isNotNull() & F.col("ts").isNotNull()
                  & (F.col("ts") < cutoff))
           .select(bucket.alias("bucket"))
           .groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("r")))

    from cliqz_etl_spark.operators.dedup import _materialize

    spine = spark.range(10).select(F.col("id").cast("long").alias("bucket"))
    # materialized: the 10-row bucket frame feeds the totals aggregate
    # AND the final term projection — unpersisted, both the reference
    # corpus aggregate and the drained-output read ran twice
    cnt = _materialize(
        spine.join(ref, "bucket", "left").join(cur, "bucket", "left")
        .select("bucket",
                F.coalesce(F.col("r"), F.lit(0)).cast("long")
                .alias("n_ref"),
                F.coalesce(F.col("c"), F.lit(0)).cast("long")
                .alias("n_cur")))
    tot = cnt.agg(F.sum("n_ref").cast("long").alias("a_tot"),
                  F.sum("n_cur").cast("long").alias("b_tot"))
    return (cnt.crossJoin(F.broadcast(tot))
            .select("bucket", "n_ref", "n_cur",
                    F.expr(_psi_term_sql("n_ref", "n_cur", "a_tot", "b_tot"))
                    .alias("psi_contrib_micro")))
