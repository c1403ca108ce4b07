"""The three workloads. Each drives the program through its public
functions, one op at a time, and checks every op's output.

An op returns its latency, whether its output was correct, and (when a
Tracer is passed) its per-layer metrics. Work the benchmark does only to
check or trace an op runs outside the op's timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import os
import random
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etlbench import gen
from etlbench.trace import ProgressLog, Tracer

LayerMetrics = dict[str, float]


def _files_since(root: str, since_ns: int) -> tuple[int, int]:
    """Data files under ``root`` modified at or after ``since_ns``."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith("part-"):
                st = os.stat(os.path.join(dirpath, name))
                if st.st_mtime_ns >= since_ns:
                    n += 1
                    size += st.st_size
    return n, size


def _run_checked(workload, n: int) -> list[float]:
    """Warm-up ops: untraced, and a wrong output stops the run. Returns
    their latencies."""
    latencies = []
    for i in range(n):
        latency, ok, _ = workload.op(i, None)
        if not ok:
            raise RuntimeError(f"warm-up op {i} produced a wrong output")
        latencies.append(latency)
    return latencies


@contextlib.contextmanager
def _layer_spans(tr: Tracer, i: int):
    """Spans around the layer calls ``cli.cmd_run_day`` makes: every
    parquet write (named by its dataset), every parquet read-back, and the
    rollup build. The wrapped functions are looked up by ``cmd_run_day``
    and ``pipelines.testpilot`` at call time, so the traced op runs the
    program's own code path."""
    from unittest import mock

    import cliqz_etl_spark.io as io_mod
    import cliqz_etl_spark.pipelines.profile_daily as rollup_mod
    import cliqz_etl_spark.pipelines.testpilot as testpilot_mod

    write, read = io_mod.write_parquet, io_mod.read_parquet
    build = rollup_mod.profile_daily

    def traced_write(df, path, **kw):
        name = path.rstrip("/").split("/")[-2].removeprefix("cliqz_")
        span = ("profile_daily.write_s" if name == "profile_daily"
                else f"testpilot.{name}_write_s")
        with tr.span(span, i):
            return write(df, path, **kw)

    def traced_read(spark, path, **kw):
        with tr.span("io.readback_s", i):
            return read(spark, path, **kw)

    def traced_build(*a, **kw):
        with tr.span("profile_daily.build_s", i):
            return build(*a, **kw)

    with mock.patch.object(io_mod, "write_parquet", traced_write), \
            mock.patch.object(testpilot_mod, "write_parquet", traced_write), \
            mock.patch.object(io_mod, "read_parquet", traced_read), \
            mock.patch.object(rollup_mod, "profile_daily", traced_build):
        yield


class DailyEtl:
    """One op = one ``cli.cmd_run_day`` over a rotating window of K days.

    Every workload has the same shape: ``generate`` writes the inputs
    before the session starts, ``warmup`` runs the untimed ops and returns
    their latencies, ``first_op`` is the index of the first timed op, the
    timed loop stops only on a multiple of ``ROUND`` ops, and a traced run
    alternates blocks of ``TRACE_BLOCK`` traced and untraced ops."""

    K = 2
    WARMUP_OPS = 2
    # Three timed ops: their median drops a single op slowed by the host.
    ROUND = 3
    TRACE_BLOCK = K
    SPEC = gen.DaySpec()

    def __init__(self, workdir: str, seed: int):
        self.spark: SparkSession | None = None
        self.workdir, self.seed = workdir, seed
        self.base = os.path.join(workdir, "warehouse")
        self.key_file = os.path.join(workdir, "aes_key.txt")
        self.days: list[gen.DayFiles] = []
        self.written: set[str] = set()
        self.first_op = self.WARMUP_OPS

    def generate(self) -> None:
        with open(self.key_file, "w") as f:
            f.write(gen.AES_KEY + "\n")
        self.days = [gen.write_day(self.workdir, self.seed, i, gen.day_name(i),
                                   self.SPEC) for i in range(self.K)]

    def warmup(self) -> list[float]:
        """One op per day, so every timed op's rollup spans all K days."""
        return _run_checked(self, self.WARMUP_OPS)

    def _argv(self, d: gen.DayFiles) -> list[str]:
        return ["run-day", "--day", d.day, "--base", self.base,
                "--pings", d.pings, "--search-csv", d.search_csv,
                "--main-summary", d.main_summary,
                "--aes-key-file", self.key_file]

    def op(self, i: int, tr: Tracer | None) -> tuple[float, bool, LayerMetrics]:
        from cliqz_etl_spark.cli import build_parser, cmd_run_day

        d = self.days[i % self.K]
        args = build_parser().parse_args(self._argv(d))
        since = time.time_ns()
        spans = contextlib.nullcontext()
        if tr is not None:
            self.spark.sparkContext.setJobGroup(f"op-{i}", "daily_etl op")
            spans = _layer_spans(tr, i)
        t0 = time.perf_counter()
        with spans, contextlib.redirect_stdout(io.StringIO()):
            written = cmd_run_day(args, spark=self.spark)["written"]
        latency = time.perf_counter() - t0
        if tr is not None:
            self.spark.sparkContext.setJobGroup("bench", "output check")
        self.written.add(d.day)
        ok = written == {
            "testpilot": d.testpilot_rows,
            "testpilottest": d.testpilottest_rows,
            "search": d.search_rows,
            "profile_daily": gen.expected_rollup_rows(self.days, self.written,
                                                      d),
        } and self._decrypted_rows(d) == d.testpilottest_rows
        if tr is None:
            return latency, ok, {}
        m = tr.job_counters(f"op-{i}")
        m.update(self._decrypt_probe(d, i, tr))
        files, size = _files_since(self.base, since)
        m.update({name: tr.total(name, i) for name in (
            "testpilot.testpilot_write_s", "testpilot.testpilottest_write_s",
            "testpilot.search_write_s", "profile_daily.build_s",
            "profile_daily.write_s", "io.readback_s")})
        m.update({"io.output_bytes": size, "io.files_written": files})
        return latency, ok, m

    def _decrypted_rows(self, d: gen.DayFiles) -> int:
        """testpilottest rows of the day whose decrypted cliqz id matches
        the plaintext id the generator put in sessionId."""
        tpt = self.spark.read.parquet(f"{self.base}/cliqz_testpilottest/v1")
        return tpt.where((F.col("submission") == d.day) & (
            F.col("cliqz_client_id") == F.expr("substring(session_id, 3)"))
        ).count()

    def _decrypt_probe(self, d: gen.DayFiles, i: int, tr: Tracer
                       ) -> LayerMetrics:
        """The decryption layer alone over the day's ciphertexts: its time,
        and how many rows the JVM path NULLs and hands to the Python
        zero-pad fallback. Runs after the op, outside its latency."""
        from cliqz_etl_spark.extract import path_col
        from cliqz_etl_spark.functions.scalars import decrypt_aes_ecb_b64
        from cliqz_etl_spark.io import read_json
        from cliqz_etl_spark.pipelines.testpilot import PING_SCHEMA

        key = F.lit(gen.AES_KEY)
        ct = path_col("payload/payload/cliqzSession")
        src = read_json(self.spark, d.pings, schema=PING_SCHEMA).where(
            (F.col("meta.submissionDate") == d.day)
            & (F.col("meta.docType") == "testpilottest") & ct.isNotNull())
        with tr.span("functions.decrypt_s", i):
            src.select(F.sum(F.length(decrypt_aes_ecb_b64(ct, key)))).collect()
        fallback = src.where(decrypt_aes_ecb_b64(
            ct, key, zero_pad_fallback=False).isNull()).count()
        return {"functions.decrypt_s": tr.total("functions.decrypt_s", i),
                "functions.decrypt_fallback_rows": fallback}


# Registry queries per batch family; the seed sets the order they run in.
ADHOC_MIX = (
    "revenue_by_nation",    # star-schema join/agg
    "longest_streak",       # windows
    "dedup_exact",          # dedup
    "ann_ivf",              # ANN (tracked broadcasts)
    "text_quality",         # text
)


def _row_digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive digest; doubles are compared to
    nine significant digits, which a reordered sum cannot move."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{norm(x)}"
                                  for k, x in sorted(v.items())) + "}"
        return repr(v)
    h = hashlib.sha256()
    for line in sorted(norm(tuple(r)) for r in rows):
        h.update(line.encode())
    return len(rows), h.hexdigest()


class AdhocQueries:
    """One op = one registry query collected, then its persists released."""

    # Queries still get faster over the first timed pass after one warm-up
    # pass (JIT), and no longer after two.
    WARMUP_ROUNDS = 2
    SCALE = 0.02
    # Two passes over the mix: every query weighs the same in the median.
    ROUND = 2 * len(ADHOC_MIX)
    TRACE_BLOCK = len(ADHOC_MIX)

    def __init__(self, workdir: str, seed: int):
        self.spark: SparkSession | None = None
        self.seed = seed
        self.data = os.path.join(workdir, "tables")
        self.reference: dict[str, tuple[int, str]] = {}
        self.first_op = 0
        rng = random.Random(seed)
        self.order: list[str] = []
        for _ in range(64):
            rnd = list(ADHOC_MIX)
            rng.shuffle(rnd)
            self.order += rnd

    def generate(self) -> None:
        gen.write_star(self.data, self.seed, self.SCALE)

    def warmup(self) -> list[float]:
        """Run every query WARMUP_ROUNDS times; the first result of each is
        the reference later ops must reproduce, and a later warm-up result
        that differs from it stops the run."""
        from cliqz_etl_spark.operators.cache import release_all
        from cliqz_etl_spark.queries import load_all

        registry = load_all()
        latencies = []
        for _ in range(self.WARMUP_ROUNDS):
            for name in ADHOC_MIX:
                t0 = time.perf_counter()
                rows = registry[name].fn(self.spark, self.data).collect()
                release_all()
                latencies.append(time.perf_counter() - t0)
                digest = _row_digest(rows)
                if self.reference.setdefault(name, digest) != digest:
                    raise RuntimeError(f"warm-up {name} is not repeatable")
        return latencies

    def op(self, i: int, tr: Tracer | None) -> tuple[float, bool, LayerMetrics]:
        from cliqz_etl_spark.operators.cache import release_all
        from cliqz_etl_spark.queries import load_all

        name = self.order[i % len(self.order)]
        q = load_all()[name]
        sc = self.spark.sparkContext
        if tr is None:
            t0 = time.perf_counter()
            rows = q.fn(self.spark, self.data).collect()
            release_all()
            latency = time.perf_counter() - t0
            return latency, _row_digest(rows) == self.reference[name], {}
        t0 = time.perf_counter()
        sc.setJobGroup(f"op-{i}-build", name)
        with tr.span("queries.build_s", i):
            df = q.fn(self.spark, self.data)
        sc.setJobGroup(f"op-{i}-exec", name)
        with tr.span("queries.exec_s", i):
            rows = df.collect()
        with tr.span("cache.release_s", i):
            persisted = release_all()
        latency = time.perf_counter() - t0
        sc.setJobGroup("bench", "output check")
        ok = _row_digest(rows) == self.reference[name]
        m = tr.job_counters(f"op-{i}-build", f"op-{i}-exec")
        m.update({
            "queries.build_s": tr.total("queries.build_s", i),
            "queries.build_jobs": tr.job_counters(f"op-{i}-build")["spark.jobs"],
            "queries.exec_s": tr.total("queries.exec_s", i),
            "cache.persisted": persisted,
            "cache.release_s": tr.total("cache.release_s", i),
        })
        return latency, ok, m


class StreamIngest:
    """One op = land one event file, then one availableNow drain of
    windowed_event_counts -> run_to_parquet over a persistent checkpoint."""

    EVENTS_PER_OP = 2000
    # Drains barely get faster after the first one; on a slowed host the
    # second still can, and the median of three timed drains drops it.
    WARMUP_OPS = 1
    ROUND = 3
    TRACE_BLOCK = 1

    def __init__(self, workdir: str, seed: int):
        self.spark: SparkSession | None = None
        self.seed = seed
        self.src = os.path.join(workdir, "landing")
        self.staging = os.path.join(workdir, "staging")
        self.out = os.path.join(workdir, "counts")
        self.ckpt = os.path.join(workdir, "checkpoint")
        self.expected: dict[tuple[str, str], tuple[int, int]] = {}
        self.max_ts = None
        self.first_op = self.WARMUP_OPS

    def generate(self) -> None:
        os.makedirs(self.src)
        os.makedirs(self.staging)

    def warmup(self) -> list[float]:
        return _run_checked(self, self.WARMUP_OPS)

    def op(self, i: int, tr: Tracer | None) -> tuple[float, bool, LayerMetrics]:
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType, TimestampType)

        from cliqz_etl_spark.streaming.jobs import (read_event_stream,
                                                    run_to_parquet,
                                                    windowed_event_counts)

        text, expect, last = gen.stream_file(self.seed, i, self.EVENTS_PER_OP)
        staged = os.path.join(self.staging, f"events-{i:06d}.json")
        with open(staged, "w") as f:
            f.write(text)
        self.expected.update(expect)
        schema = StructType([
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ])
        log = None
        if tr is not None:
            log = ProgressLog()
            self.spark.streams.addListener(log)
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src, os.path.basename(staged)))
        run_to_parquet(windowed_event_counts(
            read_event_stream(self.spark, self.src, schema)),
            self.out, self.ckpt)
        latency = time.perf_counter() - t0
        self.max_ts = max(self.max_ts or last, last)
        ok = self._check()
        if tr is None:
            return latency, ok, {}
        tr.drain_listener_bus()
        self.spark.streams.removeListener(log)
        m = tr.job_counters(*log.run_ids)
        m.update(log.phase_totals())
        m["streaming.drain_s"] = latency
        return latency, ok, m

    def _check(self) -> bool:
        """Emitted rows must be exactly the windows the watermark (latest
        event time minus one hour) has closed, with the generator's counts
        and value totals."""
        import datetime as dt

        watermark = self.max_ts - dt.timedelta(hours=1)
        want = {k: v for k, v in self.expected.items()
                if dt.datetime.fromisoformat(k[0]) + dt.timedelta(hours=1)
                <= watermark}
        got = {}
        for r in self.spark.read.parquet(self.out).collect():
            key = (r["window_start"].strftime("%Y-%m-%d %H:%M:%S"),
                   r["event_type"])
            if key in got:
                return False  # a window emitted twice
            got[key] = (r["n_events"], round(r["total_value"] * 100))
        return got == want


WORKLOADS = {"daily_etl": DailyEtl, "adhoc_queries": AdhocQueries,
             "stream_ingest": StreamIngest}
