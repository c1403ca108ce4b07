"""Benchmark entry point: one workload, one closed-loop client, one process.

    python3 etlbench/run.py --workload daily_etl --seed 1 --seconds 3 --trace 0

Generates the workload's inputs from --seed, starts a local[2] session the
way the program does (session.get_spark), loads the query registry, warms
the Python workers, runs the workload's warm-up ops, then runs ops back to
back for --seconds and checks every op's output. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 traced and
untraced rounds of ops alternate and the metrics are the per-layer ones
(see README.md). A human-readable report goes to stderr. --workload all
runs each workload in its own process.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 2
HARD_STOP_S = 60  # ops that keep raising end the run this long after --seconds
WORKLOAD_NAMES = ("daily_etl", "adhoc_queries", "stream_ingest")

# The metrics BENCHMARK.json declares. op_p90_s and failed_frac are printed
# too (stderr); failed ops are also the JSON's "failed" count. ops_per_min
# counts the untraced ops whose output was correct, per minute spent in the
# program (the benchmark's own checks and input staging excluded).
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_min": "1/min"}
PER_LAYER = {
    "session.start_s": "s", "session.registry_load_s": "s",
    "session.warm_workers_s": "s",
    "testpilot.testpilot_write_s": "s", "testpilot.testpilottest_write_s": "s",
    "testpilot.search_write_s": "s",
    "functions.decrypt_s": "s", "functions.decrypt_fallback_rows": "count",
    "profile_daily.build_s": "s", "profile_daily.write_s": "s",
    "io.readback_s": "s", "io.output_bytes": "bytes",
    "io.files_written": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "cache.persisted": "count", "cache.release_s": "s",
    "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}
TIMES = ("s", "ms")
INPUT_PER_OP = {
    "daily_etl": "one day: 400 clients (~1.2k pings, 30% of ciphertexts "
                 "zero-padded, 5% other-day), 400 search rows; K=2 days",
    "adhoc_queries": "one registry query over scale-0.02 tables "
                     "(120k lineitem rows, 20k events, 1k documents, "
                     "400 embeddings)",
    "stream_ingest": "one file of 2000 events, one hour of event time",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=3)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _percentile(xs: list[float], q: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _start_session(workdir: str):
    from cliqz_etl_spark.session import get_spark

    spark = get_spark("etlbench", master=f"local[{CORES}]", extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(workdir, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, workdir: str) -> dict:
    from etlbench.workloads import WORKLOADS

    # numpy seeds must be non-negative; any int the caller passes is valid
    workload = WORKLOADS[args.workload](workdir, args.seed % 2**32)
    t = time.perf_counter()
    workload.generate()
    gen_s = time.perf_counter() - t

    setup: dict[str, float] = {}
    t = time.perf_counter()
    spark = _start_session(workdir)
    setup["session.start_s"] = time.perf_counter() - t
    try:
        from cliqz_etl_spark.queries import load_all
        from cliqz_etl_spark.session import warm_python_workers

        t = time.perf_counter()
        load_all()
        setup["session.registry_load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_python_workers(spark, CORES)
        setup["session.warm_workers_s"] = time.perf_counter() - t
        workload.spark = spark
        warmup = workload.warmup()
        i = first = workload.first_op
        setup_s = time.perf_counter() - T_START - gen_s

        tracer = None
        if args.trace:
            from etlbench.trace import Tracer
            tracer = Tracer(spark)
        plain: list[float] = []
        traced: list[float] = []
        layers: list[dict] = []
        attempted = failed = 0
        # untraced ops: how many completed correctly, and the time spent in
        # the program (op latencies; the whole call for an op that raised)
        completed, busy_s = 0, 0.0
        deadline = time.perf_counter() + args.seconds
        while True:
            # traced and untraced blocks alternate, so both see the same ops
            block = (i - first) // workload.TRACE_BLOCK
            tr = tracer if args.trace and block % 2 == 0 else None
            t = time.perf_counter()
            try:
                # a traced op's layer spans are children of its op span
                with tr.span("op", i) if tr else contextlib.nullcontext():
                    latency, ok, m = workload.op(i, tr)
            except Exception:
                traceback.print_exc()
                latency, ok, m = None, False, None
            attempted += 1
            failed += not ok
            if latency is not None:
                (traced if tr else plain).append(latency)
                if tr:
                    layers.append(m)
            if tr is None:
                completed += ok
                busy_s += (time.perf_counter() - t if latency is None
                           else latency)
            i += 1
            now = time.perf_counter()
            if now >= deadline and (i - first) % workload.ROUND == 0 and (
                    plain and (traced or not args.trace)
                    or now >= deadline + HARD_STOP_S):
                break
        if not plain or args.trace and not traced:
            raise RuntimeError("no op of each kind completed")
        if tracer is not None:
            out_dir = os.path.join(ROOT, ".etlbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        _stop_session(spark)

    e2e = {"setup_s": setup_s, "op_p50_s": statistics.median(plain),
           "ops_per_min": 60 * completed / busy_s}
    summary = {"workload": args.workload, "seed": args.seed,
               "input_per_op": INPUT_PER_OP[args.workload],
               "inputs_generated_s": gen_s, "warmup_latencies_s": warmup,
               "latencies_s": plain, "traced_latencies_s": traced,
               "failed_frac": failed / attempted}
    print(json.dumps(summary), file=sys.stderr)
    _print_table(args.workload, e2e, plain, failed, attempted)
    if not args.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    else:
        units = PER_LAYER
        values = dict.fromkeys(units, 0)  # a bypassed layer does no work
        values.update(setup)
        for key in layers[0]:  # times: median per op; counts: mean per op
            per_op = [m[key] for m in layers]
            values[key] = (statistics.median(per_op) if units[key] in TIMES
                           else statistics.fmean(per_op))
        values["trace.overhead_s"] = (statistics.median(traced)
                                      - statistics.median(plain))
        print(f"{args.workload}  traced op_p50_s {statistics.median(traced):.4f}"
              f" s, tracing overhead {values['trace.overhead_s']:+.4f} s",
              file=sys.stderr)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _print_table(workload: str, e2e: dict, latencies: list[float],
                 failed: int, attempted: int) -> None:
    """The human-readable report: every end-to-end metric by name and
    unit, plus p90 (with how many samples lie beyond it) and failed_frac."""
    for k, v in e2e.items():
        print(f"{workload}  {k:12s} {v:12.4f} {END_TO_END[k]}",
              file=sys.stderr)
    n = len(latencies)
    print(f"{workload}  {'op_p90_s':12s} {_percentile(latencies, 90):12.4f} s"
          f"      ({n} untraced ops, {n // 10} beyond p90)",
          file=sys.stderr)
    print(f"{workload}  {'failed_frac':12s} {failed / attempted:12.4f}    "
          f"({failed} of {attempted} ops failed)", file=sys.stderr)


def run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process (each pays its own setup)."""
    results = {}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    os.environ["TZ"] = "UTC"  # Python-side timestamps match the session's
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import cliqz_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"etlbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".etlbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # Keep every scratch file in the checkout: Python's and the JVMs' temp
    # dirs, and no JVM perf-data file (it would go to /tmp).
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(workdir))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
