"""Benchmark harness, and the one loop that times registry queries:

    python bench.py              # the BENCH_HEADLINE set
    python bench.py q1 q2 ...    # named registry queries

Tables come from $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) and
the session runs on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "cpus": ...,
"build_s": {name: sec}, "calibration_post": {...},
"queries": {name: sec}, "sf": ..., "calibration": {...}}.

Each query is executed to completion (count-style materialization via
``collect``) after a warm-up of the session; wall-clock per query, and
the part of it spent building the DataFrame (``q.fn`` returning).
Unknown names are rejected before a session starts. Only a headline
run writes BENCH_LAST.json.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

# Headline set: one per operator family, weighted toward shuffle-heavy
# shapes — maintained next to DRIVER_ORDER in cliqz_etl_spark/queries so
# both gate lists live in one place.
from cliqz_etl_spark.queries import BENCH_HEADLINE as HEADLINE  # noqa: E402


def calibrate(spark) -> dict[str, float]:
    """Host-speed calibration: identical deterministic work every round, so
    cross-round query times can be normalized for machine noise (the same
    commit has measured 1.5x apart on different days on a shared host).
    The python loop is the single-core speed the Spark job cannot see."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 1)").collect()
    jvm = time.perf_counter() - t0
    return {"python_loop_sec": round(py, 3),
            "spark_job_sec": round(jvm, 3)}


def time_queries(spark, registry, names, sf_dir: str
                 ) -> tuple[dict[str, float], dict[str, float]]:
    """Best-sample wall clock per query, and that sample's build time.

    best-of-2: wall-clock on a shared box is noisy; the min is the stable
    estimator for regression comparison across rounds. If the two samples
    disagree wildly (host-level noise burst hit one of them), take one
    more so a single bad window can't distort the recorded number."""
    from cliqz_etl_spark.operators.cache import release_all

    queries: dict[str, float] = {}
    build_s: dict[str, float] = {}
    for name in names:
        q = registry[name]

        def run_once() -> tuple[float, float]:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            built = time.perf_counter()
            df.collect()
            return time.perf_counter() - t0, built - t0

        samples = [run_once() for _ in range(2)]
        totals = [total for total, _ in samples]
        if max(totals) > 1.5 * min(totals) + 0.2:
            samples.append(run_once())
        # release operator-persisted intermediates AFTER the query's
        # samples: repeat samples may reuse the persisted frame (the
        # steady-state cost of a resident operator, and what BASELINE.md
        # was seeded with) but caches never accumulate across queries
        release_all()
        total, build = min(samples)
        queries[name], build_s[name] = round(total, 3), round(build, 3)
    return queries, build_s


def main(argv: list[str] | None = None) -> None:
    from cliqz_etl_spark.queries import load_all
    from cliqz_etl_spark.session import get_spark, warm_python_workers

    named = sys.argv[1:] if argv is None else argv
    registry = load_all()
    unknown = [n for n in named if n not in registry]
    if unknown:
        raise SystemExit(f"not in the registry: {unknown}")
    names = named or [n for n in HEADLINE if n in registry]

    spark = get_spark("cliqz-etl-spark-bench", master=f"local[{CPUS}]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM/codegen paths once so per-query numbers measure the
    # plan, not session bootstrap.
    spark.range(1000).selectExpr("sum(id)").collect()
    # Warm the Python-worker pool the same way (guide §1: measure the
    # plan, not bootstrap) — shared helper, one no-op pandas_udf job at
    # full parallelism, outside any timed region (see session.py for the
    # measured 72 s cold-fork rationale).
    warm_python_workers(spark, int(CPUS))

    calibration = calibrate(spark)
    timings, build_s = time_queries(spark, registry, names, SF_DIR)
    calibration_post = calibrate(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Every key added since the first rounds sits BEFORE "queries": a
    # stdout capture may keep only the line's tail, and bench_compare
    # recovers the object from its "queries ... calibration" end.
    payload = {
        "metric": ("queries_total_wall_clock" if named
                   else "headline_queries_total_wall_clock"),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "cpus": int(CPUS),
        "build_s": build_s,
        "calibration_post": calibration_post,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": calibration,
    }
    line = json.dumps(payload)
    print(line)
    # Self-recorded artifact: the driver captures only the LAST N chars of
    # stdout, which has twice clipped this line mid-object (BENCH_r09/r10).
    # The on-disk copy is complete by construction; bench_compare prefers
    # it over the tail capture when comparing the latest round. A named
    # run (adjudication, scale evidence) must not replace it.
    if not named:
        try:
            (Path(__file__).resolve().parent / "BENCH_LAST.json").write_text(
                line + "\n")
        except OSError:
            pass  # read-only checkout: stdout remains the fallback
    spark.stop()


if __name__ == "__main__":
    main()
