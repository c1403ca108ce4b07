"""SparkSession factory.

Replaces the reference's ``sc`` / ``sqlContext`` bootstrap
(/root/reference/cliqz_etl/testpilot_data.py:84, profile_daily.py:9) with a
single configured ``SparkSession``. Config is chosen for correctness first
(UTC session timezone, ANSI off so try-semantics match the reference's
error->NULL cells) and for scale second (AQE on: dynamic coalescing, skew
join splitting, dynamic broadcast selection).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf. shuffle.partitions matters most: AQE
# coalesces down from this at runtime, so it is an upper bound, not a fixed
# cost.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Reference semantics: bad cell -> NULL, never a thrown cast error
    # (testpilot_data.py:53-63). ANSI mode would turn those into exceptions.
    "spark.sql.ansi.enabled": "false",
    # Arrow for any pandas_udf / mapInPandas path (multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Idempotent daily re-runs overwrite only the partitions present in the
    # output (replaces the reference's hand-built /submission={day} paths,
    # testpilot_data.py:72-82).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Partition values stay STRINGS on read-back: inference would flip a
    # written submission='20170101' into an int on the next scan, so the
    # same column changes dtype between the writing job and the reading
    # one — exactly the silent cross-job dtype trap the r3 testdata flip
    # demonstrated. Consumers cast explicitly where they want numbers.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.parquet.compression.codec": "zstd",
}


def _local_heap_default() -> str:
    """min(16g, 70% of physical RAM), floored at 1g, in whole GiB — the
    sysconf probe fails closed to 16g on platforms without SC_PHYS_PAGES
    (the pre-sizing behavior)."""
    try:
        page = os.sysconf("SC_PAGE_SIZE")
        pages = os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    if page <= 0 or pages <= 0:
        # POSIX sysconf returns -1 (without raising) for indeterminate
        # values — each factor checked separately, because (-1)*(-1)
        # would sneak past a product-level guard. Fail closed like the
        # except branch, never to "1g".
        return "16g"
    return f"{max(1, min(16, int(page * pages * 0.7 / (1 << 30))))}g"


def warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Pay the Python-worker bootstrap cost once, outside any timed region.

    Without this, whichever Arrow/pandas query runs FIRST in a fresh
    session absorbs the daemon fork plus the per-worker numpy/pandas
    import storm (measured 72 s cold at local[32] — contaminating even a
    best-of-2 min). One no-op pandas_udf job at full parallelism, with at
    least one row per partition so every worker actually forks (64 rows
    across >64 partitions would leave the surplus workers cold). Called
    by bench.py, the one query-timing loop, and by the benchmark's own
    runner in etlbench/; a source-scan test in tests/test_tools.py keeps
    other copies of the loop out of the program and its tools."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _arrow_warmup(s):
        return s

    spark.range(0, max(64, cpus), 1, cpus).select(
        _arrow_warmup("id")).collect()


def get_spark(app_name: str = "cliqz_etl_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to ``local[N]``
    locally and is left unset when a cluster manager provides it."""
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if master and master.startswith("local"):
        # In local mode the driver heap IS the whole cluster: executors,
        # shuffle buffers and broadcast blocks all live in this one JVM,
        # and Spark's default spark.driver.memory=1g means 32 concurrent
        # tasks share 1 GiB no matter how much RAM the box has (measured:
        # GC-locker thrash, then OOM, on a 10x corpus with 123 GiB free).
        # Sized to min(16g, ~70% of physical RAM) so a small box doesn't
        # hand the whole machine to the JVM and invite the OS OOM killer;
        # SPARK_GRAFT_DRIVER_MEM overrides. Only effective before the JVM
        # launches, which get_spark controls; on a real cluster the
        # submitter sizes memory instead.
        conf.setdefault("spark.driver.memory",
                        os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                       _local_heap_default()))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
