"""Sources and sinks.

Re-expresses the reference's IO surface (SURVEY.md §2.1/§2.2) Spark-first:

- S1 ping scan with pushed-down metadata predicates -> partitioned parquet
  scan + ``.where`` on partition columns (Catalyst partition pruning).
- S2 CSV-with-header scan  (testpilot_data.py:172-173, minus the .rdd hop).
- S3 text scalar read      (testpilot_data.py:97).
- S4 parquet scan -> view  (profile_daily.py:11-14).
- K1/K2 partitioned idempotent parquet overwrite (testpilot_data.py:72-82):
  the hand-built ``.../cliqz_{name}/v1/submission={day}`` path becomes
  ``partitionBy`` + dynamic partition overwrite, which keeps the
  daily-re-run idempotency without string-built paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, *,
                 schema: StructType | None = None,
                 view: str | None = None,
                 merge_schema: bool = False, **predicates) -> DataFrame:
    """Parquet scan; keyword predicates become equality filters that Catalyst
    pushes into the scan (partition pruning when the column is a partition
    key — the rebuild of S1's `.where(submissionDate=day)` pushdown,
    testpilot_data.py:90-94).

    ``merge_schema=True`` reconciles footer schemas across files (schema
    evolution: columns added over time come back NULL-filled for old
    files). Off by default — the footer sweep costs one extra metadata
    pass over every file, which matters at millions of files; evolved
    tables should carry an explicit ``schema`` once stabilized."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    for col, value in predicates.items():
        df = df.where(F.col(col) == F.lit(value))
    if view:
        df.createOrReplaceTempView(view)
    return df


def read_orc(spark: SparkSession, path: str, *,
             schema: StructType | None = None,
             view: str | None = None, **predicates) -> DataFrame:
    """ORC scan — same pushdown contract as read_parquet (ORC carries
    row-group statistics and bloom filters; Catalyst pushes the equality
    predicates into the native reader). ORC support ships in Spark core,
    so warehouses migrating from Hive/ORC estates read in place."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.orc(path)
    for col, value in predicates.items():
        df = df.where(F.col(col) == F.lit(value))
    if view:
        df.createOrReplaceTempView(view)
    return df


def write_orc(df: DataFrame, path: str, *,
              partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """ORC sink, mirroring write_parquet's partitioned layout."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


CSV_NULL = "\\N"  # explicit NULL sentinel: the writer's default empty
# string is ambiguous against a real empty VARCHAR on read-back


def write_csv(df: DataFrame, path: str, *,
              header: bool = True,
              partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """CSV sink (the interchange twin of read_csv). Callers should write
    exactly-representable types only — longs and strings; a double loses
    its bit pattern through decimal printing, so money goes through the
    cents discipline BEFORE this sink. NULLs use the explicit CSV_NULL
    sentinel so they survive the round trip."""
    writer = (df.write.mode(mode)
              .option("header", str(header).lower())
              .option("nullValue", CSV_NULL))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.csv(path)


def read_csv(spark: SparkSession, path: str, *,
             schema: StructType | None = None, header: bool = True) -> DataFrame:
    """CSV scan with header (S2). Stays a DataFrame end-to-end — the
    reference dropped to ``.rdd`` (testpilot_data.py:173), which defeats
    column pruning; here typed columns come from an explicit schema or
    post-hoc try-casts (functions.scalars.clean_cast)."""
    reader = spark.read.options(header=str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_csv_sink(spark: SparkSession, path: str, *,
                  schema: StructType, header: bool = True) -> DataFrame:
    """Read-back twin of write_csv: explicit schema (inference is a full
    extra pass at scale and misreads an empty dataset) + the CSV_NULL
    sentinel so written NULLs return as NULL, not as the sentinel text."""
    return (spark.read.options(header=str(header).lower(),
                               nullValue=CSV_NULL)
            .schema(schema).csv(path))


def read_json(spark: SparkSession, path: str, *,
              schema: StructType | None = None) -> DataFrame:
    """Nested JSON scan (the ping-shaped ingest boundary). An explicit
    schema skips the inference pass — mandatory at 100 TB."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text_scalar(spark: SparkSession, path: str) -> str:
    """First line of a text file as a driver-side scalar (S3,
    testpilot_data.py:97), read on the driver through the Hadoop
    FileSystem: any scheme Spark reads (file, hdfs, s3a) works, and no
    Spark job runs. ``\\n``, ``\\r\\n`` and ``\\r`` all end the line, and
    a leading UTF-8 byte-order mark is dropped, as Hadoop's line reader
    (``sc.textFile``, Spark's CSV and text scans) drops it. An empty file
    or first line raises ValueError. Embed the result as a literal if
    used in executor-side expressions."""
    jio = spark._jvm.java.io
    stream = _hadoop_fs(spark, path).open(_hadoop_path(spark, path))
    try:
        line = jio.BufferedReader(
            jio.InputStreamReader(stream, "UTF-8")).readLine()
    finally:
        stream.close()
    line = (line or "").removeprefix("\ufeff")
    if not line:
        raise ValueError(f"{path}: first line is empty, expected a value")
    return line


_STAGE_SUFFIXES = (".__staging__", ".__compact__", ".__old__")


def _hadoop_path(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _hadoop_fs(spark: SparkSession, path: str):
    return _hadoop_path(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def _strip_scheme(path: str) -> str:
    """Drop a URI scheme prefix (``file:``, ``hdfs://nn``) so listing
    output can be sliced against a caller-supplied plain path."""
    import re

    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?(/.*)$", path)
    return m.group(2) if m else path


def _clean_stale_staging(spark: SparkSession, base_path: str) -> None:
    """Remove leftover staging/backup siblings from a previous crashed run
    so they don't leak a full table copy per run."""
    fs = _hadoop_fs(spark, base_path)
    for suffix in _STAGE_SUFFIXES:
        p = _hadoop_path(spark, base_path.rstrip("/") + suffix)
        if fs.exists(p):
            fs.delete(p, True)


def _swap_in(spark: SparkSession, staging: str, base_path: str) -> None:
    """Promote a fully-written staging dir over the base with FileSystem
    renames (metadata ops), never a second data rewrite: base ->
    .__old__, staging -> base, delete .__old__. A crash mid-swap always
    leaves at least one complete copy on disk (either base, or .__old__ +
    staging — recoverable by renaming either back); contrast the previous
    read-staging-and-overwrite-base, which deleted the only complete copy
    before rewriting it and doubled the write volume."""
    base = base_path.rstrip("/")
    fs = _hadoop_fs(spark, base)
    jbase, jstag = _hadoop_path(spark, base), _hadoop_path(spark, staging)
    jold = _hadoop_path(spark, base + ".__old__")
    if fs.exists(jold):
        fs.delete(jold, True)
    if fs.exists(jbase) and not fs.rename(jbase, jold):
        raise IOError(f"could not move {base} aside for swap")
    if not fs.rename(jstag, jbase):
        raise IOError(f"could not promote {staging} over {base}")
    fs.delete(jold, True)


def upsert_parquet(spark: SparkSession, base_path: str, updates: DataFrame,
                   key: str | list[str]) -> None:
    """SCD-1 upsert into a parquet table: rows in ``updates`` replace
    same-key rows in the base, new keys append. Implemented as
    anti-join(base, updates) ∪ updates -> staging write -> rename swap —
    ONE data write pass (a table format like Iceberg/Delta would make the
    swap a single atomic commit; the merge logic is identical).

    The rewrite cost is the whole table; partition the base and upsert
    per-partition (write_parquet's dynamic overwrite) when keys are
    partition-aligned — this helper is for the unpartitioned case."""
    keys = [key] if isinstance(key, str) else list(key)
    _clean_stale_staging(spark, base_path)
    base = spark.read.parquet(base_path)
    merged = base.join(updates.select(*keys).distinct(), keys, "left_anti") \
        .unionByName(updates)
    tmp = base_path.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_in(spark, tmp, base_path)


def _leaf_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every parquet data file under ``path`` (recursive),
    via the Hadoop FileSystem API — driver-side metadata only, no data read."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            out.append((p, st.getLen()))
    return out


def compact_parquet(spark: SparkSession, path: str, *,
                    target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Small-file compaction for a (possibly hive-partitioned) parquet table.

    Incremental/streaming writers leave partitions holding many
    sub-row-group files; at 100 TB scan cost becomes per-file open overhead
    and footer reads instead of IO. This rewrites ONLY the partitions whose
    mean data-file size is below ``target_bytes / 2`` (and that hold more
    than one file), coalescing each to ``ceil(partition_bytes /
    target_bytes)`` files; right-sized partitions are not touched or
    rewritten. File listing is driver-side metadata; the rewrite is one
    Spark job into a staging sibling, promoted by per-directory FileSystem
    renames — one data write pass, no window where the base is a partial
    rewrite (a table format like Iceberg/Delta would make the swap a
    single atomic commit; the compaction logic is identical).

    Returns {"partitions_compacted": n, "files_before": n, "files_after": n}.
    """
    import math

    _clean_stale_staging(spark, path)
    files = _leaf_data_files(spark, path)
    root = path.rstrip("/")
    by_dir: dict[str, list[int]] = {}
    for p, sz in files:
        by_dir.setdefault(p.rsplit("/", 1)[0], []).append(sz)

    todo = {d: sizes for d, sizes in by_dir.items()
            if len(sizes) > 1 and sum(sizes) / len(sizes) < target_bytes / 2}
    if not todo:
        return {"partitions_compacted": 0, "files_before": len(files),
                "files_after": len(files)}

    partitioned = any("=" in d[len(root):] for d in by_dir)
    if not partitioned:
        sizes = next(iter(todo.values()))
        n = max(1, math.ceil(sum(sizes) / target_bytes))
        df = spark.read.parquet(path).repartition(n)
        tmp = root + ".__compact__"
        df.write.mode("overwrite").parquet(tmp)
        _swap_in(spark, tmp, path)
        return {"partitions_compacted": 1, "files_before": len(files),
                "files_after": len(_leaf_data_files(spark, path))}

    from urllib.parse import unquote

    # hive dir names -> partition predicates + per-partition output counts
    preds, part_cols = [], []
    bucket_rows = []
    for d, sizes in todo.items():
        kvs = [seg.split("=", 1)
               for seg in _strip_scheme(d)[len(_strip_scheme(root)) + 1:].split("/")
               if "=" in seg]
        part_cols = [k for k, _ in kvs]
        vals = {k: unquote(v) for k, v in kvs}
        preds.append(vals)
        bucket_rows.append({**vals,
                            "__nfiles__": max(1, math.ceil(sum(sizes) / target_bytes))})

    df = spark.read.parquet(path)
    cond = None
    for vals in preds:
        c = None
        for k, v in vals.items():
            e = df[k].cast("string") == v
            c = e if c is None else (c & e)
        cond = c if cond is None else (cond | c)
    affected = df.where(cond)

    # per-partition file sizing: broadcast-join the tiny target-count map,
    # bucket rows, shuffle on (partition cols, bucket) so each output
    # partition lands in ceil(bytes/target) tasks -> that many files
    nmap = spark.createDataFrame(
        [tuple(r[k] for k in part_cols) + (r["__nfiles__"],) for r in bucket_rows],
        part_cols + ["__nfiles__"])
    joined = affected.join(
        F.broadcast(nmap.select(*[F.col(k).alias(f"__k_{k}__") for k in part_cols],
                                "__nfiles__")),
        [affected[k].cast("string") == F.col(f"__k_{k}__") for k in part_cols])
    data_cols = list(affected.columns)
    bucketed = joined.withColumn(
        "__bucket__",
        F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("__nfiles__")))
    staged = (bucketed.repartition(*part_cols, "__bucket__")
              .select(*data_cols))
    tmp = root + ".__compact__"
    staged.write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
    # promote each compacted partition dir with renames (metadata ops) —
    # untouched partitions never move, and no second data write happens
    fs = _hadoop_fs(spark, root)
    rootn = _strip_scheme(root)
    for d in todo:
        rel = _strip_scheme(d)[len(rootn) + 1:]
        jnew = _hadoop_path(spark, f"{tmp}/{rel}")
        jcur = _hadoop_path(spark, d)
        jold = _hadoop_path(spark, d + ".__old__")
        if not fs.exists(jnew):
            raise IOError(f"staged partition missing: {tmp}/{rel}")
        if fs.exists(jold):
            fs.delete(jold, True)
        if not (fs.rename(jcur, jold) and fs.rename(jnew, jcur)):
            raise IOError(f"could not swap compacted partition {rel}")
        fs.delete(jold, True)
    fs.delete(_hadoop_path(spark, tmp), True)
    return {"partitions_compacted": len(todo), "files_before": len(files),
            "files_after": len(_leaf_data_files(spark, path))}


def write_parquet(df: DataFrame, path: str, *,
                  partition_by: str | list[str] | None = None,
                  mode: str = "overwrite",
                  sort_within_partitions: str | list[str] | None = None,
                  target_files: int | None = None,
                  metrics: dict[str, Column] | None = None) -> dict:
    """Partitioned idempotent parquet write (K1/K2) that reports what it
    wrote. Returns ``{"n_rows": <rows written>, **metrics}``, computed BY
    the write job itself (df.observe + Observation): at 100 TB the
    difference between free metrics and a second full scan. ``metrics``
    adds caller aggregates over the written rows, e.g.
    ``{"null_keys": F.sum(F.col("k").isNull().cast("long"))}``.

    ``target_files`` replaces the reference's ``repartition(1)`` /
    ``repartition(16*5)`` file sizing (testpilot_data.py:82,197-200); when
    unset, AQE's coalesced shuffle partitions decide — the right default at
    scale. With ``partitionOverwriteMode=dynamic`` (session.py) an
    overwrite replaces only the partitions present in ``df``: re-running a
    day rewrites that day only, the reference's core operational semantic.
    """
    if target_files is not None:
        df = df.repartition(target_files)
    if sort_within_partitions:
        # clustering rows by a scan predicate's column tightens parquet
        # row-group min/max stats -> data skipping at read time
        cols = ([sort_within_partitions] if isinstance(sort_within_partitions, str)
                else list(sort_within_partitions))
        df = df.sortWithinPartitions(*cols)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"),
                    *[c.alias(name) for name, c in (metrics or {}).items()])
    writer = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    writer.parquet(path)
    return dict(obs.get)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along a Morton (z-order) curve over
    two numeric columns, so per-file min/max statistics stay tight in BOTH
    dimensions and a filter on EITHER column prunes most files at scan
    time (the multi-column data-skipping layout Delta/Iceberg call
    OPTIMIZE ZORDER; plain range-partitioned parquet gives it to any
    reader that consumes row-group stats, Spark included).

    Mechanics: each column is affinely scaled to ``bits`` bits using a
    1-row global min/max aggregate (broadcast cross join — no driver
    round-trip), the two bit strings are interleaved with JVM-side
    shift/or expressions (whole-stage codegen, no UDF), and the frame is
    range-partitioned and sorted by the z-value. Cost: the min/max pass
    plus one range exchange — same shuffle count as a plain global sort.
    """
    if len(cols) != 2:
        raise ValueError("zorder_write interleaves exactly two columns")
    a, b = cols
    mm = df.agg(
        F.min(a).alias("__mna"), F.max(a).alias("__mxa"),
        F.min(b).alias("__mnb"), F.max(b).alias("__mxb"),
    )
    j = df.crossJoin(F.broadcast(mm))
    top = (1 << bits) - 1

    def scaled(col: str, mn: str, mx: str):
        rng = F.col(mx).cast("double") - F.col(mn).cast("double")
        frac = F.when(rng > 0,
                      (F.col(col).cast("double") - F.col(mn).cast("double")) / rng
                      ).otherwise(F.lit(0.0))
        return F.floor(frac * top).cast("long")
    sa, sb = scaled(a, "__mna", "__mxa"), scaled(b, "__mnb", "__mxb")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(sa, i).bitwiseAND(F.lit(1)), 2 * i + 1))
             .bitwiseOR(F.shiftleft(F.shiftright(sb, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    (
        j.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__mna", "__mxa", "__mnb", "__mxb")
        .write.mode("overwrite").parquet(path)
    )


def write_jsonl_shards(df: DataFrame, path: str, *,
                       target_shard_bytes: int = 256 << 20,
                       sample_rows: int = 500,
                       compression: str | None = None,
                       mode: str = "overwrite") -> dict:
    """Sized JSONL export — the training-data interchange sink.

    Shard count is derived from DATA VOLUME, not partition count: a
    ``sample_rows``-row prefix estimates the serialized bytes/row (one
    tiny job), a metadata-cheap count supplies N, and the frame is
    round-robin repartitioned to ceil(avg*N / target) files. Without
    this, the file count inherits the upstream shuffle layout — 200
    near-empty shards after a filter, or 3 multi-GB shards after a
    coalesce, both of which downstream loaders hate. Estimate error is
    bounded by row-size variance in the prefix; callers with pathological
    long-tail rows should pass a larger ``sample_rows``.

    Returns {"n_shards", "est_total_bytes", "rows"} so pipelines can log
    the sizing decision. Compression (e.g. "gzip") applies per shard file
    — at 100 TB prefer splittable downstream formats, but gzip JSONL is
    the de-facto corpus-distribution layout."""
    import math

    # octet_length, not length: the estimate must count serialized UTF-8
    # BYTES — character count undercounts multi-byte corpora (CJK/emoji)
    # by up to 4x, which oversizes every shard past the target
    est = (df.limit(sample_rows)
           .select((F.octet_length(F.to_json(F.struct(*df.columns))) + 1)
                   .alias("__b"))
           .agg(F.avg("__b").alias("avg_b"))
           .first()["avg_b"])
    rows = df.count()
    avg_b = float(est) if est is not None else 0.0
    total = int(avg_b * rows)
    n_shards = max(1, math.ceil(total / target_shard_bytes))
    writer = df.repartition(n_shards).write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
    return {"n_shards": n_shards, "est_total_bytes": total, "rows": rows}
