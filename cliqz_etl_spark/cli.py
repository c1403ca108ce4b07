"""Daily-run CLI — the operational equivalent of the reference's
scheduling notebook (/root/reference/scheduling/cliqz_load_and_run.ipynb,
cells 0-3), which cloned the repo, shipped the egg, and invoked
``testpilot_data.main(sc, sqlContext)`` for the day under an external
scheduler. Here the same chain is one subcommand:

    python -m cliqz_etl_spark run-day --day 20170101 --base /data/out \\
        --pings pings.jsonl --search-csv search.csv \\
        --main-summary ms.parquet --aes-key-file key.txt

Steps (each the tested library call, nothing pipeline-specific lives here):
  1. ping ingest: schema'd JSON scan (io.read_json + PING_SCHEMA — no
     inference pass), day-filtered on meta.submissionDate and split by
     meta.docType into the testpilot / testpilottest sources; an
     --aes-key-file is read on the driver (io.read_text_scalar, no job);
  2. extraction + partitioned write: pipelines.testpilot.run_day — the
     three datasets land under {base}/cliqz_{name}/v1/submission={day}
     with dynamic partition overwrite, so re-running a day rewrites that
     day only (K1 idempotency); decryption is one JVM expression, so no
     Python worker runs;
  3. rollup (unless --skip-rollup): profile_daily over the datasets READ
     BACK from step 2's parquet (the cross-job handoff the reference's
     scheduler did through the warehouse) joined with --main-summary,
     written to {base}/cliqz_profile_daily/v1 partitioned by
     submission_date.

Every write goes through io.write_parquet, which observes the rows it
writes; the reported counts come from those writes, so no dataset is
executed a second time to count it.

Exit code 0 on success; input problems raise loud argparse/ValueError.
"""

from __future__ import annotations

import argparse
import csv
import sys
from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cliqz_etl_spark",
        description="PySpark-native cliqz ETL: daily extraction + rollup")
    sub = p.add_subparsers(dest="command", required=True)

    rd = sub.add_parser(
        "run-day",
        help="extract one day's datasets and (optionally) roll up profiles")
    rd.add_argument("--day", required=True,
                    help="submission day, yyyyMMdd (e.g. 20170101)")
    rd.add_argument("--base", required=True,
                    help="output base directory; datasets land under "
                         "{base}/cliqz_{name}/v1")
    rd.add_argument("--pings", required=True,
                    help="JSONL ping source (PING_SCHEMA); rows are "
                         "day-filtered on meta.submissionDate and split "
                         "by meta.docType")
    rd.add_argument("--search-csv", required=True,
                    help="search-event CSV with header: a file, a "
                         "directory of parts or a glob")
    key = rd.add_mutually_exclusive_group(required=True)
    key.add_argument("--aes-key", help="AES key for cliqzSession decryption")
    key.add_argument("--aes-key-file",
                     help="file whose first line is the AES key (the "
                          "reference read it off shared storage, "
                          "testpilot_data.py:97)")
    rd.add_argument("--main-summary",
                    help="main-summary parquet for the profile rollup; "
                         "required unless --skip-rollup")
    rd.add_argument("--skip-rollup", action="store_true",
                    help="stop after the three extraction writes")

    bc = sub.add_parser(
        "build-corpus",
        help="curate a documents parquet into sharded training JSONL: "
             "gopher filter -> C4 span dedup -> unigram scoring -> "
             "quality cut -> byte-sized JSONL shards, with single-pass "
             "observed metrics")
    bc.add_argument("--docs", required=True,
                    help="input documents parquet (doc_id, text, ...)")
    bc.add_argument("--out", required=True,
                    help="output directory for the JSONL shards")
    bc.add_argument("--min-ppm", type=int, default=0,
                    help="drop curated docs whose mean-token-frequency "
                         "score (ppm) is below this (0 = keep all)")
    bc.add_argument("--shard-bytes", type=int, default=64 << 20,
                    help="target JSONL shard size in bytes (default 64 MiB)")
    bc.add_argument("--compression", default=None,
                    help="shard compression codec (e.g. gzip)")

    q = sub.add_parser(
        "query",
        help="run a registry query by name against a table directory")
    q.add_argument("--name", required=True,
                   help="query name from the registry (see --list)")
    q.add_argument("--data", required=True,
                   help="directory holding the parquet tables "
                        "(region/nation/.../documents/embeddings)")
    q.add_argument("--out", default=None,
                   help="write the result as parquet here instead of "
                        "printing the first rows")
    q.add_argument("--show", type=int, default=20,
                   help="rows to print when --out is absent (default 20)")
    sub.add_parser("list-queries", help="print every registry query name")
    return p


def _require_day(day: str) -> str:
    import re
    if not re.fullmatch(r"\d{8}", day):
        raise SystemExit(f"--day must be yyyyMMdd, got {day!r}")
    return day


def _csv_header_schema(spark: SparkSession, path: str) -> StructType:
    """All-string schema named by the CSV's own header line, read on the
    driver from the first file ``path`` names (a file, a directory of
    parts or a glob, listed as Spark lists them, without a job; the parts
    of one CSV share a header): given a schema, Spark skips header
    inference (one Spark job) and matches columns by position, which this
    header order keeps, so reordered or extra columns still line up."""
    from cliqz_etl_spark.io import read_text_scalar

    files = spark.read.text(path).inputFiles()
    if not files:
        raise FileNotFoundError(f"{path}: names no data file")
    names = next(csv.reader([read_text_scalar(spark, min(files))]))
    return StructType([StructField(n, StringType()) for n in names])


def cmd_run_day(args: argparse.Namespace,
                spark: SparkSession | None = None) -> dict:
    """The run-day driver; ``spark`` is injectable so tests reuse their
    session. Returns {"written": {dataset: rows}} for logging, every count
    observed by the dataset's own write job (no frame is re-executed to
    count it). ``written["profile_daily"]`` is the rows this run's rollup
    wrote: the rollup reads back every day in the warehouse and dynamic
    partition overwrite replaces each day it writes, so when every
    warehouse day still yields rollup rows this equals the warehouse
    total."""
    from pyspark.sql import functions as F

    from cliqz_etl_spark.io import (read_csv, read_json, read_parquet,
                                    read_text_scalar, write_parquet)
    from cliqz_etl_spark.pipelines.profile_daily import profile_daily
    from cliqz_etl_spark.pipelines.testpilot import PING_SCHEMA, run_day

    day = _require_day(args.day)
    if not args.skip_rollup and not args.main_summary:
        raise SystemExit("--main-summary is required unless --skip-rollup")
    if spark is None:
        from cliqz_etl_spark.session import get_spark
        spark = get_spark(app_name=f"cliqz-run-day-{day}")

    aes_key = args.aes_key or read_text_scalar(spark, args.aes_key_file)

    pings = read_json(spark, args.pings, schema=PING_SCHEMA).where(
        F.col("meta.submissionDate") == day)
    results = run_day(
        pings=pings.where(F.col("meta.docType") == "testpilot"),
        test_pings=pings.where(F.col("meta.docType") == "testpilottest"),
        search_csv=read_csv(spark, args.search_csv,
                            schema=_csv_header_schema(spark, args.search_csv)),
        aes_key=aes_key, day=day, out_base=args.base)
    written = {name: n for name, (_, n) in results.items()}

    if not args.skip_rollup:
        # the cross-job handoff goes through the parquet just written —
        # the rollup sees exactly what any downstream consumer would.
        # Read back with the written frames' schemas: an empty dataset
        # (a day whose testpilot and testpilottest clients do not
        # overlap) leaves no file footer to infer a schema from
        tp = read_parquet(spark, f"{args.base}/cliqz_testpilot/v1",
                          schema=results["testpilot"][0].schema)
        tpt = read_parquet(spark, f"{args.base}/cliqz_testpilottest/v1",
                           schema=results["testpilottest"][0].schema)
        ms = read_parquet(spark, args.main_summary)
        rollup = profile_daily(tp, tpt, ms)
        written["profile_daily"] = write_parquet(
            rollup, f"{args.base}/cliqz_profile_daily/v1",
            partition_by="submission_date")["n_rows"]

    for name, n in written.items():
        print(f"run-day {day}: {name} -> {n} rows")
    return {"written": written}


def cmd_build_corpus(args: argparse.Namespace,
                     spark: SparkSession | None = None) -> dict:
    """Curation pipeline as an operational job: the same library
    operators as the curation_pipeline_v2 gate (filter -> span dedup ->
    corpus-trained scoring), then a quality cut and a byte-sized JSONL
    shard export. Returns the stage counts for logging."""
    import functools
    import operator

    from pyspark.sql import functions as F

    from cliqz_etl_spark.io import write_jsonl_shards
    from cliqz_etl_spark.operators.cache import release_all, track
    from cliqz_etl_spark.operators.dedup import span_dedup
    from cliqz_etl_spark.queries.dedup import SPAN_K
    from cliqz_etl_spark.queries.textops import (gopher_metrics,
                                                 gopher_rule_cols,
                                                 unigram_ppm)

    if spark is None:
        from cliqz_etl_spark.session import get_spark
        spark = get_spark(app_name="cliqz-build-corpus")
    try:
        docs = spark.read.parquet(args.docs)
        n_in = docs.count()
        m = gopher_metrics(docs)
        passed = m.where(functools.reduce(
            operator.and_, gopher_rule_cols().values())).select("doc_id", "text")
        sd = track(span_dedup(passed, "doc_id", "text", SPAN_K).persist())
        scored = sd.join(unigram_ppm(sd, "text_kept"), "doc_id")
        kept = scored.where((F.col("n_kept") > 0)
                            & (F.col("freq_ppm") >= args.min_ppm))
        out_df = kept.select("doc_id", F.col("text_kept").alias("text"),
                             "n_tok", "freq_ppm")
        stats = write_jsonl_shards(out_df, args.out,
                                   target_shard_bytes=args.shard_bytes,
                                   compression=args.compression)
        counts = {"docs_in": n_in, "gopher_passed": passed.count(),
                  "after_dedup_nonempty":
                      sd.where(F.col("n_kept") > 0).count(),
                  "exported": stats["rows"], "shards": stats["n_shards"]}
        for k, v in counts.items():
            print(f"build-corpus: {k} = {v}")
        return counts
    finally:
        release_all()


def cmd_query(args: argparse.Namespace,
              spark: SparkSession | None = None) -> int:
    """Ad-hoc runner: any registry query against any table directory —
    the switch-user surface (run what the driver runs, on your data).
    Returns the row count for logging; writes parquet when --out is
    given, prints the first --show rows otherwise."""
    from cliqz_etl_spark.operators.cache import release_all
    from cliqz_etl_spark.queries import load_all

    registry = load_all()
    if args.name not in registry:
        import difflib
        near = difflib.get_close_matches(args.name, registry, n=3)
        raise SystemExit(
            f"unknown query {args.name!r}"
            + (f" — did you mean {', '.join(near)}?" if near else ""))
    if spark is None:
        from cliqz_etl_spark.session import get_spark
        spark = get_spark(app_name=f"cliqz-query-{args.name}")
    try:
        df = registry[args.name].fn(spark, args.data)
        if args.out:
            from cliqz_etl_spark.io import write_parquet
            n = write_parquet(df, args.out)["n_rows"]
            print(f"query {args.name}: {n} rows -> {args.out}")
        else:
            # Persist so show() + count() share one execution — expensive
            # registry queries would otherwise run twice from scratch.
            df = df.persist()
            try:
                df.show(args.show, truncate=False)
                n = df.count()
            finally:
                df.unpersist()
            print(f"query {args.name}: {n} rows")
        return n
    finally:
        release_all()


def main(argv: Sequence[str] | None = None,
         spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "run-day":
        cmd_run_day(args, spark=spark)
        return 0
    if args.command == "build-corpus":
        cmd_build_corpus(args, spark=spark)
        return 0
    if args.command == "query":
        cmd_query(args, spark=spark)
        return 0
    if args.command == "list-queries":
        from cliqz_etl_spark.queries import load_all
        for name in load_all():
            print(name)
        return 0
    raise SystemExit(f"unknown command {args.command!r}")


if __name__ == "__main__":
    sys.exit(main())
