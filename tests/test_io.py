"""Sink semantics: partitioned write with dynamic partition overwrite must
make per-day re-runs idempotent (K1, testpilot_data.py:72-82) — rewriting
one day replaces that day only and leaves other partitions intact."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cliqz_etl_spark.io import read_parquet, read_text_scalar, write_parquet


def test_partition_overwrite_idempotent_day_rerun(spark):
    base = tempfile.mkdtemp() + "/cliqz_testpilot/v1"
    day1 = spark.createDataFrame([("c1", "20170101"), ("c2", "20170101")],
                                 ["client_id", "submission"])
    day2 = spark.createDataFrame([("c3", "20170102")], ["client_id", "submission"])
    # every write reports the rows it wrote, observed by the write job
    assert write_parquet(day1, base, partition_by="submission") == {"n_rows": 2}
    assert write_parquet(day2, base, partition_by="submission") == {"n_rows": 1}
    # an empty frame writes (and replaces) nothing, and reports 0
    assert write_parquet(day2.where(F.lit(False)), base,
                         partition_by="submission") == {"n_rows": 0}
    # re-run day1 with corrected data: must replace day1, not day2
    day1_fixed = spark.createDataFrame([("c9", "20170101")], ["client_id", "submission"])
    assert write_parquet(day1_fixed, base,
                         partition_by="submission") == {"n_rows": 1}
    # NB partition-column values come back type-inferred (ints here)
    got = sorted((r["client_id"], str(r["submission"])) for r in read_parquet(spark, base).collect())
    assert got == [("c3", "20170102"), ("c9", "20170101")]


def test_partition_predicate_prunes(spark):
    base = tempfile.mkdtemp() + "/t/v1"
    df = spark.createDataFrame([("a", "20170101"), ("b", "20170102")],
                               ["x", "submission"])
    write_parquet(df, base, partition_by="submission")
    pruned = read_parquet(spark, base, submission="20170102")
    assert [r["x"] for r in pruned.collect()] == ["b"]
    # the partition filter must reach the scan (partition pruning)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "20170102" in plan


def test_read_text_scalar_first_line(spark, tmp_path):
    """The key file's first line, without its line terminator (CRLF
    included); an empty file is a loud error naming the file."""
    crlf = tmp_path / "key_crlf.txt"
    crlf.write_bytes(b"0123456789abcdef\r\nsecond line\r\n")
    assert read_text_scalar(spark, str(crlf)) == "0123456789abcdef"
    empty = tmp_path / "key_empty.txt"
    empty.write_bytes(b"")
    with pytest.raises(ValueError, match="key_empty.txt"):
        read_text_scalar(spark, str(empty))
    bom = tmp_path / "key_bom.txt"
    bom.write_bytes(b"\xef\xbb\xbfudid,start_time\n")
    assert read_text_scalar(spark, str(bom)) == "udid,start_time"


def test_upsert_parquet_scd1(spark):
    import tempfile
    from cliqz_etl_spark.io import upsert_parquet

    base = tempfile.mkdtemp() + "/t"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]) \
        .write.parquet(base)
    updates = spark.createDataFrame([(2, "B2"), (4, "d")], ["k", "v"])
    upsert_parquet(spark, base, updates, "k")
    got = sorted(tuple(r) for r in spark.read.parquet(base).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # idempotent re-apply
    upsert_parquet(spark, base, updates, "k")
    got2 = sorted(tuple(r) for r in spark.read.parquet(base).collect())
    assert got2 == got


def test_sorted_write_clusters_row_groups(spark):
    import tempfile
    from cliqz_etl_spark.io import write_parquet, read_parquet
    from pyspark.sql import functions as F

    path = tempfile.mkdtemp() + "/t"
    df = spark.range(0, 100000).withColumn("v", (F.col("id") * 7919) % 1000)
    write_parquet(df, path, sort_within_partitions="v", target_files=2)
    back = read_parquet(spark, path).where(F.col("v") < 10)
    assert back.count() == df.where(F.col("v") < 10).count()


def test_compact_parquet_unpartitioned(spark):
    from cliqz_etl_spark.io import compact_parquet

    base = tempfile.mkdtemp() + "/t"
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS v")
    df.repartition(20).write.parquet(base)  # 20 tiny files
    before = sorted((r["id"], r["v"]) for r in spark.read.parquet(base).collect())
    stats = compact_parquet(spark, base, target_bytes=128 * 1024 * 1024)
    assert stats["files_before"] == 20
    assert stats["files_after"] == 1
    after = sorted((r["id"], r["v"]) for r in spark.read.parquet(base).collect())
    assert after == before


def test_compact_parquet_partitioned_rewrites_only_small(spark):
    from cliqz_etl_spark.io import _leaf_data_files, compact_parquet

    base = tempfile.mkdtemp() + "/t"
    # day 1: fragmented into 15 tiny files; day 2: already one file
    d1 = spark.range(0, 300).selectExpr("id", "'20170101' AS day")
    d2 = spark.range(300, 400).selectExpr("id", "'20170102' AS day")
    d1.repartition(15).write.partitionBy("day").parquet(base)
    d2.coalesce(1).write.mode("append").partitionBy("day").parquet(base)
    day2_files_before = sorted(p for p, _ in _leaf_data_files(spark, base)
                               if "day=20170102" in p)
    before = sorted((r["id"], str(r["day"])) for r in spark.read.parquet(base).collect())

    stats = compact_parquet(spark, base, target_bytes=128 * 1024 * 1024)
    assert stats["partitions_compacted"] == 1
    assert stats["files_after"] == 2  # day1 -> 1 file, day2 untouched
    # the healthy partition's file is bit-identical (not rewritten)
    day2_files_after = sorted(p for p, _ in _leaf_data_files(spark, base)
                              if "day=20170102" in p)
    assert day2_files_after == day2_files_before
    after = sorted((r["id"], str(r["day"])) for r in spark.read.parquet(base).collect())
    assert after == before


def test_compact_parquet_noop_when_right_sized(spark):
    from cliqz_etl_spark.io import compact_parquet

    base = tempfile.mkdtemp() + "/t"
    spark.range(0, 100).coalesce(1).write.parquet(base)
    stats = compact_parquet(spark, base, target_bytes=128 * 1024 * 1024)
    assert stats == {"partitions_compacted": 0, "files_before": 1,
                     "files_after": 1}


def test_swap_leaves_no_staging_siblings(spark):
    """upsert/compact must not leak .__staging__/.__compact__/.__old__
    copies (a full table per run) and must clean stale ones on entry."""
    import os

    from cliqz_etl_spark.io import compact_parquet, upsert_parquet

    root = tempfile.mkdtemp()
    base = root + "/t"
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").write.parquet(base)
    # simulate a crashed previous run's leftovers
    os.makedirs(base + ".__staging__", exist_ok=True)
    upsert_parquet(spark, base,
                   spark.range(50, 150).selectExpr("id", "id * 3 AS v"), "id")
    assert sorted(os.listdir(root)) == ["t"]
    assert spark.read.parquet(base).count() == 150

    frag = root + "/t2"
    spark.range(0, 300).repartition(10).write.parquet(frag)
    compact_parquet(spark, frag, target_bytes=128 * 1024 * 1024)
    assert sorted(os.listdir(root)) == ["t", "t2"]
    assert spark.read.parquet(frag).count() == 300


def test_zorder_write_skips_in_both_dims(spark, tmp_path):
    """Z-order layout must keep per-file min/max tight in BOTH dimensions:
    a point-ish filter on either column may touch only a minority of
    files. (A single-column sort gives ~1 file for that column but ALL
    files for the other — the property under test is the 'both' part.)"""
    import duckdb
    from pyspark.sql import functions as F

    from cliqz_etl_spark.io import zorder_write
    from cliqz_etl_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, str(SF_SMOKE), "events").select(
        "user_id", (F.floor(F.col("value") * 100 + F.lit(0.5))).cast("long").alias("cents"))
    out = str(tmp_path / "zorder")
    zorder_write(ev, out, ["user_id", "cents"], n_files=16)

    con = duckdb.connect()
    stats = con.execute(
        f"""SELECT file_name,
                   MIN(CASE WHEN path_in_schema='user_id' THEN stats_min_value::BIGINT END),
                   MAX(CASE WHEN path_in_schema='user_id' THEN stats_max_value::BIGINT END),
                   MIN(CASE WHEN path_in_schema='cents' THEN stats_min_value::BIGINT END),
                   MAX(CASE WHEN path_in_schema='cents' THEN stats_max_value::BIGINT END)
            FROM parquet_metadata('{out}/*.parquet') GROUP BY file_name"""
    ).fetchall()
    n = len(stats)
    assert n >= 8
    gu_min = min(s[1] for s in stats); gu_max = max(s[2] for s in stats)
    gc_min = min(s[3] for s in stats); gc_max = max(s[4] for s in stats)

    def files_touched(lo_i, hi_i, probe):  # fraction of files a point filter hits
        return sum(1 for s in stats if s[lo_i] <= probe <= s[hi_i]) / n

    u_mid = (gu_min + gu_max) // 2
    c_mid = (gc_min + gc_max) // 2
    assert files_touched(1, 2, u_mid) <= 0.5, stats
    assert files_touched(3, 4, c_mid) <= 0.5, stats


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink/source round-trip: bytes survive, and an equality
    predicate reaches the ORC scan (PushedFilters in the plan)."""
    from pyspark.sql import functions as F

    from cliqz_etl_spark.io import read_orc, write_orc
    from cliqz_etl_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    src = load_table(spark, str(SF_SMOKE), "orders").select(
        "o_orderkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"))
    out = str(tmp_path / "orders_orc")
    write_orc(src, out)
    back = read_orc(spark, out, o_orderstatus="F")
    want = src.where(F.col("o_orderstatus") == "F")
    assert back.count() == want.count()
    assert (sorted(tuple(r) for r in back.collect())
            == sorted(tuple(r) for r in want.collect()))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan, plan


def test_merge_schema_reads_evolved_table(spark, tmp_path):
    """Schema evolution: files written before a column existed come back
    NULL-filled when merge_schema reconciles footers."""
    from cliqz_etl_spark.io import read_parquet

    base = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(base)
    spark.createDataFrame([(2, "b", 99)], ["k", "v", "extra"]) \
        .write.mode("append").parquet(base)
    got = {r["k"]: (r["v"], r["extra"])
           for r in read_parquet(spark, base, merge_schema=True).collect()}
    assert got == {1: ("a", None), 2: ("b", 99)}


def test_write_jsonl_shards_sizes_by_bytes(spark, tmp_path):
    from cliqz_etl_spark.io import read_json, write_jsonl_shards

    df = spark.createDataFrame(
        [(i, "x" * 100) for i in range(2000)], ["id", "payload"])
    out = str(tmp_path / "jsonl")
    # ~120 serialized bytes/row * 2000 rows ~= 240 KB; 64 KB target -> 4ish
    stats = write_jsonl_shards(df, out, target_shard_bytes=64 << 10)
    assert stats["rows"] == 2000
    assert 3 <= stats["n_shards"] <= 6
    import glob
    files = glob.glob(f"{out}/part-*")
    assert len(files) == stats["n_shards"]
    # round-trip: same rows come back through the JSON scan boundary
    back = read_json(spark, out)
    assert back.count() == 2000
    got = sorted((r["id"], r["payload"]) for r in back.collect())
    assert got[0] == (0, "x" * 100) and len(got) == 2000


def test_write_jsonl_shards_counts_utf8_bytes(spark, tmp_path):
    """The bytes/row estimate must count serialized UTF-8 octets, not
    characters: a CJK payload is ~3 bytes/char (and JSON \\uXXXX-escapes
    it to 6 ASCII bytes on disk), so a length()-based estimate undersizes
    n_shards ~4x and every shard overshoots the target."""
    from cliqz_etl_spark.io import write_jsonl_shards

    ascii_df = spark.createDataFrame(
        [(i, "x" * 90) for i in range(1000)], ["id", "payload"])
    cjk_df = spark.createDataFrame(
        [(i, "日" * 90) for i in range(1000)], ["id", "payload"])
    a = write_jsonl_shards(ascii_df, str(tmp_path / "a"),
                           target_shard_bytes=32 << 10)
    c = write_jsonl_shards(cjk_df, str(tmp_path / "c"),
                           target_shard_bytes=32 << 10)
    # same char count, ~3x the bytes -> strictly more shards
    assert c["est_total_bytes"] >= 2 * a["est_total_bytes"]
    assert c["n_shards"] > a["n_shards"]
    import glob
    import os
    # every physical shard stays within ~2x of the target (estimate slack)
    for f in glob.glob(f"{tmp_path}/c/part-*"):
        assert os.path.getsize(f) <= 2 * (32 << 10)


def test_write_jsonl_shards_empty_frame(spark, tmp_path):
    from cliqz_etl_spark.io import write_jsonl_shards

    df = spark.createDataFrame([], "id long, payload string")
    stats = write_jsonl_shards(df, str(tmp_path / "empty"))
    assert stats == {"n_shards": 1, "est_total_bytes": 0, "rows": 0}


def test_write_jsonl_shards_gzip_roundtrip(spark, tmp_path):
    from cliqz_etl_spark.io import read_json, write_jsonl_shards

    df = spark.createDataFrame([(i, f"p{i}") for i in range(50)],
                               ["id", "payload"])
    out = str(tmp_path / "gz")
    write_jsonl_shards(df, out, compression="gzip")
    import glob
    assert glob.glob(f"{out}/part-*.gz"), "expected gzip-suffixed shards"
    back = read_json(spark, out)
    assert sorted((r["id"], r["payload"]) for r in back.collect()) == \
        [(i, f"p{i}") for i in range(50)]


def test_orc_roundtrip_scratch_wiped_between_runs(spark):
    """The session pins partitionOverwriteMode=dynamic, so without an
    explicit wipe a regenerated corpus would leave STALE partitions from
    the previous run in the scratch dir and leak them into the read-back
    rollup. Plant a foreign partition and assert the query removes it."""
    import hashlib
    import shutil

    from cliqz_etl_spark.queries.analytics import orc_roundtrip_revenue

    sf_dir = "/root/testdata/sf0.001"
    out = os.path.join(tempfile.gettempdir(),
                       "cliqz_orc_rt_"
                       + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    flags = {r[0] for r in orc_roundtrip_revenue(spark, sf_dir)
             .select("l_returnflag").collect()}
    assert "Z" not in flags
    # plant a stale partition: clone a real partition dir under a flag
    # value the current corpus does not contain
    src = next(d for d in os.listdir(out) if d.startswith("l_returnflag="))
    shutil.copytree(os.path.join(out, src),
                    os.path.join(out, "l_returnflag=Z"))
    flags2 = {r[0] for r in orc_roundtrip_revenue(spark, sf_dir)
              .select("l_returnflag").collect()}
    assert flags2 == flags and "Z" not in flags2
    assert not os.path.exists(os.path.join(out, "l_returnflag=Z"))
