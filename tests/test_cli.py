"""End-to-end test of the run-day CLI: fixture pings/CSV/main-summary on
disk -> `python -m cliqz_etl_spark run-day` (in-process, session injected)
-> partitioned parquet under --base, idempotent on re-run (K1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cliqz_etl_spark.cli import main

AES_KEY = "0123456789abcdef"
UUID1 = "12345678-1234-1234-1234-123456789abc"


def _ping(client, doc_type, day, *, test="@testpilot-addon", events=(),
          session=None, tpt_event=None):
    return {
        "clientId": client,
        "creationDate": f"{day[:4]}-{day[4:6]}-{day[6:]}T00:00:00Z",
        "meta": {"geoCountry": "DE", "normalizedChannel": "release",
                 "os": "Linux", "submissionDate": day, "docType": doc_type},
        "environment": {"settings": {"locale": "de-DE",
                                     "telemetryEnabled": True},
                        "addons": {"activeAddons": {
                            "testpilot@cliqz.com": {"version": "2.1"}}}},
        "payload": {"test": test, "events": list(events),
                    "payload": {"cliqzSession": session, "sessionId": "s1",
                                "subsessionId": "ss1", "event": tpt_event,
                                "contentSearch": None}},
    }


@pytest.fixture()
def day_inputs(spark, tmp_path):
    ct = spark.createDataFrame([(f"XXXXcliqz-17|20170101XXXX".encode(),)],
                               ["pt"]).select(
        F.base64(F.expr(f"aes_encrypt(pt, '{AES_KEY}', 'ECB', 'DEFAULT')"))
        .alias("ct")).first()["ct"]
    pings = [
        _ping(UUID1, "testpilot", "20170101",
              events=[{"event": "enabled", "object": "testpilot@cliqz.com"}]),
        _ping(UUID1, "testpilottest", "20170101",
              test="testpilot@cliqz.com", session=ct,
              tpt_event="cliqzEnabled"),
        # other-day ping: the --day filter must exclude it
        _ping(UUID1, "testpilot", "20170202",
              events=[{"event": "enabled", "object": "testpilot@cliqz.com"}]),
    ]
    pings_path = tmp_path / "pings.jsonl"
    pings_path.write_text("\n".join(json.dumps(p) for p in pings))

    csv_path = tmp_path / "search.csv"
    csv_path.write_text(
        "udid,start_time,selection_type,entry_point,"
        "final_result_list_backend_result_count,"
        "final_result_list_contains_history,selection_query_length,"
        "selection_class,selection_element,selection_index,"
        "total_signal_count,selection_time,final_result_list_show_time,"
        "selection_source\n"
        "u1|extra,t0,query,url,5,true,12,cls,el,0,9,100,50,src\n")

    ms_path = tmp_path / "ms.parquet"
    spark.createDataFrame(
        [(UUID1, "20170101", "release", "Linux", True, 7200, "cliqz",
          [{"engine": "cliqz", "source": "urlbar", "count": 3}], True)],
        "client_id string, submission_date string, "
        "normalized_channel string, os string, is_default_browser boolean, "
        "subsession_length long, default_search_engine string, "
        "search_counts array<struct<engine:string,source:string,"
        "count:bigint>>, has_addon boolean").write.parquet(str(ms_path))

    key_path = tmp_path / "key.txt"
    key_path.write_text(AES_KEY + "\n")
    return {"pings": str(pings_path), "csv": str(csv_path),
            "ms": str(ms_path), "key": str(key_path),
            "base": str(tmp_path / "out")}


def _snapshot(spark, base):
    out = {}
    for name, key in (("cliqz_testpilot/v1", "client_id"),
                      ("cliqz_testpilottest/v1", "client_id"),
                      ("cliqz_search/v1", "udid"),
                      ("cliqz_profile_daily/v1", "client_id")):
        df = spark.read.parquet(f"{base}/{name}")
        out[name] = sorted(
            (r[key], r[df.columns[1]]) for r in df.collect())
    return out


def test_run_day_end_to_end_idempotent(spark, day_inputs):
    argv = ["run-day", "--day", "20170101", "--base", day_inputs["base"],
            "--pings", day_inputs["pings"],
            "--search-csv", day_inputs["csv"],
            "--main-summary", day_inputs["ms"],
            "--aes-key-file", day_inputs["key"]]
    assert main(argv, spark=spark) == 0
    first = _snapshot(spark, day_inputs["base"])

    # the day filter dropped the 20170202 ping; partition dirs are per-day
    tp = spark.read.parquet(f"{day_inputs['base']}/cliqz_testpilot/v1")
    assert [r["submission"] for r in tp.select("submission").collect()] == \
        ["20170101"]
    assert tp.where(F.col("client_id") == UUID1).count() == 1
    # the AES chain ran: decrypted cliqz id surfaces in testpilottest
    tpt = spark.read.parquet(f"{day_inputs['base']}/cliqz_testpilottest/v1")
    assert [r["cliqz_client_id"] for r in tpt.collect()] == ["cliqz-17"]
    # rollup joined the written datasets with main-summary
    prof = spark.read.parquet(f"{day_inputs['base']}/cliqz_profile_daily/v1")
    assert prof.where(F.col("client_id") == UUID1).count() >= 1

    # K1: a second identical run must leave byte-identical row sets
    assert main(argv, spark=spark) == 0
    assert _snapshot(spark, day_inputs["base"]) == first


def test_run_day_with_no_testpilottest_client(spark, day_inputs, tmp_path):
    """A day on which no testpilot client also sends a testpilottest ping
    writes an empty testpilottest dataset, which leaves no parquet footer
    to infer a schema from. The rollup must still read it back and roll
    the day up to zero rows instead of failing."""
    from cliqz_etl_spark.cli import build_parser, cmd_run_day

    pings = [
        _ping(UUID1, "testpilot", "20170101",
              events=[{"event": "enabled", "object": "testpilot@cliqz.com"}]),
        # the client's only testpilottest ping is from another day
        _ping(UUID1, "testpilottest", "20170202",
              test="testpilot@cliqz.com", tpt_event="cliqzEnabled"),
    ]
    pings_path = tmp_path / "pings_no_overlap.jsonl"
    pings_path.write_text("\n".join(json.dumps(p) for p in pings))
    args = build_parser().parse_args(
        ["run-day", "--day", "20170101", "--base", day_inputs["base"],
         "--pings", str(pings_path), "--search-csv", day_inputs["csv"],
         "--main-summary", day_inputs["ms"], "--aes-key", AES_KEY])
    written = cmd_run_day(args, spark=spark)["written"]
    assert written["testpilot"] == 1
    assert written["testpilottest"] == 0
    assert written["profile_daily"] == 0


# Spark jobs one run-day over day_inputs may start (12 measured): the
# three extract writes, the job that reads main_summary's parquet footer
# for its schema, and the rollup's 8 (7 AQE query stages, the Counter's
# per-key sums among them, then its write). A dataset re-executed to
# count it, a read-back count, a job to read the key file or the
# search-CSV header, or another aggregate of main_summary would each push
# past it.
RUN_DAY_MAX_JOBS = 12


def test_run_day_job_count_ceiling(spark, day_inputs):
    """Every count run-day reports comes from its own writes, so its Spark
    job count stays under a fixed ceiling."""
    from cliqz_etl_spark.cli import build_parser, cmd_run_day

    args = build_parser().parse_args(
        ["run-day", "--day", "20170101", "--base", day_inputs["base"],
         "--pings", day_inputs["pings"], "--search-csv", day_inputs["csv"],
         "--main-summary", day_inputs["ms"],
         "--aes-key-file", day_inputs["key"]])
    sc = spark.sparkContext
    group = "test-run-day-job-count"
    sc.setJobGroup(group, "run-day job count")
    try:
        written = cmd_run_day(args, spark=spark)["written"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert written == {"testpilot": 1, "testpilottest": 1, "search": 1,
                       "profile_daily": 1}
    assert 0 < jobs <= RUN_DAY_MAX_JOBS, jobs


def test_run_day_search_csv_columns_by_header(spark, day_inputs, tmp_path):
    """The search CSV's columns are matched by its header, not by
    position: reordered columns and an extra column extract the same
    search rows as the fixture's CSV."""
    import csv

    from cliqz_etl_spark.cli import build_parser, cmd_run_day

    with open(day_inputs["csv"], newline="") as f:
        header, *rows = list(csv.reader(f))
    order = list(reversed(range(len(header))))
    reordered = tmp_path / "search_reordered.csv"
    with open(reordered, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["extra"] + [header[i] for i in order])
        w.writerows(["x"] + [r[i] for i in order] for r in rows)

    def search_rows(csv_path, base):
        args = build_parser().parse_args(
            ["run-day", "--day", "20170101", "--base", base,
             "--pings", day_inputs["pings"], "--search-csv", csv_path,
             "--aes-key", AES_KEY, "--skip-rollup"])
        cmd_run_day(args, spark=spark)
        return spark.read.parquet(f"{base}/cliqz_search/v1").collect()

    want = search_rows(day_inputs["csv"], str(tmp_path / "a"))
    assert [(r["udid"], r["num_backend_results"], r["is_search"])
            for r in want] == [("u1", 5, True)]
    assert search_rows(str(reordered), str(tmp_path / "b")) == want

    # a UTF-8 byte-order mark does not end up in the first column's name
    bom = tmp_path / "search_bom.csv"
    bom.write_bytes(b"\xef\xbb\xbf" + reordered.read_bytes())
    assert search_rows(str(bom), str(tmp_path / "c")) == want
    # a directory of CSV parts takes its header from its first part
    parts = tmp_path / "search_parts"
    parts.mkdir()
    (parts / "part-0.csv").write_bytes(reordered.read_bytes())
    (parts / "_SUCCESS").write_bytes(b"")
    assert search_rows(str(parts), str(tmp_path / "d")) == want
    assert search_rows(str(parts / "part-*.csv"), str(tmp_path / "e")) == want
    (parts / "part-0.csv").unlink()
    with pytest.raises(FileNotFoundError, match="search_parts"):
        search_rows(str(parts), str(tmp_path / "f"))


def test_run_day_requires_main_summary_or_skip(day_inputs, spark):
    argv = ["run-day", "--day", "20170101", "--base", day_inputs["base"],
            "--pings", day_inputs["pings"],
            "--search-csv", day_inputs["csv"],
            "--aes-key", AES_KEY]
    with pytest.raises(SystemExit):
        main(argv, spark=spark)
    # --skip-rollup lifts the requirement and writes only the three extracts
    assert main(argv + ["--skip-rollup"], spark=spark) == 0
    import os
    assert not os.path.exists(
        f"{day_inputs['base']}/cliqz_profile_daily/v1")


def test_run_day_rejects_bad_day(day_inputs, spark):
    with pytest.raises(SystemExit):
        main(["run-day", "--day", "2017-01-01", "--base", day_inputs["base"],
              "--pings", day_inputs["pings"],
              "--search-csv", day_inputs["csv"], "--aes-key", AES_KEY,
              "--skip-rollup"], spark=spark)


def test_build_corpus_end_to_end(spark, tmp_path):
    """build-corpus curates the sf0.001 documents into JSONL shards and
    reports honest stage counts: input >= gopher-passed >= exported, the
    export is readable JSONL with the declared columns, and a second run
    overwrites idempotently."""
    import json
    import os

    from cliqz_etl_spark.cli import build_parser, cmd_build_corpus

    out = str(tmp_path / "corpus")
    args = build_parser().parse_args([
        "build-corpus", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--shard-bytes", str(1 << 20)])
    counts = cmd_build_corpus(args, spark=spark)
    assert counts["docs_in"] >= counts["gopher_passed"] >= 0
    assert counts["exported"] <= counts["after_dedup_nonempty"]
    assert counts["exported"] > 0
    back = spark.read.json(out)
    assert back.count() == counts["exported"]
    assert {"doc_id", "text", "n_tok", "freq_ppm"} <= set(back.columns)
    files = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(files) == counts["shards"]
    # idempotent rerun
    counts2 = cmd_build_corpus(args, spark=spark)
    assert counts2 == counts


def test_build_corpus_min_ppm_cut(spark, tmp_path):
    """--min-ppm is a real cut: a high threshold exports fewer docs."""
    from cliqz_etl_spark.cli import build_parser, cmd_build_corpus

    base = build_parser().parse_args([
        "build-corpus", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(tmp_path / "all")])
    strict = build_parser().parse_args([
        "build-corpus", "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(tmp_path / "cut"), "--min-ppm", "100000"])
    assert (cmd_build_corpus(strict, spark=spark)["exported"]
            < cmd_build_corpus(base, spark=spark)["exported"])


def test_query_subcommand_runs_and_writes(spark, tmp_path, capsys):
    """`query --name X --data DIR` runs any registry entry; --out writes
    parquet, no --out prints; unknown names die loudly with suggestions;
    list-queries enumerates the registry."""
    import pytest

    from cliqz_etl_spark.cli import build_parser, cmd_query, main

    out = str(tmp_path / "rev")
    args = build_parser().parse_args([
        "query", "--name", "revenue_by_nation",
        "--data", "/root/testdata/sf0.001", "--out", out])
    n = cmd_query(args, spark=spark)
    assert n == spark.read.parquet(out).count() > 0

    shown = build_parser().parse_args([
        "query", "--name", "nations_in_region",
        "--data", "/root/testdata/sf0.001", "--show", "3"])
    assert cmd_query(shown, spark=spark) > 0
    assert "nations_in_region" in capsys.readouterr().out

    with pytest.raises(SystemExit, match="did you mean"):
        cmd_query(build_parser().parse_args([
            "query", "--name", "revenue_by_nations",
            "--data", "/root/testdata/sf0.001"]), spark=spark)

    assert main(["list-queries"], spark=spark) == 0
    names = capsys.readouterr().out.split()
    assert "revenue_by_nation" in names and len(names) >= 289
