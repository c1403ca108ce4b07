"""End-to-end pipeline-parity tests on reference-shaped fixtures
(FIXTURES.md B1-B5): the testpilot extractions including the AES path, and
the profile_daily rollup's intended semantics (SURVEY.md §2.9)."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from cliqz_etl_spark.pipelines import profile_daily as pd_mod
from cliqz_etl_spark.pipelines import testpilot as tp_mod

AES_KEY = "0123456789abcdef"


def _encrypt(spark, plaintexts: list[str]) -> list[str]:
    """Fixture ciphertexts: AES-ECB (PKCS envelope — see
    scalars.decrypt_aes_ecb_b64 divergence note), base64 — the shape
    decrypt_cliqz_id consumed (testpilot_data.py:98-106)."""
    rows = [(p.encode(),) for p in plaintexts]
    df = spark.createDataFrame(rows, ["pt"])
    out = df.select(F.base64(F.expr(
        f"aes_encrypt(pt, '{AES_KEY}', 'ECB', 'DEFAULT')")).alias("ct")).collect()
    return [r["ct"] for r in out]


TEST_PING_SCHEMA = tp_mod.PING_SCHEMA


def _mk_ping(client, test="@testpilot-addon", events=(), addons=None, session=None,
             tpt_event=None, day="20170101"):
    return {
        "clientId": client,
        "creationDate": "2017-01-01T00:00:00Z",
        "meta": {"geoCountry": "DE", "normalizedChannel": "release", "os": "Linux",
                 "submissionDate": day, "docType": "testpilottest"},
        "environment": {
            "settings": {"locale": "de-DE", "telemetryEnabled": True},
            "addons": {"activeAddons": addons or {}},
        },
        "payload": {
            "test": test,
            "events": list(events),
            "payload": {"cliqzSession": session, "sessionId": "s1",
                        "subsessionId": "ss1", "event": tpt_event,
                        "contentSearch": None},
        },
    }


def test_testpilot_extraction_schema_and_filters(spark):
    pings = spark.createDataFrame([
        _mk_ping("c1", events=[{"event": "enabled", "object": "testpilot@cliqz.com"}],
                 addons={"testpilot@cliqz.com": {"version": "2.1"}}),
        _mk_ping("c2", events=[{"event": "enabled", "object": "other"}]),   # post-filter drop
        _mk_ping("c3", test="other"),                                        # row-filter drop
        _mk_ping("c4", events=[]),                                           # NULL event_object drop
    ], TEST_PING_SCHEMA)
    out = tp_mod.testpilot_config().apply(pings)
    assert len(out.columns) == 12
    rows = out.collect()
    assert [r["client_id"] for r in rows] == ["c1"]
    assert rows[0]["has_addon"] is True and rows[0]["cliqz_version"] == "2.1"


def test_testpilottest_aes_decrypt_roundtrip(spark):
    good, = _encrypt(spark, ["XXXXcliqz-17|20170101XXXX"])
    pings = spark.createDataFrame([
        _mk_ping("c1", test="testpilot@cliqz.com", session=good, tpt_event="cliqzEnabled"),
        _mk_ping("c2", test="testpilot@cliqz.com", session="!!!not-base64!!!",
                 tpt_event="cliqzEnabled"),                       # decrypt error -> NULL
        _mk_ping("c3", test="testpilot@cliqz.com", session=None, tpt_event=None),  # event NULL drop
    ], TEST_PING_SCHEMA)
    out = tp_mod.testpilottest_config(F.lit(AES_KEY)).apply(pings)
    assert len(out.columns) == 18
    rows = {r["client_id"]: r for r in out.collect()}
    assert set(rows) == {"c1", "c2"}
    assert rows["c1"]["cliqz_client_id"] == "cliqz-17"   # [4:-4] strip + split('|')[0]
    assert rows["c2"]["cliqz_client_id"] is None


def _ecb_b64(plain: bytes, key: bytes, zero_pad: bool) -> str:
    """AES-ECB ciphertext, base64: zero padding is the reference producer's
    form (PyCrypto AES.new(key) raw ECB, testpilot_data.py:98-106), PKCS#7
    the form Spark's own aes_encrypt writes."""
    from cryptography.hazmat.primitives import padding
    from cryptography.hazmat.primitives.ciphers import (Cipher, algorithms,
                                                        modes)
    if zero_pad:
        padded = plain + b"\0" * (-len(plain) % 16)
    else:
        padder = padding.PKCS7(128).padder()
        padded = padder.update(plain) + padder.finalize()
    enc = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
    return base64.b64encode(enc.update(padded) + enc.finalize()).decode()


def _reference_decrypt(ct: str, key: bytes) -> str | None:
    """The reference's decrypt chain in Python, errors -> NULL: raw ECB
    decrypt, ``rstrip("\\0")[4:-4]``, strict UTF-8 decode."""
    from cryptography.hazmat.primitives.ciphers import (Cipher, algorithms,
                                                        modes)
    try:
        raw = base64.b64decode(ct, validate=True)
        dec = Cipher(algorithms.AES(key), modes.ECB()).decryptor()
        plain = dec.update(raw) + dec.finalize()
        return plain.rstrip(b"\0")[4:-4].decode("utf-8")
    except ValueError:   # bad base64, partial block, invalid UTF-8
        return None


def test_aes_zero_pad_reference_parity(spark):
    """Byte-parity with the reference producer (testpilot_data.py:98-106):
    PyCrypto AES.new(key) raw-ECB ciphertext over ZERO-padded plaintext —
    which plain PKCS unpadding rejects — must decrypt to exactly
    decrypt(ct).rstrip('\\0')[4:-4] with errors as NULL; PKCS ciphertext
    decodes to the same slice of its unpadded plaintext. The chain is one
    JVM expression: the extraction's plan holds no Python evaluation."""
    import random

    from cliqz_etl_spark.functions.scalars import decrypt_aes_ecb_b64

    key = AES_KEY.encode()
    plains = {
        "padded": b"ABCDcliqz-42|20170101WXYZ",           # 25 B -> 32
        "exact_32": b"ABCDcliqz-007|0101WXYZ8901234567",  # no padding
        "exact_16": b"ABCDcliqz-1WXYZ!",                  # one full block
        "multibyte": "ABCDü€😀|éWXYZ".encode(),           # slice counts bytes
        "multibyte_edge": "ü€😀é".encode(),               # head/tail split chars
        "random_binary": random.Random(7).randbytes(40),
        "all_zero": b"\0" * 20,
        "empty": b"",
    }
    cases = []   # (label, ciphertext, expected)
    for name, plain in plains.items():
        for zero_pad in (True, False):
            ct = _ecb_b64(plain, key, zero_pad)
            try:
                want = plain.rstrip(b"\0")[4:-4].decode("utf-8")
            except UnicodeDecodeError:
                want = None
            cases.append((f"{name}/{'zero' if zero_pad else 'pkcs'}", ct, want))
    wrong = _ecb_b64(plains["padded"], b"fedcba9876543210", True)
    cases += [("wrong_key", wrong, _reference_decrypt(wrong, key)),
              ("null", None, None), ("malformed", "garbage", None),
              ("not_base64", "!!!", None),
              ("empty_string", "", _reference_decrypt("", key))]
    # the zero-padded form is exactly the reference's chain
    for label, ct, want in cases:
        if label.endswith("/zero"):
            assert want == _reference_decrypt(ct, key), label
    expected = {label: want for label, _, want in cases}
    assert expected["padded/zero"] == "cliqz-42|20170101"
    assert expected["multibyte/zero"] == "ü€😀|é"
    assert expected["wrong_key"] is None
    assert expected["random_binary/pkcs"] is None

    df = spark.createDataFrame([(ct,) for _, ct, _ in cases], "c string")
    got = [r["p"] for r in df.select(
        decrypt_aes_ecb_b64("c", F.lit(AES_KEY)).alias("p")).collect()]
    assert dict(zip(expected, got)) == expected

    # run-day stays Python-free: no Python UDF node in the executed plan
    pings = spark.createDataFrame([
        _mk_ping("c1", test="testpilot@cliqz.com", session=cases[0][1],
                 tpt_event="cliqzEnabled")], TEST_PING_SCHEMA)
    out = tp_mod.testpilottest_config(F.lit(AES_KEY)).apply(pings)
    assert [r["cliqz_client_id"] for r in out.collect()] == ["cliqz-42"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_search_csv_try_casts(spark):
    cols = ["udid", "start_time", "selection_type", "entry_point",
            "final_result_list_backend_result_count", "final_result_list_contains_history",
            "selection_query_length", "selection_class", "selection_element",
            "selection_index", "total_signal_count", "selection_time",
            "final_result_list_show_time", "selection_source"]
    rows = [
        ("u1|extra", "t0", "query", "url", "5", "true", "12", "cls", "el", "0", "9", "100", "50", "src"),
        ("u2", "t1", "autocomplete", "url", "not-int", "nope", "x", "cls", "el", "y", "z", "q", "w", "src"),
    ]
    csv = spark.createDataFrame(rows, cols)
    out = tp_mod.search_config().apply(csv)
    assert len(out.columns) == 17
    r1, r2 = out.collect()
    assert r1["udid"] == "u1" and r1["num_backend_results"] == 5 and r1["is_search"] is True
    # bad cells -> NULL, never errors (build_cell semantics)
    assert r2["num_backend_results"] is None and r2["query_length"] is None
    assert r2["is_autocomplete"] is True and r2["is_search"] is False


MS_SCHEMA = StructType([
    StructField("client_id", StringType()),
    StructField("submission_date", StringType()),
    StructField("normalized_channel", StringType()),
    StructField("os", StringType()),
    StructField("is_default_browser", BooleanType()),
    StructField("subsession_length", LongType()),
    StructField("default_search_engine", StringType()),
    StructField("search_counts", ArrayType(StructType([
        StructField("engine", StringType()),
        StructField("source", StringType()),
        StructField("count", LongType()),
    ]))),
    StructField("has_addon", BooleanType()),
])

UUID1 = "12345678-1234-1234-1234-123456789abc"
UUID2 = "87654321-4321-4321-4321-cba987654321"


@pytest.fixture()
def rollup(spark):
    tp = spark.createDataFrame(
        [(UUID1, "20170105", "1.0", True, "enabled"),
         (UUID2, "20170105", "1.0", False, "enabled")],
        ["client_id", "submission", "cliqz_version", "has_addon", "event"])
    tpt = spark.createDataFrame(
        [(UUID1, "20170105", "20170105", "cz1", "s1", "ss1", "cliqzEnabled"),
         (UUID1, "20170105", "20170105", "cz1", "s1", "ss2", "cliqzDisabled"),
         (UUID2, "20170105", "20170105", "cz2", "s2", "ss3", "cliqzEnabled")],
        ["client_id", "submission", "date", "cliqz_client_id", "session_id",
         "subsession_id", "event"])
    ms = spark.createDataFrame([
        # in 14-day window (min_date 20170105)
        (UUID1, "20170101", "release", "Linux", True, 7200, "cliqz",
         [{"engine": "cliqz", "source": "urlbar", "count": 3},
          {"engine": "google", "source": "urlbar", "count": 1}], True),
        (UUID1, "20170101", "release", "Linux", True, 3600, "cliqz",
         [{"engine": "cliqz", "source": "urlbar", "count": 2}], None),
        (UUID1, "20161215", "release", "Linux", False, 3600, "cliqz", None, None),  # too old
        (UUID1, "bad-date", "release", "Linux", False, 3600, "cliqz", None, None),  # unparseable
        ("not-a-uuid", "20170101", "release", "Linux", True, 60, "g", None, None),  # invalid id
        # ms-only day for UUID2 -> exercises full-outer txp-NULL side
        (UUID2, "20170102", "beta", "Darwin", False, 1800, "google", None, False),
    ], MS_SCHEMA)
    return pd_mod.profile_daily(tp, tpt, ms)


def test_profile_daily_intended_semantics(rollup):
    rows = {(r["client_id"], r["submission_date"]): r for r in rollup.collect()}
    # UUID1/20170101: two ms rows aggregated, no txp side that day
    r = rows[(UUID1, "20170101")]
    assert r["session_hours"] == pytest.approx(3.0)
    # Counter sums the entries' own count field (profile_daily.py:159-161):
    # cliqz-urlbar 3+2, google-urlbar 1
    assert r["search_counts"] == {"cliqz-urlbar": 5, "google-urlbar": 1}
    assert r["is_default_browser"] is True
    assert r["has_addon"] is True
    assert r["cliqz_enabled"] == 0 and r["txp_events"] == 0     # coalesced txp side
    assert r["cliqz_version"] is None
    # UUID1/20170105: txp side only (ms rows that day: none)
    r = rows[(UUID1, "20170105")]
    # §2.9 intent (prep_txp_agg :186-196): tpt events land in test_*
    # counters, tp_event 'enabled'/'disabled' in cliqz_* — counted
    # separately (the reference's duplicate dict key collapsed them)
    assert r["test_enabled"] == 1 and r["test_disabled"] == 1
    assert r["cliqz_enabled"] == 2 and r["cliqz_disabled"] == 0  # 2 joined rows, tp_event='enabled'
    assert r["txp_events"] == 2
    assert r["search_counts"] == {}                              # {} default, :235
    assert r["session_hours"] == 0.0
    # UUID2/20170102: ms-only full-outer side
    r = rows[(UUID2, "20170102")]
    assert r["channel"] == "beta" and r["test_enabled"] == 0
    # too-old, bad-date, and invalid-uuid ms rows contributed nothing
    assert (UUID1, "20161215") not in rows and (UUID1, "bad-date") not in rows
    assert all(k[0] != "not-a-uuid" for k in rows)


def test_profile_daily_output_schema(rollup):
    assert len(rollup.columns) == 18
    assert rollup.schema["search_counts"].dataType.simpleString() == "map<string,bigint>"


UUID3 = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"


def _sc(engine, source, count):
    return {"engine": engine, "source": source, "count": count}


def test_profile_daily_aggregate_edge_cases(spark):
    """Hand-computed values for the NULL, tie and key edge cases of the
    main-summary aggregate (search-count Counter and default-browser
    mode, :148-173)."""
    tp = spark.createDataFrame(
        [(UUID3, "20170105", "1.0", True, "enabled")],
        ["client_id", "submission", "cliqz_version", "has_addon", "event"])
    tpt = spark.createDataFrame(
        [(UUID3, "20170105", "20170105", "cz3", "s3", "ss3", "cliqzEnabled")],
        ["client_id", "submission", "date", "cliqz_client_id", "session_id",
         "subsession_id", "event"])
    ms = spark.createDataFrame([
        # 20170103: mode tie True/False, Counter key and NULL cases
        (UUID3, "20170103", "release", "Linux", True, 3600, "cliqz",
         [_sc("google", "urlbar", 2), None, _sc("bing", None, None)], None),
        (UUID3, "20170103", "release", "Linux", False, 3600, "cliqz",
         [_sc("google", "urlbar", 3), _sc(None, "urlbar", 4),
          _sc("amazon", "searchbar", 1)], None),
        (UUID3, "20170103", "release", "Linux", None, 3600, "cliqz", None, None),
        # 20170104: every is_default_browser NULL, no Counter entries
        (UUID3, "20170104", "release", "Linux", None, 3600, "cliqz", None, None),
        (UUID3, "20170104", "release", "Linux", None, 3600, "cliqz", [], None),
        (UUID3, "20170104", "release", "Linux", None, 3600, "cliqz", [None], None),
    ], MS_SCHEMA)
    out = pd_mod.profile_daily(tp, tpt, ms).withColumn(
        "keys", F.map_keys("search_counts"))
    rows = {r["submission_date"]: r for r in out.collect()}
    assert set(rows) == {"20170103", "20170104", "20170105"}

    r = rows["20170103"]
    assert r["is_default_browser"] is False   # 1 True vs 1 False: lowest wins
    # NULL element dropped; concat_ws skips a NULL engine or source; a
    # NULL count adds 0; google-urlbar summed across the two rows
    assert r["search_counts"] == {"amazon-searchbar": 1, "bing": 0,
                                  "google-urlbar": 5, "urlbar": 4}
    assert r["keys"] == ["amazon-searchbar", "bing", "google-urlbar", "urlbar"]

    r = rows["20170104"]
    assert r["is_default_browser"] is None    # all NULL -> NULL
    assert r["search_counts"] == {}           # NULL, [] and [NULL] -> {}
    assert r["keys"] == []


def test_profile_daily_is_a_function_of_its_input(spark):
    """One client-day with two values in each of cliqz_version,
    cliqz_client_id, channel, os and default_search_engine: the rollup
    keeps the lowest non-NULL value, so the same rows fed in either
    order give the same row."""
    tp = [(UUID3, "20170105", v, True, "enabled") for v in ("1.0", "2.0")]
    tpt = [(UUID3, "20170105", "20170105", cz, "s3", "ss3", "cliqzEnabled")
           for cz in ("czA", "czB")]
    ms = [(UUID3, "20170105", "release", "Linux", True, 3600, "cliqz", None, None),
          (UUID3, "20170105", "beta", "Darwin", True, 3600, "google", None, None)]

    def rollup(order) -> list:
        def frame(rows, schema):
            return spark.createDataFrame(order(rows), schema).coalesce(1)
        return pd_mod.profile_daily(
            frame(tp, ["client_id", "submission", "cliqz_version",
                       "has_addon", "event"]),
            frame(tpt, ["client_id", "submission", "date", "cliqz_client_id",
                        "session_id", "subsession_id", "event"]),
            frame(ms, MS_SCHEMA)).collect()

    forward, backward = rollup(list), rollup(lambda rows: rows[::-1])
    assert forward == backward
    (r,) = forward
    assert (r["cliqz_version"], r["cliqz_client_id"], r["channel"], r["os"],
            r["default_search_engine"]) == ("1.0", "czA", "beta", "Darwin",
                                            "cliqz")


def _shuffle_write_bytes(spark, df, group: str) -> int:
    """Bytes every completed stage of ``df``'s noop write shuffled."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    stages = [store.lastStageAttempt(s)
              for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    return sum(st.shuffleWriteBytes() for st in stages
               if st.status().toString() == "COMPLETE")


def test_profile_daily_counter_combines_before_shuffle(spark):
    """The Counter is summed per key before the shuffle, so what the
    main-summary aggregate shuffles grows with a client-day's distinct
    keys, not with its rows: 800 rows of one client-day and two keys
    over 4 input partitions shuffle about what 8 such rows do."""
    def shuffled(n_rows: int) -> int:
        row = (UUID3, "20170103", "release", "Linux", True, 60, "cliqz",
               [_sc("google", "urlbar", 1), _sc("bing", "urlbar", 2)], True)
        ms = spark.createDataFrame(
            spark.sparkContext.parallelize([row] * n_rows, 4), MS_SCHEMA)
        return _shuffle_write_bytes(spark, pd_mod.aggregate_ms(ms),
                                    f"counter-combine-{n_rows}")

    small, large = shuffled(8), shuffled(800)
    assert 0 < large < 2 * small, (small, large)


# Final adaptive plan of the rollup fixture (measured): 6 hash exchanges
# (both sides of the client-start semi-join, the Counter's per-key sums,
# the main-summary aggregate, and both sides of the 2-key testpilot join,
# whose partitioning the txp aggregate and the full outer join reuse) and
# 3 broadcast exchanges (the testpilot client ids AQE broadcasts into the
# semi-join, min_dates into main_summary, and that broadcast reused for
# the Counter's scan of main_summary).
ROLLUP_MAX_HASH_EXCHANGES = 6
ROLLUP_MAX_BROADCASTS = 3


def test_profile_daily_plan_shape(rollup):
    """No Window (the window-ranked mode) and no partial aggregates joined
    back, so hash exchanges and broadcasts stay under the measured
    ceilings."""
    rollup.collect()
    final = (rollup._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0])
    assert final.count("Exchange hashpartitioning") <= \
        ROLLUP_MAX_HASH_EXCHANGES, final
    assert "Window" not in final, final
    assert final.count("BroadcastExchange") <= ROLLUP_MAX_BROADCASTS, final
