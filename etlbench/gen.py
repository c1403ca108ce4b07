"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs, and the program under test only ever sees
the files written here. Each generator also returns what a correct run must
produce from those files, so the benchmark can check every op.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# daily_etl: testpilot pings, search CSV and main-summary parquet per day
# --------------------------------------------------------------------------

AES_KEY = "0123456789abcdef"
ADDON_ID = "testpilot@cliqz.com"
TESTPILOT_ADDON = "@testpilot-addon"
OTHER_DAY = "20161231"  # outside every rotation window, dropped by --day
TPT_EVENTS = ("cliqzEnabled", "cliqzDisabled", "cliqzInstalled",
              "cliqzUninstalled")
SEARCH_HEADER = (
    "udid,start_time,selection_type,entry_point,"
    "final_result_list_backend_result_count,"
    "final_result_list_contains_history,selection_query_length,"
    "selection_class,selection_element,selection_index,"
    "total_signal_count,selection_time,final_result_list_show_time,"
    "selection_source")
SELECTION_TYPES = ("query", "enter", "click", "autocomplete", "other")
MS_SCHEMA = pa.schema([
    ("client_id", pa.string()), ("submission_date", pa.string()),
    ("normalized_channel", pa.string()), ("os", pa.string()),
    ("is_default_browser", pa.bool_()), ("subsession_length", pa.int64()),
    ("default_search_engine", pa.string()),
    ("search_counts", pa.list_(pa.struct([
        ("engine", pa.string()), ("source", pa.string()),
        ("count", pa.int64())]))),
    ("has_addon", pa.bool_()),
])


@dataclass(frozen=True)
class DaySpec:
    """What one generated day holds; the README quotes these."""
    clients: int = 400           # distinct clients pinging on the day
    overlap: float = 0.7         # share that also sends testpilottest pings
    zero_pad: float = 0.3        # share of ciphertexts zero-padded
    other_day: float = 0.05      # share of pings stamped with another day
    search_rows: int = 400       # search CSV rows per day
    pool: int = 600              # client pool the days draw from


@dataclass
class DayFiles:
    day: str
    pings: str
    search_csv: str
    main_summary: str
    # extraction rows the day must yield, per dataset
    testpilot_rows: int
    testpilottest_rows: int
    search_rows: int
    # clients with an extracted row of each ping kind, and the
    # main-summary clients (the rollup's join inputs)
    tp_clients: set = field(default_factory=set)
    tpt_clients: set = field(default_factory=set)
    ms_clients: set = field(default_factory=set)
    # testpilottest rows whose ciphertext is zero-padded (Python fallback)
    zero_pad_rows: int = 0


def _client_pool(rng: np.random.Generator, n: int) -> list[str]:
    return [str(uuid.UUID(bytes=rng.bytes(16), version=4)) for _ in range(n)]


def _encrypt(plain: bytes, zero_pad: bool) -> str:
    """AES-128-ECB under AES_KEY: zero padding is the reference producer's
    form (the program's JVM path rejects it and falls back to Python),
    PKCS#7 is the form the JVM path decodes directly."""
    from cryptography.hazmat.primitives import padding
    from cryptography.hazmat.primitives.ciphers import (Cipher, algorithms,
                                                        modes)
    if zero_pad:
        padded = plain + b"\0" * (-len(plain) % 16)
    else:
        p = padding.PKCS7(128).padder()
        padded = p.update(plain) + p.finalize()
    enc = Cipher(algorithms.AES(AES_KEY.encode()), modes.ECB()).encryptor()
    return base64.b64encode(enc.update(padded) + enc.finalize()).decode()


def _ping(client: str, doc_type: str, day: str, *, test: str,
          events: list, session: str | None, session_id: str,
          tpt_event: str | None) -> dict:
    return {
        "clientId": client,
        "creationDate": f"{day[:4]}-{day[4:6]}-{day[6:]}T12:00:00Z",
        "meta": {"geoCountry": "DE", "normalizedChannel": "release",
                 "os": "Linux", "submissionDate": day, "docType": doc_type},
        "environment": {"settings": {"locale": "de-DE",
                                     "telemetryEnabled": True},
                        "addons": {"activeAddons": {
                            ADDON_ID: {"version": "2.1"}}}},
        "payload": {"test": test, "events": events,
                    "payload": {"cliqzSession": session,
                                "sessionId": session_id,
                                "subsessionId": "ss1", "event": tpt_event,
                                "contentSearch": None}},
    }


def write_day(out_dir: str, seed: int, day_index: int, day: str,
              spec: DaySpec) -> DayFiles:
    """One day's pings (JSONL), search CSV and main-summary parquet.

    Every client sends testpilot pings; a ``spec.overlap`` share also sends
    testpilottest pings, as real clients send both. Some pings of each kind
    miss the extraction filters, and a ``spec.other_day`` share carries
    another submission day, so the counts below are what the filters must
    leave. A testpilottest ping's sessionId carries its plaintext cliqz id
    so the decryption can be checked row by row."""
    rng = np.random.default_rng([seed, day_index])
    pool = _client_pool(np.random.default_rng([seed, 10**6]), spec.pool)
    clients = [pool[i] for i in
               rng.choice(spec.pool, spec.clients, replace=False)]
    pings: list[dict] = []
    tp_rows = tpt_rows = zero_rows = 0
    tp_clients: set = set()
    tpt_clients: set = set()
    for ci, client in enumerate(clients):
        for _ in range(int(rng.integers(1, 4))):
            kind = rng.random()
            other = rng.random() < spec.other_day
            if kind < 0.8:
                test, obj = TESTPILOT_ADDON, ADDON_ID
            elif kind < 0.9:
                test, obj = TESTPILOT_ADDON, "other@addon"
            else:
                test, obj = "@other-test", ADDON_ID
            pings.append(_ping(
                client, "testpilot", OTHER_DAY if other else day, test=test,
                events=[{"event": ("enabled", "disabled")[ci % 2],
                         "object": obj}],
                session=None, session_id="s", tpt_event=None))
            if not other and (test, obj) == (TESTPILOT_ADDON, ADDON_ID):
                tp_rows += 1
                tp_clients.add(client)
        if rng.random() < spec.overlap:
            for _ in range(int(rng.integers(1, 3))):
                other = rng.random() < spec.other_day
                event = (None if rng.random() < 0.1
                         else TPT_EVENTS[int(rng.integers(4))])
                cid = f"cliqz-{day_index}-{ci}"
                zp = bool(rng.random() < spec.zero_pad)
                ct = _encrypt(f"XXXX{cid}|{day}XXXX".encode(), zp)
                pings.append(_ping(
                    client, "testpilottest", OTHER_DAY if other else day,
                    test=ADDON_ID, events=[], session=ct,
                    session_id=f"s-{cid}", tpt_event=event))
                if not other and event is not None:
                    tpt_rows += 1
                    zero_rows += zp
                    tpt_clients.add(client)
    order = rng.permutation(len(pings))
    pings_path = os.path.join(out_dir, f"pings_{day}.jsonl")
    with open(pings_path, "w") as f:
        f.write("\n".join(json.dumps(pings[i]) for i in order))

    csv_path = os.path.join(out_dir, f"search_{day}.csv")
    lines = [SEARCH_HEADER]
    for r in range(spec.search_rows):
        st = SELECTION_TYPES[int(rng.integers(len(SELECTION_TYPES)))]
        n = rng.integers(0, 50, size=6)
        bad = "x" if rng.random() < 0.02 else ""  # try-cast -> NULL cell
        lines.append(
            f"u{day_index}-{r}|extra,t{r},{st},url,{n[0]}{bad},"
            f"{'true' if n[1] % 2 else 'false'},{n[2]},cls,el,{n[3] % 10},"
            f"{n[4]},{n[5] * 10},{n[0] * 7},src")
    with open(csv_path, "w") as f:
        f.write("\n".join(lines) + "\n")

    # main summary: most of the day's clients plus clients never seen in
    # the pings and a few malformed ids (both must drop out of the rollup)
    ms_clients = [c for c in clients if rng.random() < 0.8]
    strangers = _client_pool(rng, spec.clients // 10)
    malformed = [f"not-a-uuid-{i}" for i in range(spec.clients // 50)]
    rows = ms_clients + strangers + malformed
    n = len(rows)
    cnt = rng.integers(0, 5, size=n)
    table = pa.table({
        "client_id": rows,
        "submission_date": [day] * n,
        "normalized_channel": ["release"] * n,
        "os": ["Linux"] * n,
        "is_default_browser": (rng.random(n) < 0.5).tolist(),
        "subsession_length": rng.integers(0, 7200, size=n).tolist(),
        "default_search_engine": ["cliqz"] * n,
        "search_counts": [[{"engine": "cliqz", "source": "urlbar",
                            "count": int(c)}] if c else [] for c in cnt],
        "has_addon": (rng.random(n) < 0.7).tolist(),
    }, schema=MS_SCHEMA)
    ms_path = os.path.join(out_dir, f"ms_{day}.parquet")
    pq.write_table(table, ms_path)
    return DayFiles(day=day, pings=pings_path, search_csv=csv_path,
                    main_summary=ms_path, testpilot_rows=tp_rows,
                    testpilottest_rows=tpt_rows,
                    search_rows=spec.search_rows, tp_clients=tp_clients,
                    tpt_clients=tpt_clients, ms_clients=set(ms_clients),
                    zero_pad_rows=zero_rows)


def expected_rollup_rows(days: list[DayFiles], written: set[str],
                         op_day: DayFiles) -> int:
    """Rows the profile_daily warehouse holds after an op on ``op_day``
    when the days in ``written`` (op_day included) have been extracted.

    The rollup reads every written day's testpilot and testpilottest rows
    but only the op's own main summary. Its keys are the union of the
    (client, day) pairs with both ping kinds on that day, and the op day's
    main-summary clients that have both ping kinds on any written day.
    Dynamic partition overwrite replaces every written day's partition, so
    that union is the whole warehouse. (The 14-day recency filter never
    bites: the rotation window is shorter than 14 days.)"""
    live = [d for d in days if d.day in written]
    txp = {(c, d.day) for d in live for c in d.tp_clients & d.tpt_clients}
    joined = (set().union(*(d.tp_clients for d in live))
              & set().union(*(d.tpt_clients for d in live)))
    ms = {(c, op_day.day) for c in op_day.ms_clients if c in joined}
    return len(txp | ms)


def day_name(i: int) -> str:
    return (dt.date(2017, 1, 1) + dt.timedelta(days=i)).strftime("%Y%m%d")


# --------------------------------------------------------------------------
# adhoc_queries: a small star schema plus events / documents / embeddings,
# in the layout the query registry reads ({dir}/{table}.parquet)
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
PART_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "cap"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join index shard page rank token text word "
         "model cache plan stage task").split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + seconds.astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def write_star(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The ten registry tables at ``scale`` (1.0 = 6M lineitem rows), with
    the value domains the registry's filters expect (region names, market
    segments, 1995-2001 order dates, ...). Returns rows per table."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, n_ev // 66)
    n_docs = max(200, int(50_000 * scale))
    n_emb = max(100, int(20_000 * scale))
    tables: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
                   rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10,
                                  2)})
    odate = rng.integers(0, 2405, n_ord) * 86_400
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odate * 1_000_000),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = odate[okey] + rng.integers(1, 122, n_li) * 86_400
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in
                         rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), ship * 1_000_000)})
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.01:      # exact duplicate
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < 0.06:    # near duplicate: one word swapped
            words = texts[int(rng.integers(len(texts)))].split()
            words[int(rng.integers(len(words)))] = VOCAB[
                int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), k)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# stream_ingest: one event file per op, each covering the next hour window
# --------------------------------------------------------------------------

STREAM_T0 = dt.datetime(2024, 1, 1)
STREAM_SCHEMA_DDL = ("event_id bigint, ts timestamp, user_id bigint, "
                     "event_type string, value double")


def stream_file(seed: int, index: int, n_events: int
                ) -> tuple[str, dict[tuple[str, str], tuple[int, int]],
                           dt.datetime]:
    """JSONL for op ``index``: ``n_events`` events with event time inside
    hour window ``index`` (so each op advances the watermark by one
    window). Returns the text; per (window_start, event_type) the event
    count and integer-cent value total that window must report; and the
    latest event time in the file."""
    rng = np.random.default_rng([seed, 31, index])
    start = STREAM_T0 + dt.timedelta(hours=index)
    secs = np.sort(rng.integers(0, 3600 * 1_000_000, n_events))
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    cents = rng.integers(0, 50_000, n_events)
    users = rng.integers(0, 500, n_events)
    key = start.strftime("%Y-%m-%d %H:%M:%S")
    expect: dict[tuple[str, str], tuple[int, int]] = {}
    rows = []
    for k in range(n_events):
        ts = start + dt.timedelta(microseconds=int(secs[k]))
        et = EVENT_TYPES[etype[k]]
        rows.append(f'{{"event_id": {index * 10**7 + k}, '
                    f'"ts": "{ts.isoformat()}", "user_id": {users[k]}, '
                    f'"event_type": "{et}", "value": {cents[k] / 100}}}')
        n, c = expect.get((key, et), (0, 0))
        expect[(key, et)] = (n + 1, c + int(cents[k]))
    last = start + dt.timedelta(microseconds=int(secs[-1]))
    return "\n".join(rows) + "\n", expect, last
