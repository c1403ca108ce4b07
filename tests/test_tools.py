"""Keep the repo tooling honest: bench.py stays the one query-timing
loop, and the calibration-normalized bench gate must keep parsing
BASELINE.md and the recorded bench artifacts."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]


def _load_bench_compare():
    spec = importlib.util.spec_from_file_location(
        "bench_compare", str(_REPO / "tools/bench_compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", str(_REPO / "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_queries_reports_build_inside_total(spark):
    """bench.py's one timing loop: per query, the best sample's wall
    clock and the part of it spent until ``q.fn`` returned."""
    from cliqz_etl_spark.queries import load_all
    from tests.conftest import SF_SMOKE

    queries, build_s = _load_bench().time_queries(
        spark, load_all(), ["pricing_summary"], SF_SMOKE)
    assert set(queries) == set(build_s) == {"pricing_summary"}
    assert 0 < build_s["pricing_summary"] <= queries["pricing_summary"]


def test_bench_rejects_unknown_names_before_a_session(monkeypatch):
    """A typo in ``python bench.py q1 q2`` fails before any session,
    warm-up or calibration cost is paid, and names the bad query."""
    import pytest

    import cliqz_etl_spark.session as session

    def no_session(*args, **kwargs):
        raise AssertionError("a session started before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit, match="no_such_query"):
        _load_bench().main(["pricing_summary", "no_such_query"])


def test_one_query_timing_loop():
    """Source scan: the Python-worker warm-up is called and the
    calibration probe is written only in bench.py, so a second copy of
    the timing loop cannot creep back. The benchmark and the tests are
    exempt."""
    files = [*_REPO.glob("*.py"), *(_REPO / "tools").rglob("*.py"),
             *(_REPO / "cliqz_etl_spark").rglob("*.py")]

    def hits(needle: str) -> dict[str, int]:
        return {str(p.relative_to(_REPO)): p.read_text().count(needle)
                for p in sorted(files) if needle in p.read_text()}

    defined = hits("def warm_python_workers(")
    called = {f: n - defined.get(f, 0)
              for f, n in hits("warm_python_workers(").items()}
    assert defined == {"cliqz_etl_spark/session.py": 1}, defined
    assert {f: n for f, n in called.items() if n} == {"bench.py": 1}, called
    assert hits('"spark_job_sec":') == {"bench.py": 1}


def test_baseline_table_parses_and_is_stamped():
    bc = _load_bench_compare()
    baselines = bc.parse_baselines()
    # every headline query with a recorded baseline must parse out
    assert len(baselines) >= 60
    # all rows added since the calibration probe exists carry a stamp
    unstamped = [n for n, b in baselines.items() if not b["stamped"]]
    # the round-1 block predates the probe; nothing else may be unstamped
    assert len(unstamped) <= 28, unstamped
    assert all(b["sec"] > 0 and b["cal"] > 0 for b in baselines.values())


def test_round9_truncated_tail_recovers():
    """BENCH_r09.json as committed: the driver's tail capture clipped the
    JSON line's prefix (the file starts mid-token at `unit": "sec"`), which
    broke the round's own regression gate. load_bench must reconstruct the
    object from the intact tail end — verbatim artifact, no fixture."""
    bc = _load_bench_compare()
    bench = bc.load_bench(str(_REPO / "BENCH_r09.json"))
    assert "queries" in bench and len(bench["queries"]) >= 60
    assert bench["calibration"]["spark_job_sec"] == 0.499
    assert bench["queries"]["cluster_topics"] == 1.795


def test_tail_recovery_handles_mid_queries_clip():
    """Round-10 postmortem: the driver tail can clip INSIDE the queries
    map (BENCH_r10.json opens at `"map_valued_agg":`), losing the
    `"queries"` literal itself. Recovery must rebuild the object with a
    synthetic `{"queries": {` prefix — partial keys beat a dead gate —
    and still fail loudly on a tail with no parseable close."""
    import pytest

    bc = _load_bench_compare()
    good = ('{"metric": "bench", "value": 1.0, "unit": "sec", '
            '"queries": {"a": 0.5, "b": 0.7}, "sf": 0.1}')
    assert bc._recover_from_tail(good, "x")["queries"] == {"a": 0.5, "b": 0.7}
    clipped_prefix = good[18:]  # mid-token, before "queries"
    assert bc._recover_from_tail(clipped_prefix, "x")["queries"]["b"] == 0.7
    mid_map = good[good.index('"a"'):]  # clipped inside the queries map
    rec = bc._recover_from_tail(mid_map, "x")
    assert rec["queries"] == {"a": 0.5, "b": 0.7} and rec["sf"] == 0.1
    with pytest.raises(SystemExit):
        bc._recover_from_tail('gibberish with no brace', "x")


def test_round10_mid_map_tail_recovers():
    """BENCH_r10.json as committed: tail clipped inside the queries map.
    load_bench must reconstruct the map and calibration — verbatim
    artifact, no fixture."""
    bc = _load_bench_compare()
    bench = bc.load_bench(str(_REPO / "BENCH_r10.json"))
    assert "queries" in bench and len(bench["queries"]) >= 60
    assert bench["calibration"]["spark_job_sec"] == 0.535
    assert bench["queries"]["kmv_set_algebra"] == 1.094


def test_rotation_green_requires_all_three_flags(tmp_path):
    """rotate_window's green predicate (round-9 postmortem): rows_match
    alone is NOT green; an explicit False on schema/hash makes the row red,
    and a red latest row sorts to the very front of the window."""
    import importlib.util as iu

    spec = iu.spec_from_file_location(
        "rotate_window", str(_REPO / "tools/rotate_window.py"))
    rw = iu.module_from_spec(spec)
    spec.loader.exec_module(rw)

    assert rw._fully_green({"rows_match": True, "schema_match": True,
                            "hash_match": True})
    assert not rw._fully_green({"rows_match": True, "schema_match": True,
                                "hash_match": False})  # the r8 failure mode
    assert not rw._fully_green({"rows_match": False})
    # rows-only evidence (no oracle SQL): flags absent counts as green
    assert rw._fully_green({"rows_match": True})

    # decimal_money_rollup's real history (r8 red, no green since) must
    # classify as currently-red over the repo's own evidence set
    red = rw.currently_red(["decimal_money_rollup"])
    green = rw.latest_green_rounds(["decimal_money_rollup"])
    if green["decimal_money_rollup"] == 0:  # no green row recorded yet
        assert red == {"decimal_money_rollup"}


def test_round8_bench_normalizes_clean():
    """The round-8 verdict's two >1.5x raw rows were host drift; pinned
    here: at matching calibration NO round-8 row exceeds 1.5x, and the
    two named rows normalize under 1.0. Rows whose baseline was
    RE-PINNED after round 8 are excluded — a later pin describes a
    changed plan (e.g. the round-10 _codec_ids spread cut
    gif_decode_stats 1.38 -> 0.48 s), so normalizing round-8's
    single-split reading against it measures the improvement, not
    drift."""
    bc = _load_bench_compare()
    bench = bc.load_bench(str(_REPO / "BENCH_r08.json"))
    cal_now = bench["calibration"]["spark_job_sec"]
    baselines = bc.parse_baselines()
    over = []
    for name, sec in bench["queries"].items():
        base = baselines.get(name)
        if base is None or (base["round"] or 0) > 8:
            continue
        norm = (sec / cal_now) / (base["sec"] / base["cal"])
        if norm > 1.5:
            over.append((name, round(norm, 2)))
        if name in ("incremental_join_maintenance", "fuzzy_match_parts"):
            assert norm < 1.0, (name, norm)
    assert not over, over


# Returned-frame digests that legitimately show zero scans: streaming
# drains digest the POST-drain batch plan over the in-memory sink, and
# driver-fit queries return a LocalTableScan of the fitted model (the
# distributed work ran in the fit's own jobs — see each docstring and the
# PLANS.md header). Every other headline row must carry a real FileScan:
# the round-10 all-zeros `important_part_value` row was a stale artifact
# this gate now catches.
_ZERO_SCAN_OK = {
    "streaming_hourly_counts", "streaming_dedup", "streaming_left_outer_join",
    "streaming_daily_peak", "streaming_sequence_funnel",
    "observed_write_metrics", "pca_top_component", "markov_attribution",
}


def _parse_plans_rows() -> dict:
    rows = {}
    with open(_REPO / "PLANS.md") as f:
        for line in f:
            if not line.startswith("| "):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) != 8 or cells[0] in ("query", "---"):
                continue
            if not cells[1].isdigit():
                continue
            rows[cells[0]] = {"shuffles": int(cells[1]), "scans": int(cells[7])}
    return rows


def test_plans_md_covers_every_headline_query_with_real_scans():
    """PLANS.md completeness gate (round-11 verdict item 6): one row per
    BENCH_HEADLINE query, and each row digests a real plan — non-zero
    scans unless the query is a documented zero-scan shape above."""
    from cliqz_etl_spark.queries import BENCH_HEADLINE

    rows = _parse_plans_rows()
    missing = [q for q in BENCH_HEADLINE if q not in rows]
    assert not missing, f"PLANS.md rows missing for: {missing}"
    stale = sorted(set(rows) - set(BENCH_HEADLINE))
    assert not stale, f"PLANS.md rows for non-headline queries: {stale}"
    zero = [q for q, d in rows.items()
            if d["scans"] == 0 and q not in _ZERO_SCAN_OK]
    assert not zero, f"all-zero-scan PLANS.md rows (stale artifact?): {zero}"
    unexpected_ok = sorted(_ZERO_SCAN_OK - set(rows))
    assert not unexpected_ok, f"_ZERO_SCAN_OK names without rows: {unexpected_ok}"


def _load_rotate_window():
    spec = importlib.util.spec_from_file_location(
        "rotate_window", str(_REPO / "tools/rotate_window.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_churn_pins_persist_and_expire():
    """Churn pins (round-12): a pin recorded as `# churn-pins(rN): name`
    keeps the query window-fronted while its latest green round < N, and
    expires once a round >= N verifies it — so --check agrees with a
    churn rotation without pinning the query into the window forever."""
    rw = _load_rotate_window()
    src = "    # churn-pins(r12): column_profile_report, other_q\n"
    pins = rw.persisted_churn(src)
    assert pins == {"column_profile_report": 12, "other_q": 12}

    order = ["a", "b", "c", "d"]
    latest = {"a": 11, "b": 6, "c": 9, "d": 0}
    # live pin on 'a' (green r11 < pin r12): sorts into the churn tier,
    # ahead of every stale-evidence query
    out = rw.rotated(order, ["a"], latest=latest, red=set())
    assert out == ["d", "a", "b", "c"]
    # expired pin (green r12 >= pin r12) is dropped by the liveness
    # filter in main(); rotated() without it restores evidence order
    out = rw.rotated(order, [], latest={**latest, "a": 12}, red=set())
    assert out == ["d", "b", "c", "a"]
    # render round-trips the live pin so --check can re-read it
    block = rw.render(out, latest, set(), {"a": 12})
    assert rw.persisted_churn(block) == {"a": 12}
