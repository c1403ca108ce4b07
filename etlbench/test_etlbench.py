"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest etlbench -q

The short-run tests start one Spark session per case (about six minutes
in all on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from etlbench import gen, run  # noqa: E402
from etlbench.workloads import _row_digest  # noqa: E402


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(root: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(root, "etlbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600)


def test_manifest_names_the_reported_metrics():
    m = _manifest()
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END
    assert {e["name"]: e["unit"] for e in m["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in m["workloads"]] == list(run.WORKLOAD_NAMES)
    setup = next(e for e in m["end_to_end"] if e["name"] == "setup_s")
    assert setup["bound"] == max(e["bound"] for e in m["end_to_end"])


def test_inputs_are_a_function_of_the_seed(tmp_path):
    spec = gen.DaySpec(clients=40, search_rows=20, pool=60)
    dirs = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / name
        d.mkdir()
        gen.write_day(str(d), seed, 0, gen.day_name(0), spec)
        gen.write_star(str(d / "t"), seed, 0.001)
        dirs.append(d)

    def contents(d):
        return [p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()]

    assert contents(dirs[0]) == contents(dirs[1]) != contents(dirs[2])
    assert gen.stream_file(5, 3, 50)[0] == gen.stream_file(5, 3, 50)[0]


def test_rollup_expectation_counts_cross_day_joins():
    day0 = gen.DayFiles("20170101", "", "", "", 0, 0, 0,
                        tp_clients={"a", "b"}, tpt_clients={"a"},
                        ms_clients={"a", "b", "c"})
    day1 = gen.DayFiles("20170102", "", "", "", 0, 0, 0,
                        tp_clients={"c"}, tpt_clients={"b"},
                        ms_clients={"b", "c"})
    # day 0 alone: only (a, day0) has both kinds; ms adds nothing new
    assert gen.expected_rollup_rows([day0, day1], {day0.day}, day0) == 1
    # both days: b now joins across days, so its main-summary row counts
    assert gen.expected_rollup_rows([day0, day1], {day0.day, day1.day},
                                    day1) == 2


def test_row_digest_ignores_order_and_last_digit_noise():
    rows = [(1, 0.1 + 0.2, "x"), (2, 3.0, None)]
    again = [(2, 3.0, None), (1, 0.3, "x")]
    assert _row_digest(rows) == _row_digest(again)
    assert _row_digest(rows) != _row_digest([(1, 0.31, "x"), (2, 3.0, None)])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_short_run_reports_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())
    failed_frac = [line.split()[2] for line in proc.stderr.splitlines()
                   if line.startswith(f"{workload}  failed_frac")]
    assert failed_frac == ["0.0000"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "etlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "daily_etl", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
