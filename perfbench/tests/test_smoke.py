"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Runs each workload once at a tiny input size and checks the output
contract, makes one traced run, checks the resume path end to end,
then checks that the verdict checker turns one corrupted verdict row
into a failed call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from layers import PER_LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench(workload: str, trace: int, seed: int = 7) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--docs", "200"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    assert _survivors(proc.pid) == []
    return json.loads(stdout.strip().splitlines()[-1])


def _survivors(pid: int) -> list[int]:
    """Live processes whose command line names the scratch directory
    of run ``pid`` (the JVM passes it as its tmpdir)."""
    tag = f"-p{pid}/".encode()
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                if tag in f.read():
                    out.append(int(name))
        except (OSError, ValueError):
            continue
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_end_to_end_metric_prints_with_unit(workload):
    out = _bench(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1
    assert out["failed"] / out["attempted"] == 0  # failed_frac
    assert {k: m["unit"] for k, m in out["metrics"].items()} == run.END_TO_END_UNITS
    assert out["metrics"]["success_frac"]["value"] == 1.0
    for m in out["metrics"].values():
        assert m["value"] > 0


def test_traced_run_prints_every_per_layer_metric():
    out = _bench("validate", trace=1)
    assert out["correct"] is True
    assert {k: m["unit"] for k, m in out["metrics"].items()} == PER_LAYER_UNITS
    assert out["metrics"]["plans.manifest.records"]["value"] == 168
    assert out["metrics"]["plans.suite.jobs"]["value"] > 0


def test_resume_path(tmp_path):
    from data_check_spark.session import get_spark
    from resume import check_resume
    from workloads import materialize

    spark = get_spark(
        "perfbench-smoke", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        # 3,000 urls put rows in every one of the 168 crawl hours
        paths = materialize(spark, str(tmp_path / "in"), seed=3, docs=3000, v2=False)
        assert check_resume(spark, paths["v1"], str(tmp_path)) == []
    finally:
        run.stop_processes()  # the JVM too, not only the SparkContext


def _rows(expected: dict) -> list[tuple]:
    """Verdict rows that agree with ``expected``; thresholds chosen so
    that every row passes."""
    return [(p, c, chk, m, m + 1.0, True) for (p, c, chk), m in expected.items()]


EXPECTED = {
    ("2025-06-01", "text", "max_null_rate"): 0.01,
    ("2025-06-01", "url", "unique"): 3.0,
    ("*", "url", "pk_missing_ratio_1"): 0.0095,
}


def test_checker_accepts_correct_rows(tmp_path):
    rows = _rows(EXPECTED)
    assert run.count_failures(WORKLOADS["validate"], [rows], EXPECTED, str(tmp_path), "k") == 0


@pytest.mark.parametrize("field,value", [(3, 4.0), (5, False)])
def test_one_corrupted_verdict_row_fails_the_call(tmp_path, field, value):
    rows = _rows(EXPECTED)
    bad = list(rows[1])
    bad[field] = value  # a wrong metric, or a flipped pass flag
    rows[1] = tuple(bad)
    wl = WORKLOADS["validate"]
    assert run.count_failures(wl, [_rows(EXPECTED), rows], EXPECTED, str(tmp_path), "k") == 1


def test_verdicts_must_repeat_across_runs(tmp_path):
    wl = WORKLOADS["validate"]
    rows = _rows(EXPECTED)
    assert run.count_failures(wl, [rows], EXPECTED, str(tmp_path), "k") == 0
    # same key, different (still oracle-consistent) thresholds: a change
    # between runs of the same seed is a failure
    moved = [(p, c, chk, m, t + 1.0, ok) for p, c, chk, m, t, ok in rows]
    assert run.count_failures(wl, [moved], EXPECTED, str(tmp_path), "k") == 1
