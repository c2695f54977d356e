"""Self-tests of the benchmark: tiny-size runs of every workload, the
bare-directory refusal, and planted faults the correctness gate must
catch.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run_cli(cwd: str, *args: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric(workload, trace):
    proc = _run_cli(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                    "--trace", str(trace), "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        layers = {k: v["value"] for k, v in result["metrics"].items()}
        assert layers["rollup.raw_scans"] >= 1
        assert layers["rollup.jobs"] >= 1
        assert layers["manifest.writes"] >= 1
        assert layers["read.jobs"] >= 1
        assert layers["kernel.encode_MBps"] > 0
        if workload == "cascade_codec":
            assert layers["blocks.n_blocks"] > 0
            assert layers["blocks.py_bytes_sent"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run_cli(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                    "--seconds", "1", "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---------------------------------------------------------------------------
# planted faults: the gate must count them as failed operations
# ---------------------------------------------------------------------------


def _tiny_run(tmp_path, workload: str):
    from perfbench import run as cli
    from perfbench.workloads import Run

    work = str(tmp_path / "work")
    cli.prepare_env(work)
    return Run(workload, seed=3, seconds=0, trace=False, work=work, tiny=True)


def test_gate_catches_a_corrupted_tier_file(tmp_path):
    run = _tiny_run(tmp_path, "cascade_plain")

    def corrupt(pipe):
        day_dir = os.path.join(pipe.tier_path("t1h"), sorted(
            d for d in os.listdir(pipe.tier_path("t1h")) if d.startswith("d="))[0])
        victim = next(f for f in sorted(os.listdir(day_dir)) if f.endswith(".parquet"))
        os.remove(os.path.join(day_dir, victim))

    run.corrupt_store = corrupt
    run.execute()
    what, problem = run.failures[0]
    assert what == "op 1"
    assert problem.startswith("t1h: per-day turn_cnt differs")


def test_gate_catches_a_dropped_row(tmp_path):
    run = _tiny_run(tmp_path, "cascade_plain")
    run.corrupt_answer = lambda q, rows: rows[:-1] if q == "daily_totals" else rows
    run.execute()
    # the one batch after the last operation
    assert run.failures == [("daily_totals", run.failures[0][1])]
    assert run.failures[0][1].startswith("daily_totals: ")
    assert run.failed == 1
