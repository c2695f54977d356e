"""scripts/rollup_job.py command line: option parsing only, checked
before any Spark session is built."""

from __future__ import annotations

import importlib.util
import inspect
import sys
from pathlib import Path

import pytest

from grass_spark.operators.rollup import RollupPipeline

SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "rollup_job.py"


def _load():
    spec = importlib.util.spec_from_file_location("rollup_job", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_parse_buckets_int_and_per_tier_spec():
    job = _load()
    assert job._parse_buckets("16") == 16
    assert job._parse_buckets("t1m=256,t1h=64,t1d=16") == {
        "t1m": 256, "t1h": 64, "t1d": 16,
    }


@pytest.mark.parametrize("argv", [
    ["--output", "x", "--bucketed", "4"],  # legacy copy flag is gone
    ["--output", "x", "--layout", "auto"],  # no "auto" layout
    ["--synth", "10"],  # --output is required
])
def test_cli_rejects_unknown_or_missing_options(monkeypatch, capsys, argv):
    job = _load()
    monkeypatch.setattr(sys, "argv", ["rollup_job.py", *argv])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert "error:" in capsys.readouterr().err


def test_pipeline_has_six_settable_options():
    params = list(inspect.signature(RollupPipeline.__init__).parameters)
    assert params == [
        "self", "base_dir",
        "tiers", "keys", "compress", "layout", "buckets", "sketches",
    ]
