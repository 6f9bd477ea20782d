"""The benchmark's own tests: metric names pinned to BENCHMARK.json, a smoke
run of each workload on tiny inputs through the same code path, and the
failure exit when the package under test is absent.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from tracing import Spans, _union_len, parse_size  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_pins_workloads_and_metrics(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _run(cwd: str, workload: str, trace: int, smoke: bool = True):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd + (["--smoke"] if smoke else []), cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("validate_resume", 1), ("parse_and_query", 0)])
def test_smoke_run_prints_the_benchmark_metrics(spec, workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stdout
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "validate_resume", 0, smoke=False)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_parse_size_reads_formatted_metrics():
    assert parse_size("1.5 KiB") == 1536
    assert parse_size("total (min, med, max)\n2.0 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB)") == 2 << 20
    assert parse_size(None) == 0


def test_self_time_subtracts_covered_children():
    assert _union_len([(0, 2), (1, 3), (5, 6)]) == 4
    spans = Spans()
    spans.records = [
        {"name": "a", "start": 0.0, "end": 10.0, "parent": None, "thread": "t"},
        {"name": "b", "start": 1.0, "end": 4.0, "parent": "a", "thread": "t"},
        {"name": "c", "start": 3.0, "end": 6.0, "parent": "a", "thread": "t"},
    ]
    assert spans.self_times() == {"a": 5.0, "b": 3.0, "c": 3.0}
