"""Smoke test of the benchmark: tiny inputs, every workload, both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each run succeeds, prints every metric of its mode with the
unit BENCHMARK.json gives it, and prints each named metric of its workload
as ``metric <name> = <value> <unit>``.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAMED = {
    "pipeline_job": {"setup_s": "s", "job_turns_per_s": "turns/s", "resume_s": "s",
                     "export_bytes_per_turn": "B/turn", "headline_turns_per_s": "turns/s",
                     "peak_rss_mb": "MB", "failed_ops_share": "ratio"},
    "registry_window": {"setup_s": "s", "window_s": "s", "window_query_p50_s": "s",
                        "window_query_p80_s": "s", "peak_rss_mb": "MB",
                        "failed_ops_share": "ratio"},
}


def test_named_metrics_cover_workloads():
    assert set(NAMED) == {w["name"] for w in BENCH["workloads"]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(NAMED))
def test_smoke_run_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "not declared in BENCHMARK.json" not in p.stderr
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in NAMED[workload].items():
        pat = rf"^metric {re.escape(name)} = \S+ {re.escape(unit)}$"
        assert any(re.match(pat, line) for line in lines), f"{name} [{unit}] not printed"


def test_refuses_to_run_without_the_package(tmp_path):
    """In a tree holding only the benchmark it exits non-zero, no result."""
    (tmp_path / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_job", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
