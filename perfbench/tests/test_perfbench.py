"""Runs every benchmark workload at a tiny size and pins the record
schema against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark driver (about a minute per case on a
4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, seed: int = 5) -> tuple[dict, dict]:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "0",
        "--trace", str(trace), "--scale", "0.1",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    record, result = (json.loads(x) for x in proc.stdout.splitlines()[-2:])
    return record, result


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_schema(workload):
    record, result = _run(workload, trace=1)
    _check_metrics(result, SPEC["per_layer"])
    assert record["failed_frac"] == 0, record["errors"]
    assert result["correct"] and result["failed"] == 0
    # the end-to-end metrics are measured in every run, traced or not
    assert set(record["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in record["metrics"].values())
    assert record["oracle"] and all(record["oracle"].values())
    layers = result["metrics"]
    assert layers["trace.wall_s"]["value"] > 0
    assert 0 <= layers["trace.span_gap_frac"]["value"] < 0.5
    if workload == "text_state":
        assert layers["memo.entries_built"]["value"] > 0
        assert layers["memo.serve_entries_built"]["value"] == 0
        assert layers["functions.pyworker_cpu_s"]["value"] > 0
    else:
        assert layers["sinks.written_mb"]["value"] > 0
        assert layers["snapshots.commit_s"]["value"] > 0


def test_untraced_run_and_seed_determinism():
    workload = WORKLOADS[0]
    record, result = _run(workload, trace=0)
    _check_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and record["failed_frac"] == 0
    assert record["inputs"] and all(
        t["rows"] > 0 and t["bytes"] > 0 for t in record["inputs"].values()
    )
    again, _ = _run(workload, trace=0)
    other, _ = _run(workload, trace=0, seed=6)
    assert again["input_digest"] == record["input_digest"]
    assert again["digests"] == record["digests"]
    assert other["input_digest"] != record["input_digest"]


def test_refuses_without_the_program(tmp_path):
    """A directory with only the benchmark fails fast, printing no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
