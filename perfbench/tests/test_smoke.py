"""Smoke test of the benchmark at the tiny input size.

    python -m pytest perfbench/tests -q

Each case runs ``perfbench/run.py`` from the repo root and checks the
result format: the last stdout line is one JSON object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``, every output
check passed, and the metrics are exactly the end-to-end (``--trace 0``)
or per-layer (``--trace 1``) metrics that BENCHMARK.json lists, each
with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("migrate_bulk", 0), ("migrate_bulk", 1), ("migrate_many", 0), ("query_mix", 0),
     ("query_mix", 1)],
)
def test_workload_result(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    if trace and workload == "migrate_bulk":
        # the fact table is one row group, so one task scans it, and
        # write_reference_csv(single_file=True) writes one part per table
        layer = {k: v["value"] for k, v in result["metrics"].items()}
        assert layer["sources.scan_tasks"] == 1.0 and layer["sinks.write_tasks"] == 1.0
        assert layer["sinks.part_files"] == 2.0


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout (only BENCHMARK.json and perfbench/) the benchmark
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "migrate_bulk", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
