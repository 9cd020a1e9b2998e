"""The benchmark's own tests.

    python3 -m pytest perfbench/test_bench.py

- BENCHMARK.json names exactly the metrics run.py prints.
- Exact-count self-check: the per-layer counts repeat exactly between
  two traced runs with the same seed, so a change may rest a count
  claim on them. Each traced run measures its minimum number of steps;
  the check makes two per workload (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from registry_mix import MODULES  # noqa: E402

COUNTS = {
    "stream_fanout": [
        "jobs_per_trigger", "stages_per_trigger", "tasks_per_trigger",
        "sources.scans_per_trigger", "pipeline.rows_in", "sinks.rows_out",
        "sinks.files_written", "sinks.bytes_written",
        "streaming.window.state_rows",
    ],
    "registry_mix": ["tables.load_jobs"] + [
        f"{m}.{f}" for m in MODULES
        for f in ("build_jobs", "exec_jobs", "stages", "tasks")
    ],
}


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.layer_metrics())):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert listed == table, key


def _traced_layers(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stderr[-2000:]
    with open(os.path.join(ROOT, ".perfbench", "out", f"layers-{workload}-s{seed}.json")) as f:
        return json.load(f)["layers"]


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat_exactly(workload):
    first = _traced_layers(workload, seed=5)
    second = _traced_layers(workload, seed=5)
    names = COUNTS[workload]
    assert set(names) <= set(first) and set(names) <= set(second)
    assert {n: first[n] for n in names} == {n: second[n] for n in names}
