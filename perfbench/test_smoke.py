"""Smoke test: every workload once at sf0.001 with tracing on.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the result line names every per-layer metric of
``BENCHMARK.json`` with its unit, that the run record holds every
end-to-end metric, that the named layers' spans and the benchmark's own
time add up to the traced pass, and that no query failed or disagreed with
its oracle.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload: str) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", "1", "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    metrics = result["metrics"]
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
    assert metrics["error_rate"]["value"] == 0.0
    # The layer spans and the benchmark's own time between them make up the
    # traced pass. At sf0.001 reading each stage's metrics (about 4 ms a
    # stage) is around 5% of a query, so the layers cover less of the pass
    # here than the 95% they cover at the workloads' own scale.
    coverage = metrics["trace.layer_coverage"]["value"]
    bench_share = metrics["trace.self_bench_s"]["value"] / metrics["trace.wall_s"]["value"]
    assert coverage >= 0.9
    assert abs(coverage + bench_share - 1.0) < 1e-3

    records = glob.glob(os.path.join(ROOT, ".perfbench", "runs", f"{workload}-seed7-trace1-*.json"))
    with open(max(records, key=os.path.getmtime)) as f:
        record = json.load(f)
    for m in SPEC["end_to_end"]:
        assert record["end_to_end"][m["name"]] > 0, m["name"]


def test_refuses_bare_directory(tmp_path) -> None:
    """Without the engine next to it the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in glob.glob(os.path.join(HERE, "*.py")):
        (bench / os.path.basename(f)).write_bytes(open(f, "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
