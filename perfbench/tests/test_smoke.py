"""A short end-to-end run of every workload, as the benchmark is invoked.

Slow (each run starts a Spark session): python3 -m pytest perfbench/tests -m slow
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.slow
@pytest.mark.parametrize(
    "workload, trace",
    [("llm_curation", 0), ("llm_curation", 1), ("stream_ods_ads", 0), ("stream_ods_ads", 1)],
)
def test_workload_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == wanted
    assert all(m["value"] == m["value"] for m in result["metrics"].values())  # no NaN
