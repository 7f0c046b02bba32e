"""Exact counters repeat: two traced runs at one seed and core count must
report the same job, stage, task, eager-job, leaked-block and audit-file
counts. Runs the benchmark end to end (about 60-100 s per run):

    python3 -m pytest perfbench/test_counters.py -q
    python3 -m pytest perfbench/test_counters.py -q -k warehouse   # one workload
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "catalog.eager_jobs",
         "blocks.leaked_rdds", "audit.files_end")
WORKLOADS = ("warehouse", "corpus", "serving", "pipeline")


def traced_report(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"], json.loads(lines[-2])["report"]["problems"]
    return json.loads(lines[-2])["report"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counters_repeat_exactly(workload):
    a, b = traced_report(workload, 5), traced_report(workload, 5)
    assert a["provenance"]["fixture_md5"] == b["provenance"]["fixture_md5"]
    got = {k: (a["per_layer"][k], b["per_layer"][k]) for k in EXACT}
    assert all(x == y for x, y in got.values()), got
