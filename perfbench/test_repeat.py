"""Exact-repeat check of the benchmark itself (slow: six traced runs).

    python3 -m pytest perfbench/test_repeat.py -q

For each workload, two traced runs with one seed must agree exactly on
the first cycle's result fingerprint, on ``work_per_op`` (LM prompts per
pass, Spark jobs per batch), and on every span's jobs, stages, tasks and
bytes written, the traced index maintenance's included; a run with
another seed must change the fingerprint and keep the sequence of spans.
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ("eager_jobs", "jobs", "stages", "tasks", "bytes_written", "files_written")


def traced_run(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    m = re.search(r"fingerprint (\w+) work_per_op (\S+)", p.stdout)
    path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed{seed}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    # set-up spans before the timed phase carry no operation id
    timed = [s for s in spans if s["op"] is not None]
    return {"fingerprint": m.group(1), "work_per_op": float(m.group(2)),
            "sequence": [(s["name"], s["op"]) for s in timed],
            "counts": [(s["name"], s["op"], *[s.get(f) for f in EXACT])
                       for s in spans if s["name"] != "session.get_spark"],
            "metrics": result["metrics"]}


@pytest.mark.parametrize("workload", ["semantic_batch", "index_serving"])
def test_same_seed_repeats_exactly_and_seed_changes_inputs(workload):
    a = traced_run(workload, 101)
    b = traced_run(workload, 101)
    assert a["fingerprint"] == b["fingerprint"]
    assert a["work_per_op"] == b["work_per_op"]
    assert a["counts"] == b["counts"]
    for name, v in a["metrics"].items():
        if name.endswith((".jobs", ".tasks", ".stages", ".prompts", ".calls",
                          "lm_stage_tasks", ".bytes_written", ".files_written")):
            assert v == b["metrics"][name], name
    c = traced_run(workload, 202)
    assert c["fingerprint"] != a["fingerprint"]
    assert c["sequence"] == a["sequence"]
