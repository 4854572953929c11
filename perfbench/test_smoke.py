"""Smoke test of the benchmark: each workload at a tiny size, traced,
end to end with its correctness checks. It starts a Spark JVM per
workload and takes about two minutes, so it runs only when asked for:

    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    DECLARED = json.load(_fh)
END_TO_END = {m["name"] for m in DECLARED["end_to_end"]}
PER_LAYER = {m["name"] for m in DECLARED["per_layer"]}

pytestmark = pytest.mark.skipif(
    not os.environ.get("PERFBENCH_SMOKE"),
    reason="starts Spark; set PERFBENCH_SMOKE=1 to run",
)


def _run(cwd: str, *args: str, timeout: float = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["bulk_cow", "trickle_mor", "read_mix"])
def test_tiny_traced_run_is_correct_and_spans_resolve(workload):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "4",
               "--trace", "1", "--size", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    *_, detail_line, result_line = out.stdout.strip().splitlines()
    detail, result = json.loads(detail_line), json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["checks"] and all(detail["checks"].values())
    assert set(detail["end_to_end"]) == END_TO_END
    assert set(result["metrics"]) == PER_LAYER
    assert set(detail["moves"]) == PER_LAYER

    spans_file = os.path.join(
        ROOT, ".perfbench_work", "results", f"{workload}-tiny-seed7-trace1.spans.json"
    )
    with open(spans_file) as fh:
        spans = json.load(fh)
    ids = {s["id"] for s in spans}
    assert spans and all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert result["metrics"]["trace.unresolved_parents"]["value"] == 0


def test_fails_without_a_result_outside_a_checkout():
    """A directory holding only the benchmark has no engine to run."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = _run(bare, "--workload", "bulk_cow", "--seed", "1", "--seconds", "1",
                   "--trace", "0", timeout=120)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
