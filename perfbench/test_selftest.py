"""Self-test of the benchmark: tiny runs must emit every metric named in
BENCHMARK.json with its unit, and the span file must form the documented
tree. Run from the repository root (takes several minutes):

    python -m pytest perfbench/test_selftest.py -q
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: parent span name(s) each span name must have (None: a root span)
TREE = {
    "session.start": {None},
    "catalog.load": {None},
    "warmup": {None},
    "op": {None, "warmup"},
    "cycle": {None, "warmup"},
    "specs.build": {"op", "streaming.state_read"},
    "exec.force": {"op", "streaming.state_read"},
    "streaming.ingest": {"cycle"},
    "streaming.trigger": {"streaming.ingest"},
    "streaming.state_read": {"cycle"},
    "spark.job": {"specs.build", "exec.force", "streaming.ingest"},
}


#: The gated workloads, plus ``olap_store``: runnable but not in
#: BENCHMARK.json, so only this self-test keeps it working.
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["olap_store"]


def run_bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 7):
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    return out


def check_metrics(out: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_end_to_end_metrics(workload):
    out = last_json(run_bench(workload, 0))
    check_metrics(out, "end_to_end")
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_per_layer_metrics_and_span_tree(workload):
    out = last_json(run_bench(workload, 1))
    check_metrics(out, "per_layer")
    path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed7.json")
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    names = set()
    for s in spans:
        assert set(s) >= {"id", "name", "start", "end", "parent", "op"}
        assert s["end"] >= s["start"], s
        parent = by_id[s["parent"]]["name"] if s["parent"] is not None else None
        assert parent in TREE[s["name"]], (s["name"], parent)
        names.add(s["name"])
    if workload == "stream_ingest":
        assert {"cycle", "streaming.ingest", "streaming.trigger",
                "streaming.state_read", "spark.job"} <= names
        # both compacting loops compact at least twice
        assert out["metrics"]["streaming.compaction_cycles"]["value"] >= 4
    else:
        assert {"op", "specs.build", "exec.force", "spark.job"} <= names


def test_refuses_to_run_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark's own
    files must fail fast without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p,
            ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"),
        )
    proc = run_bench(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
