"""Tiny-size runs of each workload through the benchmark command,
the contract between run.py and BENCHMARK.json, and the refusal to run
without the program.

Run: python3 -m pytest perfbench/tests -q   (about 6 minutes: it starts
Spark several times)
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_run_py():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert list(layers) == run.PER_LAYER
    assert layers == {k: run.layer_unit(k) for k in run.PER_LAYER}
    assert {w["name"] for w in BENCH["workloads"]} == {
        "dedup_batch", "ingest_query"}
    # the workloads' traced runs time every operator query once
    assert sorted(q for w in WORKLOADS.values()
                  for q in w.operator_queries) == sorted(
        run.OPERATOR_QUERIES)


@pytest.mark.parametrize("workload", ["dedup_batch", "ingest_query"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1
    names = (run.END_TO_END if trace == 0 else run.PER_LAYER)
    assert set(last["metrics"]) == set(names)
    for m in last["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace == 0:
        assert all(last["metrics"][k]["value"] > 0 for k in names)
    else:
        report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
        assert abs(report["reconcile"]["gap_frac"]) < 0.10
        # every kernel checksum and every operator query of the workload
        # passed its gate, so each is one of the attempted operations
        queries = WORKLOADS[workload].operator_queries
        assert queries
        assert all(last["metrics"][f"operators.{q}_s"]["value"] > 0
                   for q in queries)
        assert last["attempted"] > len(report["kernels"]) - 1 + len(queries)
    scratch = os.path.join(ROOT, ".perfbench_run")
    assert not [d for d in (os.listdir(scratch) if os.path.isdir(scratch)
                            else []) if d.startswith(f"{workload}-3-")]


def test_refuses_without_program():
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(d, "perfbench"))
        p = _run("dedup_batch", 0, cwd=d)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
