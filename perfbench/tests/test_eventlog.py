"""The event-log parser against a canned log with known answers.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

CANNED = os.path.join(os.path.dirname(__file__), "data",
                      "canned_eventlog.jsonl")
T = 1_000_000_000.0   # the canned log's first timestamp, epoch seconds


@pytest.fixture(scope="module")
def result():
    return eventlog.layers(eventlog.parse(CANNED), T, T + 5.0, cpus=2)


def test_stages_attributed_to_layers(result):
    lay = result["layers"]
    assert set(lay) == {"extract", "checkpoint", "candidates", "verify",
                        "monitor"}
    # panako:extract: the UDF stage is extract, the pure write checkpoint
    assert lay["extract"]["core_s"] == pytest.approx(1.9)
    assert lay["checkpoint"]["core_s"] == pytest.approx(0.5)
    assert lay["checkpoint"]["mb_written"] == pytest.approx(3.0)
    # panako:verify: the join stage is candidates, the UDF stage verify
    assert lay["candidates"]["shuffle_mb"] == pytest.approx(5.0)
    assert lay["verify"]["udf_records_in"] == 40
    # a benchmark span's job group names the layer
    assert lay["monitor"]["tasks"] == 2
    assert lay["monitor"]["failed_tasks"] == 1


def test_python_runner_metrics(result):
    lay = result["layers"]
    assert lay["extract"]["py_run_s"] == pytest.approx(1.5)
    assert lay["extract"]["py_sent_mb"] == pytest.approx(2.0)
    assert lay["verify"]["py_run_s"] == pytest.approx(0.8)
    assert "py_run_s" not in lay["candidates"]


def test_reconciliation(result):
    r = result["reconcile"]
    assert r["budget_core_s"] == pytest.approx(10.0)
    assert r["layer_core_s"] == pytest.approx(5.4)
    assert r["task_ser_core_s"] == pytest.approx(0.1)
    assert r["idle_core_s"] == pytest.approx(4.5)
    assert r["driver_serial_s"] == pytest.approx(0.5)
    assert r["other_core_s"] == 0.0
    assert r["gap_frac"] == pytest.approx(0.0, abs=1e-9)


def test_unlabelled_job_is_unnamed(tmp_path):
    """A job with no panako:/perfbench: label belongs to no layer: its task
    time is unnamed, so the reconciliation check fails."""
    events = []
    with open(CANNED) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart" and ev["Job ID"] == 1:
                ev["Properties"] = {}   # the panako:verify job, unlabelled
            events.append(ev)
    log = tmp_path / "eventlog"
    log.write_text("".join(json.dumps(ev) + "\n" for ev in events))
    res = eventlog.layers(eventlog.parse(str(log)), T, T + 5.0, cpus=2)
    r = res["reconcile"]
    assert res["layers"]["other"]["core_s"] == pytest.approx(2.0)
    assert r["other_core_s"] == pytest.approx(2.0)
    assert r["layer_core_s"] == pytest.approx(3.4)
    assert r["gap_frac"] == pytest.approx(0.2)
    assert abs(r["gap_frac"]) >= 0.10


def test_phases(result):
    ph = result["phases"]
    assert ph["extract"] == {"jobs": 1, "wall_s": pytest.approx(2.0)}
    assert ph["probe"]["jobs"] == 1


def test_window_excludes_outside_tasks():
    res = eventlog.layers(eventlog.parse(CANNED), T + 2.0, T + 3.5, cpus=2)
    assert set(res["layers"]) == {"candidates", "verify"}
