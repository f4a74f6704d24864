"""Spark event log -> per-layer task metrics.

Folds the event-log reading of ``tools/stage_profile.py`` into the
benchmark and adds what that tool lacks: every stage is attributed to one
layer of the program, and a reconciliation line checks that the layers'
task core-seconds plus named idle time add up to wall x cpus.

Attribution, in order:

1. a job's ``spark.job.description`` of the form ``panako:<phase>`` (set
   by ``panako_spark/pipeline.py``) names the phase;
2. otherwise the job group ``perfbench:<span>`` set by the benchmark's
   own spans (``perfbench/trace.py``) names it;
3. inside a phase, a stage that ran a Python UDF (``MapInPandas`` and
   friends: the stage carries Spark's Python-runner metrics) is split
   from the join / exchange / write stages of the same phase
   (``UDF_LAYER`` / ``JOIN_LAYER``).

For UDF stages the Python-runner metrics split Python compute ("time to
run Python workers") from the Arrow transfer volume, which the task
metrics cannot do."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# phase -> layer of its Python-UDF stages / of its other stages
UDF_LAYER = {
    "census": "extract", "extract": "extract", "verify": "verify",
    "pairs": "fused", "tiles": "tiles", "cluster": "cluster",
    "pipeline": "pipeline", "append": "extract", "probe": "monitor",
}
JOIN_LAYER = {
    "census": "extract", "extract": "checkpoint", "verify": "candidates",
    "pairs": "fused", "tiles": "tiles", "cluster": "cluster",
    "pipeline": "pipeline", "append": "checkpoint", "probe": "monitor",
}

# SQL metrics of Spark's Python runner (ms and bytes, summed over tasks)
PYTHON_RUN = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


def event_lines(path: str):
    """Yield the JSON events of one uncompressed event log: ``path`` is
    the log file itself or a directory holding exactly one app's log."""
    if os.path.isdir(path):
        logs = [p for p in glob.glob(os.path.join(path, "*"))
                if os.path.isfile(p)]
        if len(logs) != 1:
            raise ValueError(f"expected one event log in {path}, "
                             f"found {len(logs)}")
        path = logs[0]
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _phase(props: dict) -> str | None:
    desc = (props.get("spark.job.description") or "").split("\n")[0]
    if desc.startswith("panako:"):
        return desc.split(":", 1)[1]
    group = props.get("spark.jobGroup.id") or ""
    if group.startswith("perfbench:"):
        return group.split(":", 1)[1].split("#")[0]
    return None


def _python_metrics(stage_info: dict) -> dict | None:
    """Spark's Python-runner SQL metrics of a stage; present only when a
    Python UDF operator actually ran in it (a cached upstream MapInPandas
    shows in the RDD scopes but not here)."""
    acc = {a.get("Name"): a.get("Value")
           for a in stage_info.get("Accumulables", [])}
    if PYTHON_RUN not in acc:
        return None
    return {"py_run_s": float(acc.get(PYTHON_RUN) or 0) / 1e3,
            "py_sent_mb": float(acc.get(PYTHON_SENT) or 0) / 1e6,
            "py_returned_mb": float(acc.get(PYTHON_RETURNED) or 0) / 1e6}


def parse(path: str) -> dict:
    """Collect jobs, stages and tasks of one event log."""
    jobs: dict[int, dict] = {}
    stage_phase: dict[int, str | None] = {}
    stage_py: dict[int, dict] = {}
    tasks: list[dict] = []
    for ev in event_lines(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            phase = _phase(props)
            jobs[ev["Job ID"]] = {"phase": phase,
                                  "submit": ev.get("Submission Time", 0),
                                  "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            py = _python_metrics(si)
            if py is not None:
                stage_py[si["Stage ID"]] = py
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": ti.get("Launch Time", 0),
                "finish": ti.get("Finish Time", 0),
                "failed": bool(ti.get("Failed")) or reason != "Success",
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": tm.get("JVM GC Time", 0),
                "ser_ms": (tm.get("Executor Deserialize Time", 0)
                           + tm.get("Result Serialization Time", 0)
                           + ti.get("Getting Result Time", 0)),
                "spill": (tm.get("Memory Bytes Spilled", 0)
                          + tm.get("Disk Bytes Spilled", 0)),
                "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                "shuffle_r_records": sr.get("Total Records Read", 0),
                "out_bytes": (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
            })
    return {"jobs": jobs, "stage_phase": stage_phase, "stage_py": stage_py,
            "tasks": tasks,
            "writes": {t["stage"] for t in tasks if t["out_bytes"]}}


def stage_layer(parsed: dict, sid: int) -> str:
    """The one layer a stage's task time is charged to."""
    phase = parsed["stage_phase"].get(sid)
    if phase is None:
        return "other"
    if sid in parsed["stage_py"]:
        return UDF_LAYER.get(phase, "other")
    if phase == "extract" and sid not in parsed["writes"]:
        # of the extract phase's non-UDF stages, only table writes are
        # checkpoint
        return "extract"
    return JOIN_LAYER.get(phase, "other")


def _busy_profile(intervals: list[tuple[float, float]], t0: float,
                  t1: float, cpus: int) -> tuple[float, float]:
    """(idle core-s, driver-serial s) inside [t0, t1]: a sweep over task
    intervals; driver-serial time is wall with no task running."""
    edges = []
    for a, b in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    idle = serial = 0.0
    running, last = 0, t0
    for t, d in edges:
        gap = t - last
        idle += gap * max(0, cpus - running)
        if running == 0:
            serial += gap
        running += d
        last = t
    gap = t1 - last
    idle += gap * max(0, cpus - running)
    if running == 0:
        serial += gap
    return idle, serial


def layers(parsed: dict, t0: float, t1: float, cpus: int) -> dict:
    """Per-layer sums for the tasks that overlap the wall window [t0, t1]
    (epoch seconds), and the reconciliation against wall x cpus.

    The two sides are measured apart: task run, (de)serialisation and
    result-fetch times come from the task metrics, idle core-seconds from
    a sweep over task launch/finish. What is left (``gap_frac``) is time a
    task held a core that neither side names, mostly scheduler delay, plus
    the task time of stages no layer claims (layer ``other``: jobs with no
    ``panako:``/``perfbench:`` label, or a label outside ``UDF_LAYER`` /
    ``JOIN_LAYER``), which is also reported apart as ``other_core_s``."""
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    layer_of = {}
    intervals = []
    ser = 0.0
    for t in parsed["tasks"]:
        launch, finish = t["launch"] / 1e3, t["finish"] / 1e3
        if finish < t0 or launch > t1:
            continue
        sid = t["stage"]
        if sid not in layer_of:
            layer_of[sid] = stage_layer(parsed, sid)
        m = per[layer_of[sid]]
        m["tasks"] += 1
        m["core_s"] += t["run_ms"] / 1e3
        m["jvm_cpu_s"] += t["cpu_ms"] / 1e3
        m["gc_s"] += t["gc_ms"] / 1e3
        m["spill_mb"] += t["spill"] / 1e6
        m["shuffle_mb"] += t["shuffle_w"] / 1e6
        m["mb_written"] += t["out_bytes"] / 1e6
        m["failed_tasks"] += t["failed"]
        if sid in parsed["stage_py"]:
            m["udf_records_in"] += t["shuffle_r_records"]
        intervals.append((launch, finish))
        ser += t["ser_ms"] / 1e3
    for sid, py in parsed["stage_py"].items():
        if sid in layer_of:     # the stage ran tasks inside the window
            for k, v in py.items():
                per[layer_of[sid]][k] += v
    jobs = defaultdict(lambda: {"jobs": 0, "first": None, "last": None})
    for j in parsed["jobs"].values():
        if j["end"] is None or j["end"] / 1e3 < t0 or j["submit"] / 1e3 > t1:
            continue
        g = jobs[j["phase"] or "other"]
        g["jobs"] += 1
        s, e = j["submit"] / 1e3, j["end"] / 1e3
        g["first"] = s if g["first"] is None else min(g["first"], s)
        g["last"] = e if g["last"] is None else max(g["last"], e)
    idle, serial = _busy_profile(intervals, t0, t1, cpus)
    wall = t1 - t0
    budget = wall * cpus
    core = sum(m["core_s"] for k, m in per.items() if k != "other")
    other = per["other"]["core_s"] if "other" in per else 0.0
    return {
        "layers": {k: dict(v) for k, v in per.items()},
        "phases": {k: {"jobs": v["jobs"],
                       "wall_s": (v["last"] - v["first"]) if v["jobs"]
                       else 0.0}
                   for k, v in jobs.items()},
        "reconcile": {
            "wall_s": wall, "cpus": cpus, "budget_core_s": budget,
            "layer_core_s": core, "other_core_s": other,
            "task_ser_core_s": ser,
            "idle_core_s": idle, "driver_serial_s": serial,
            "gap_frac": ((budget - core - ser - idle) / budget
                         if budget else 0.0),
        },
    }


def table(res: dict) -> str:
    """Human-readable layer table plus the reconciliation line."""
    lines = [f"{'layer':<12}{'tasks':>7}{'core_s':>9}{'py_run_s':>9}"
             f"{'gc_s':>7}{'shufMB':>8}{'spillMB':>8}{'outMB':>7}"]
    for name, m in sorted(res["layers"].items(),
                          key=lambda kv: -kv[1]["core_s"]):
        lines.append(f"{name:<12}{int(m['tasks']):>7}{m['core_s']:>9.2f}"
                     f"{m.get('py_run_s', 0.0):>9.2f}"
                     f"{m['gc_s']:>7.2f}{m['shuffle_mb']:>8.2f}"
                     f"{m['spill_mb']:>8.2f}{m['mb_written']:>7.2f}")
    r = res["reconcile"]
    lines.append(
        f"reconcile: {r['layer_core_s']:.1f} layer core-s + "
        f"{r['task_ser_core_s']:.1f} task (de)serialisation core-s + "
        f"{r['idle_core_s']:.1f} idle core-s (driver-serial wall "
        f"{r['driver_serial_s']:.1f} s) vs {r['budget_core_s']:.1f} = "
        f"{r['wall_s']:.1f} s x {r['cpus']} cpus; unnamed "
        f"{100 * r['gap_frac']:.1f}% (of it {r['other_core_s']:.1f} "
        "core-s in unlabelled stages)")
    return "\n".join(lines)

