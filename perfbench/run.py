"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 10 \\
        --trace 0

Runs from the root of a checkout, in a fresh local[nproc] Spark session.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` measures
traced instead (Spark event log, spans), then untraced for the tracing
overhead, runs the kernel microbench and the workload's share of the
operator queries, and prints the per-layer metrics. The last stdout line
is the result object; the line before it is a report with the workload's
own metric names, sample counts, steal and (traced) the reconciliation.
Exits 1 when an operation fails its correctness gate, 2 when the program
is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

# a run writes nowhere but its scratch directory: no bytecode caches
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.operators import QUERIES as OPERATOR_QUERIES  # noqa: E402

# end-to-end metric -> unit; the report line also carries them under the
# workload's own names (dedup_images_per_s, query_p50_s, ...)
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "recall": "ratio",
    "precision": "ratio",
    "ops_ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {"_s": "s", "_mb": "MB", "mb_written": "MB",
               "_ms_per_img": "ms", "_us_per_pair": "us",
               "_us_per_caption": "us",
               "_frac": "ratio", "_ratio": "ratio", "_util": "ratio"}
PER_LAYER = [
    "kernels.decode_ms_per_img", "kernels.extract_ms_per_img",
    "kernels.verify_us_per_pair", "kernels.minhash_us_per_caption",
    "kernels.suffix_us_per_caption",
    "extract.core_s", "extract.udf_core_s", "extract.gc_s",
    "extract.images", "extract.prints",
    "checkpoint.write_s", "checkpoint.mb_written",
    "checkpoint.files_written",
    "candidates.core_s", "candidates.hits", "candidates.shuffle_mb",
    "candidates.spill_mb", "candidates.useful_ratio",
    "verify.core_s", "verify.pairs_in", "verify.pairs_accepted",
    "tiles.core_s", "tiles.hits", "tiles.shuffle_mb",
    "fused.core_s", "fused.keys", "fused.hot_keys", "fused.pairs_out",
    "cluster.core_s", "cluster.wall_s", "cluster.jobs", "cluster.tasks",
    "pipeline.core_util", "pipeline.idle_core_s", "pipeline.gc_s",
    "pipeline.failed_tasks", "pipeline.driver_serial_s",
    "pipeline.reconcile_gap_frac", "pipeline.trace_overhead_frac",
    "monitor.probe_core_s", "monitor.probe_jobs", "monitor.prints_files",
    *(f"operators.{q}_s" for q in OPERATOR_QUERIES),
]


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)


def end_to_end(name: str, m: dict, setup_s: float,
               rss_mb: float, attempted: int, failed: int) -> tuple:
    """(result metrics, report) of one untraced measurement."""
    ops = m["ops"]
    if name == "dedup_batch":
        lat = [o["latency_s"] for o in ops]
        n_img = m["images"]
        through = n_img / statistics.median(lat)
        recall = statistics.median(q["recall"] for q in m["quality"])
        precision = statistics.median(q["precision"] for q in m["quality"])
        report = {"dedup_images_per_s": through, "n_images": n_img,
                  "dedup_recall_direct": recall,
                  "dedup_recall_closure": statistics.median(
                      q["recall_closure"] for q in m["quality"]),
                  "dedup_precision": precision, "pipeline_runs": len(lat)}
    else:
        app = [o for o in ops if o["kind"] == "append"]
        lat = [o["latency_s"] for o in ops if o["kind"] == "probe"]
        through = (sum(o["images"] for o in app)
                   / sum(o["latency_s"] for o in app))
        recall = m["quality"][0]["hit_rate"]
        precision = m["quality"][0]["precision"]
        report = {"append_images_per_s": through,
                  "query_hit_rate": recall, "query_precision": precision,
                  "appends": len(app), "probes": len(lat)}
    p50 = statistics.median(lat)
    tail_v, tail_p = tail(lat)
    report.update({"latency_samples": len(lat), "latency_p50_s": p50,
                   "latency_tail_s": tail_v, "tail_percentile": tail_p,
                   "failed_ops_frac": failed / attempted})
    if name == "ingest_query":
        report.update({"query_p50_s": p50, "query_tail_s": tail_v})
    values = {"setup_s": setup_s,
              "throughput_per_s": through, "latency_p50_s": p50,
              "recall": recall, "precision": precision,
              "ops_ok_frac": 1.0 - failed / attempted,
              "peak_rss_mb": rss_mb}
    return values, report


def per_layer(parsed_layers: dict, counts: dict, kernels: dict,
              query_s: dict, overhead: float) -> dict:
    from perfbench.kernel_bench import metrics as kernel_metrics

    lay, ph = parsed_layers["layers"], parsed_layers["phases"]
    rec = parsed_layers["reconcile"]

    def g(layer: str, key: str) -> float:
        return lay.get(layer, {}).get(key, 0.0)

    pairs_in = counts.get("verify.pairs_in", 0)
    out = {
        **kernel_metrics(kernels),
        "extract.core_s": g("extract", "core_s"),
        "extract.udf_core_s": g("extract", "py_run_s"),
        "extract.gc_s": g("extract", "gc_s"),
        "checkpoint.write_s": g("checkpoint", "core_s"),
        "checkpoint.mb_written": sum(v["mb_written"] for v in lay.values()),
        "candidates.core_s": g("candidates", "core_s"),
        "candidates.hits": g("verify", "udf_records_in"),
        "candidates.shuffle_mb": g("candidates", "shuffle_mb"),
        "candidates.spill_mb": g("candidates", "spill_mb"),
        "candidates.useful_ratio": (counts.get("verify.pairs_accepted", 0)
                                    / pairs_in if pairs_in else 0.0),
        "verify.core_s": g("verify", "core_s"),
        "tiles.core_s": g("tiles", "core_s"),
        "tiles.hits": g("tiles", "udf_records_in"),
        "tiles.shuffle_mb": g("tiles", "shuffle_mb"),
        "fused.core_s": g("fused", "core_s"),
        "cluster.core_s": g("cluster", "core_s"),
        "cluster.wall_s": ph.get("cluster", {}).get("wall_s", 0.0),
        "cluster.jobs": ph.get("cluster", {}).get("jobs", 0),
        "cluster.tasks": g("cluster", "tasks"),
        "pipeline.core_util": rec["layer_core_s"] / rec["budget_core_s"],
        "pipeline.idle_core_s": rec["idle_core_s"],
        "pipeline.gc_s": sum(v["gc_s"] for v in lay.values()),
        "pipeline.failed_tasks": sum(v["failed_tasks"]
                                     for v in lay.values()),
        "pipeline.driver_serial_s": rec["driver_serial_s"],
        "pipeline.reconcile_gap_frac": rec["gap_frac"],
        "pipeline.trace_overhead_frac": overhead,
        "monitor.probe_core_s": g("monitor", "core_s"),
        "monitor.probe_jobs": ph.get("probe", {}).get("jobs", 0),
    }
    out.update(counts)
    out.update({f"operators.{q}_s": t for q, t in query_s.items()})
    return {k: out.get(k, 0) for k in PER_LAYER}


def mean_latency(m: dict) -> float:
    return sum(o["latency_s"] for o in m["ops"]) / len(m["ops"])


def shutdown_spark() -> None:
    """Stop the session and the JVM, and wait until the JVM and its
    Python workers have ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.hygiene import tree_pids

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in tree_pids() if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass   # the JVM is already gone
    if proc is not None:
        proc.stdin.close()   # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.2)


def run(args, scratch: str) -> tuple[dict, dict, bool, int, int]:
    """Set up several times, warm up, measure; with --trace the measured
    session records an event log and spans, and a second, untraced
    measurement in a fresh JVM gives the tracing overhead."""
    from perfbench import eventlog, hygiene, kernel_bench, operators
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    n_cpus = hygiene.cpus()
    wl = WORKLOADS[args.workload](args.seed, scratch, args.size)
    evdir = os.path.join(scratch, "eventlog")
    report = {"workload": args.workload, "seed": args.seed, "cpus": n_cpus}

    def measure(spark, tracer, counts):
        c0 = hygiene.cpu_counters()
        m = wl.measure(spark, args.seconds, tracer, counts)
        m["steal_pct"] = hygiene.steal_pct(c0, hygiene.cpu_counters())
        return m

    # set-up = session start + the median of several identical data
    # set-ups (corpus load or store pre-build) + the worker warm-up
    t0 = time.perf_counter()
    spark = hygiene.new_session(scratch, n_cpus,
                                event_log=evdir if args.trace else None)
    session_s = time.perf_counter() - t0
    setups = []
    # a traced run reports no setup_s: it sets up once
    for _ in range(1 if args.trace else wl.size["setups"]):
        t0 = time.perf_counter()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup(spark)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(setups) + warmup_s
    report.update({"session_start_s": session_s, "data_setup_s_each": setups,
                   "warmup_s": warmup_s})
    tracer = Tracer(spark if args.trace else None)
    m = measure(spark, tracer, counts=bool(args.trace))
    all_ops = list(m["ops"])
    metrics = {}
    if args.trace:
        spark.stop()   # flushes the event log
        t0, t1 = tracer.window({o["kind"] for o in m["ops"]})
        parsed = eventlog.layers(eventlog.parse(evdir), t0, t1, n_cpus)
        report.update({"traced_steal_pct": m["steal_pct"],
                       "layers": parsed["layers"],
                       "reconcile": parsed["reconcile"],
                       "phases": parsed["phases"],
                       "layer_table": eventlog.table(parsed).split("\n"),
                       "spans": tracer.spans})
        traced = m
        # a new JVM, so the untraced pass meets the same cold JIT as the
        # traced one and the latency ratio is the tracing overhead alone
        shutdown_spark()
        spark = hygiene.new_session(scratch, n_cpus)
        wl.setup(spark)
        wl.warmup(spark)
        m = measure(spark, Tracer(), counts=False)
        all_ops += m["ops"]
        overhead = mean_latency(traced) / mean_latency(m) - 1.0
        query_s = {}
        if wl.operator_queries:
            t0 = time.perf_counter()
            query_s, ops = operators.run(spark, scratch, args.seed,
                                         wl.operator_queries)
            all_ops += ops
            report["operators_wall_s"] = time.perf_counter() - t0
        kernels = kernel_bench.run()
        report["kernels"] = kernels
        # one operation per kernel: its output checksum is its gate
        all_ops += [{"kind": "kernel", "ok": not p, "problems": p}
                    for p in kernel_bench.check(kernels).values()]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in
                   per_layer(parsed, traced["counts"], kernels, query_s,
                             overhead).items()}
    rss = hygiene.peak_rss_mb()
    failed = sum(1 for o in all_ops if not o["ok"])
    values, rep = end_to_end(args.workload, m, setup_s, rss,
                             len(all_ops), failed)
    report.update(rep)
    report["steal_pct"] = m["steal_pct"]
    report["problems"] = [p for o in all_ops for p in o["problems"]]
    if not args.trace:
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    return metrics, report, failed == 0, len(all_ops), failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dedup_batch", "ingest_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "smoke"], default="bench",
                    help="input sizes; 'smoke' is for the self-tests")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "panako_spark", "pipeline.py")):
        print(f"perfbench: no program under {ROOT} (panako_spark/ is "
              "missing); run from the root of a full checkout",
              file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench import hygiene

    hygiene.pin_threads()
    # a SIGTERM still stops the JVM and removes the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics, report, correct, attempted, failed = run(args, scratch)
    finally:
        try:
            shutdown_spark()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))
            except OSError:
                pass   # another run still uses it
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
