"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so per the rule's sanctioned
substitute we run the IDENTICAL job at two local parallelism levels
(local[N] and local[4N]) on the same cached input corpus, in separate
subprocesses (fresh JVM each), and report throughput at both plus
scaling efficiency:

    efficiency(N -> 4N) = throughput(4N) / (4 * throughput(N))

Measurement hygiene — this sandbox VM suffers bursty hypervisor CPU
steal (baseline <1%, bursts of 20-40% lasting minutes, measured from
/proc/stat). A steal burst slows an 8-core run ~proportionally while
barely touching a 2-core run, so single runs — and even unlucky
medians — can understate scaling by 1.5x. The protocol therefore:
  * R repeats per level, ALTERNATING levels (N, 4N, N, 4N, ...) so host
    drift decorrelates from level;
  * measures the VM's hypervisor STEAL fraction across every individual
    run (delta of /proc/stat counters, reported relative to BUSY ticks —
    a local[2] run keeps 30/32 vCPUs idle, so aggregate steal dilutes
    the contention on the busy cores ~16x and misses it) and publishes
    it per run;
  * before each repeat pair a short loaded probe waits (bounded) for a
    quiet window — scheduling runs between bursts beats re-running
    contaminated pairs;
  * a run with steal above --steal-threshold (default 5%) is marked
    CONTAMINATED; extra repeats are launched (up to 3x R pairs) until R
    clean runs per level exist. Headline medians are over CLEAN runs;
    all-runs medians are published alongside — nothing is discarded
    silently;
  * the hardware ceiling is measured inline: a pure-CPU multiprocess
    benchmark at N and 4N processes gives the max throughput ratio the
    VM can physically deliver (SMT + residual steal + memory bandwidth
    cap it below 4x). Efficiency is reported raw AND normalized to that
    ceiling — on a real cluster with N and 4N executors the ceiling is
    ~1.0 and the raw number is the one that counts.

Writes BENCH/BASELINE.md. Usage:
    python tools/scaling_run.py [--n 2] [--repeats 3]
        [--n-base-store 20000] [--n-base-full 24000] [--modes store,full]
        [--steal-threshold 5.0]
"""

from __future__ import annotations

import argparse
import datetime
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spin(_: int) -> int:
    x = 0
    t_end = time.monotonic() + 3.0
    while time.monotonic() < t_end:
        for _ in range(10000):
            x += 1
    return x


def hardware_ratio(n: int, pin: bool = True) -> dict:
    """Pure-CPU throughput at n and 4n processes -> the VM's ceiling.

    Pinned to the same CPU sets as the measured runs (children inherit
    the affinity mask), so the ceiling is the ceiling OF THE PROTOCOL,
    not of a different scheduling regime."""
    out = {}
    prev = os.sched_getaffinity(0) if hasattr(os, "sched_getaffinity") else None
    for procs in (n, 4 * n):
        try:
            if pin and prev is not None:
                os.sched_setaffinity(0, set(range(procs)))
            with mp.Pool(procs) as p:
                out[procs] = sum(p.map(_spin, range(procs))) / 3.0
        finally:
            if pin and prev is not None:
                os.sched_setaffinity(0, prev)
    return {"n_procs": n, "thr_n": out[n], "thr_4n": out[4 * n],
            "ratio": out[4 * n] / out[n]}


def _cpu_counters(cpu_ids: set[int] | None = None) -> tuple[int, int, int]:
    """(steal, busy, total) ticks from /proc/stat.

    cpu_ids=None reads the aggregate line. With a set, per-cpu lines are
    summed over exactly those ids — the right scope for a PINNED run:
    hypervisor steal accrues per vCPU, so steal on cores the run cannot
    touch (another job on this VM doing its own work on a disjoint CPU
    set) says nothing about the pinned cores and must not contaminate
    the gate. busy excludes idle+iowait — steal is judged against time
    the CPUs actually wanted to run."""
    steal = busy = total = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            tag = line.split()[0]
            if cpu_ids is None:
                if tag != "cpu":
                    continue
            else:
                if tag == "cpu" or int(tag[3:]) not in cpu_ids:
                    continue
            vals = list(map(int, line.split()[1:]))
            steal += vals[7] if len(vals) > 7 else 0
            idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
            busy += sum(vals) - idle
            total += sum(vals)
            if cpu_ids is None:
                break
    return steal, busy, total


def _spin_until(t_end: float) -> int:
    x = 0
    while time.monotonic() < t_end:   # CLOCK_MONOTONIC is system-wide
        for _ in range(20000):
            x += 1
    return x


def _steal_probe(procs: int = 8, seconds: float = 6.0,
                 pin: bool = True) -> float:
    """Busy-relative steal %% while spinning `procs` processes — an idle
    VM shows ~zero busy ticks, so contention must be probed under load.

    Pinned (default) to the CPU set the measured runs will use, and read
    from that set's per-cpu counters: hypervisor steal is per vCPU, and
    an unscoped probe charges this protocol for busy/steal ticks of
    unrelated same-VM work on disjoint cores."""
    cpu_ids = set(range(procs)) if pin else None
    prev = os.sched_getaffinity(0) if (pin and hasattr(
        os, "sched_getaffinity")) else None
    s0, b0, _ = _cpu_counters(cpu_ids)
    t_end = time.monotonic() + seconds
    try:
        if prev is not None:
            os.sched_setaffinity(0, cpu_ids)
        with mp.Pool(procs) as p:
            p.map(_spin_until, [t_end] * procs)
    finally:
        if prev is not None:
            os.sched_setaffinity(0, prev)
    s1, b1, _ = _cpu_counters(cpu_ids)
    return 100.0 * (s1 - s0) / max(1, b1 - b0)


FOREGROUND_LOCK = "/tmp/panako_foreground.lock"
SCALING_BUSY = "/tmp/panako_scaling_busy"


def wait_for_quiet(threshold: float, max_wait_s: float = 600.0) -> float:
    """Block until a steal probe comes in under threshold (or the wait
    budget runs out); returns the last probe reading. Scheduling runs
    into quiet windows beats re-running contaminated pairs.

    Also honors a cooperative same-VM lock: while FOREGROUND_LOCK
    exists (another job on this VM wants the cores — e.g. a test run),
    no new pair starts; while a pair is in flight SCALING_BUSY is
    published so the other side can wait symmetrically. Same-VM
    contention is invisible to the hypervisor-steal probe, so it needs
    its own channel."""
    t0 = time.monotonic()
    while os.path.exists(FOREGROUND_LOCK):
        print("    foreground lock held — waiting", flush=True)
        time.sleep(30)
        if time.monotonic() - t0 > 4 * max_wait_s:
            break
    while True:
        steal = _steal_probe()
        if steal <= threshold or time.monotonic() - t0 > max_wait_s:
            return steal
        print(f"    host busy (probe steal {steal:.1f}%) — waiting for a "
              f"quiet window", flush=True)
        time.sleep(45)


RUNS_JSONL = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")
BW_PROBE_JSON = os.path.join(REPO, "BENCH", "bandwidth_probe.json")


def _history_section(mode: str, lo: int, hi: int) -> str:
    """Auto-regenerated measurement history: EVERY pinned pair ever
    appended to BENCH/scaling_runs.jsonl, so a rewrite of BASELINE.md
    can never drop prior evidence. Pairs = chronologically adjacent
    pinned runs of `mode` at the two levels (the protocol alternates
    levels within a pair, so adjacency is pairing)."""
    try:
        with open(RUNS_JSONL) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
    except OSError:
        return ""
    rows = [r for r in rows
            if r.get("mode") == mode and r.get("pinned_cpus")
            and r.get("level") in (lo, hi)]
    pairs, i = [], 0
    while i + 1 < len(rows):
        a, b = rows[i], rows[i + 1]
        if {a["level"], b["level"]} == {lo, hi}:
            small = a if a["level"] == lo else b
            big = b if small is a else a
            pairs.append((small, big))
            i += 2
        else:
            i += 1
    if not pairs:
        return ""
    lines = []
    for k, (s, b) in enumerate(pairs, 1):
        sp = b["images_per_sec"] / s["images_per_sec"]
        when = datetime.datetime.fromtimestamp(
            s["ts0"]).strftime("%Y-%m-%d %H:%M")
        # candidate-config trials (run with --bench-conf) stay in the
        # history like everything else, but labeled — a reader must
        # never mistake a trial row for the shipping configuration
        conf = sorted(set(s.get("bench_conf", [])
                          + b.get("bench_conf", [])))
        tag = f" `[{' '.join(conf)}]`" if conf else ""
        lines.append(
            f"| {k} | {when}{tag} | {s['images_per_sec']:.2f} "
            f"| {b['images_per_sec']:.2f} | {sp:.2f}x "
            f"| {sp / (hi / lo):.3f} "
            f"| {s['steal_pct']}% / {b['steal_pct']}% |")
    bw = ""
    try:
        with open(BW_PROBE_JSON) as f:
            levels = {x["procs"]: x["aggregate_gbs"]
                      for x in json.load(f)["levels"]}
        if lo in levels and hi in levels:
            ratio = levels[hi] / levels[lo]
            bw = (f"\nThe pure-CPU ceiling above bounds compute-bound "
                  f"code only. The recorded STREAM-triad probe "
                  f"(BENCH/bandwidth_probe.json) measures the DRAM "
                  f"side of the same box: "
                  f"aggregate bandwidth from {lo} to {hi} pinned "
                  f"processes scales **{ratio:.2f}x** "
                  f"({levels[lo]:.1f} -> {levels[hi]:.1f} GB/s), so a "
                  f"fully memory-streaming-bound phase cannot exceed "
                  f"{ratio:.2f}x (efficiency {ratio / (hi / lo):.2f}) "
                  f"here no matter how it is coded. On the deployment "
                  f"target (N vs 4N executors, each with its own "
                  f"memory channels) this term does not exist — "
                  f"BENCH/ATTRIBUTION.md quantifies which stages it "
                  f"binds.\n")
    except (OSError, KeyError, ValueError):
        pass
    return (f"\n### Measurement history — {mode} mode, {lo} -> {hi} "
            f"cores (every pinned pair ever recorded, none dropped)\n\n"
            f"All pairs below ran the identical protocol on the same "
            f"cached corpus; rows are chronological, so code changes "
            f"land between rows (per-commit attribution in "
            f"BENCH/ATTRIBUTION.md):\n\n"
            f"| pair | started | thr local[{lo}] | thr local[{hi}] "
            f"| speedup | raw eff | steal {lo}/{hi} |\n"
            f"|---|---|---|---|---|---|---|\n"
            + "\n".join(lines) + "\n" + bw)


def _clean_eff_phrase(mode: str, lo: int, hi: int, thr: float) -> str:
    """Narrative phrase for the clean-pair raw efficiencies of one
    level pair, computed from the jsonl so the standing section never
    goes stale as pairs accumulate."""
    try:
        with open(RUNS_JSONL) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
    except OSError:
        return "no clean pairs recorded yet"
    # prefer the write-time protocol tag (ADVICE r3: adjacency-only
    # pairing mispairs overlapping protocols like {1,4} + {4,16}, and
    # reclassifying history with the CURRENT --steal-threshold silently
    # rewrites which past pairs count as clean); legacy untagged rows
    # keep the adjacency inference and the caller's threshold
    rows = [r for r in rows
            if r.get("mode") == mode and r.get("pinned_cpus")
            and not r.get("bench_conf")  # trials live in history only
            and (r["protocol_pair"] == [lo, hi] if "protocol_pair" in r
                 else r.get("level") in (lo, hi))]
    effs, i = [], 0
    while i + 1 < len(rows):
        a, b = rows[i], rows[i + 1]
        if {a["level"], b["level"]} == {lo, hi}:
            small = a if a["level"] == lo else b
            big = b if small is a else a
            if (small["steal_pct"] <= small.get("steal_threshold_at_write",
                                                thr)
                    and big["steal_pct"] <= big.get(
                        "steal_threshold_at_write", thr)):
                effs.append(big["images_per_sec"]
                            / small["images_per_sec"] / (hi / lo))
            i += 2
        else:
            i += 1
    if not effs:
        return "no clean pairs recorded yet"
    med = statistics.median(effs)
    lst = ", ".join(f"{e:.3f}" for e in effs)
    n_over = sum(1 for e in effs if e >= 0.8)
    # the tail claim must match the numbers it annotates: only say "no
    # ceiling normalization needed" when EVERY clean pair clears the
    # target raw (ADVICE r3: the unconditional phrase asserted it for a
    # 1/7 pair set)
    head = (f"{len(effs)} clean pair(s), raw efficiency {lst} "
            f"(median {med:.2f}); {n_over}/{len(effs)} clear the "
            f">= 0.8 target on raw numbers")
    if n_over == len(effs):
        return head + ", no ceiling normalization needed"
    return (head + "; the rest rely on the same-window ceiling "
            "normalization (see the history section's measured "
            "ceilings)")


def _modes_in_log(extra: list[str]) -> list[str]:
    """Canonically-ordered union of this invocation's modes and every
    mode with pinned runs in the jsonl — so a store-only rewrite keeps
    the full-mode history sections and vice versa."""
    found: set[str] = set(extra)
    try:
        with open(RUNS_JSONL) as f:
            for ln in f:
                if ln.strip():
                    r = json.loads(ln)
                    if r.get("pinned_cpus"):
                        found.add(r.get("mode"))
    except OSError:
        pass
    return ([m for m in ("store", "full") if m in found]
            + sorted(found - {"store", "full"}))


def _level_pairs_in_log(mode: str) -> list[tuple[int, int]]:
    """Every (N, 4N) level pair with at least one pinned run of `mode`
    in the jsonl — so a rewrite of BASELINE.md keeps the history of ALL
    protocols ever run (2->8 and 1->4), not just the latest
    invocation's."""
    try:
        with open(RUNS_JSONL) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
    except OSError:
        return []
    tagged = {tuple(r["protocol_pair"]) for r in rows
              if r.get("mode") == mode and r.get("pinned_cpus")
              and r.get("protocol_pair")}
    lvls = sorted({r["level"] for r in rows
                   if r.get("mode") == mode and r.get("pinned_cpus")
                   and "protocol_pair" not in r})
    return sorted(tagged | {(lo, lo * 4) for lo in lvls
                            if lo * 4 in lvls})


def run_level(cpus: int, n_base: int, mode: str,
              pin: bool = True,
              protocol_pair: tuple[int, int] | None = None,
              steal_threshold: float | None = None,
              bench_conf: list[str] | None = None) -> dict | None:
    """One bench run at one parallelism level; None on subprocess failure
    (a crashed run must cost one pair, never the whole hunt's data —
    learned the hard way when a mid-hunt OOM at 69.7k images killed
    3.5 h of in-memory pair records). Every successful run row is ALSO
    appended to BENCH/scaling_runs.jsonl immediately.

    Each run is PINNED to exactly `cpus` host CPUs (taskset). An
    unpinned local[N] JVM on a 32-vCPU host offloads GC threads, netty
    shuffle IO, parquet compression and the Python workers onto idle
    cores — a 1 Hz /proc/stat sampler measured ~5 cores busy (p90 10.5)
    during an "unpinned local[2]" full run. Those free extra cores
    inflate the small level's throughput, so the 2->8 ratio structurally
    under-reads scaling. A real N-core executor has no spare host cores;
    pinning makes total CPU scale exactly 4x between the two levels,
    which is the quantity the north rule's N->4N criterion varies. The
    host has 32 physical cores, SMT off (1 thread/core), so CPU ids
    0..N-1 are topology-fair sets.

    The driver heap is pinned to 48g (vs bench.py's 16g default): the
    VM has 128 GiB; at 69.7k images the extract persist + concurrent
    branch shuffles exceed a 16g unified region only when 8 tasks run
    at once — a memory ceiling that throttles the 4N level but not N
    would masquerade as poor scaling. Same value at both levels keeps
    the comparison fair."""
    # steal is gated on the PINNED CPU SET only: steal ticks accrue per
    # vCPU, so contention on cores this run cannot touch is irrelevant
    cpu_ids = set(range(cpus)) if pin else None
    s0, b0, t0 = _cpu_counters(cpu_ids)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="48g")
    cmd = [sys.executable, os.path.join(REPO, "bench.py"), "--skip-tables",
           "--no-quiet-wait",  # this harness schedules its own windows
           "--cpus", str(cpus), "--n-base", str(n_base), "--mode", mode]
    for kv in (bench_conf or []):
        cmd += ["--conf", kv]
    if pin:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    ts0 = time.time()
    try:
        out = subprocess.run(
            cmd,
            capture_output=True, text=True, timeout=10800, check=True,
            cwd=REPO, env=env)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        err = (e.stderr or "")[-3000:] if hasattr(e, "stderr") else ""
        print(f"    RUN FAILED local[{cpus}] {mode}: {type(e).__name__}\n"
              f"    stderr tail: {err}", flush=True)
        return None
    ts1 = time.time()
    s1, b1, t1 = _cpu_counters(cpu_ids)
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            r = json.loads(line)
            r["steal_pct"] = round(
                100.0 * (s1 - s0) / max(1, b1 - b0), 2)  # busy-relative
            r["steal_pct_aggregate"] = round(
                100.0 * (s1 - s0) / max(1, t1 - t0), 2)
            r["mode"], r["level"] = mode, cpus
            # write-time protocol tag + gating threshold (ADVICE r3):
            # history readers pair/classify from these fields, never by
            # re-inferring with whatever arguments a LATER rerun uses
            if protocol_pair is not None:
                r["protocol_pair"] = list(protocol_pair)
            if steal_threshold is not None:
                r["steal_threshold_at_write"] = steal_threshold
            if bench_conf:
                r["bench_conf"] = list(bench_conf)
            r["pinned_cpus"] = f"0-{cpus - 1}" if pin else None
            r["steal_scope"] = ("pinned_set" if pin else "host")
            r["ts0"], r["ts1"] = round(ts0, 1), round(ts1, 1)
            # busy ticks at 100 Hz/CPU over the measured scope: avg
            # cores busy during the run (pinned set when pinning)
            r["avg_busy_cores"] = round((b1 - b0) / 100.0
                                        / max(1e-9, ts1 - ts0), 2)
            os.makedirs(os.path.dirname(RUNS_JSONL), exist_ok=True)
            with open(RUNS_JSONL, "a") as f:
                f.write(json.dumps(r) + "\n")
            return r
    print(f"    RUN FAILED local[{cpus}] {mode}: no JSON line\n"
          f"    stdout tail: {out.stdout[-1000:]}\n"
          f"    stderr tail: {out.stderr[-2000:]}", flush=True)
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-base", type=int, default=None,
                    help="override corpus size for ALL modes")
    ap.add_argument("--n-base-store", type=int, default=20000)
    ap.add_argument("--n-base-full", type=int, default=48000)
    ap.add_argument("--n", type=int, default=2, help="small level N (4N big)")
    ap.add_argument("--repeats", type=int, default=3,
                    help="clean runs required per level")
    ap.add_argument("--clean-pairs-target", type=int, default=None,
                    help="stop a mode once this many CLEAN PAIRS (both "
                         "levels clean in the same pair) exist; falls "
                         "back to the per-level --repeats rule when unset")
    ap.add_argument("--max-pairs", type=int, default=None,
                    help="hard cap on pairs per mode (default repeats*3)")
    ap.add_argument("--budget-s", type=float, default=None,
                    help="wall-clock budget: no new pair starts after "
                         "this many seconds")
    ap.add_argument("--modes", default="store,full")
    ap.add_argument("--steal-threshold", type=float, default=5.0,
                    help="max %% hypervisor steal for a run to count as "
                         "clean")
    ap.add_argument("--quiet-wait-s", type=float, default=600.0,
                    help="max seconds to wait for a quiet (low-steal) "
                         "window before starting a pair anyway")
    ap.add_argument("--start-pair", type=int, default=0,
                    help="initial pair index: lets a follow-up "
                         "invocation continue the level-order "
                         "alternation (odd index = big level first) "
                         "and pair numbering of an earlier session")
    ap.add_argument("--bench-conf", action="append", default=[],
                    metavar="K=V",
                    help="extra spark conf(s) passed through to every "
                         "bench.py run (candidate-config trials, e.g. "
                         "spark.io.compression.codec=zstd); recorded on "
                         "each jsonl row")
    ap.add_argument("--no-pin", action="store_true",
                    help="skip taskset CPU pinning (pinning is the "
                         "default: it is what makes local[N] a faithful "
                         "N-core-executor stand-in)")
    args = ap.parse_args()
    pin = not args.no_pin

    levels = [args.n, args.n * 4]
    modes = args.modes.split(",")
    n_bases = {"store": args.n_base or args.n_base_store,
               "full": args.n_base or args.n_base_full}

    hw = hardware_ratio(args.n, pin=pin)
    print(f"hardware ceiling {args.n}->{4 * args.n} procs (startup probe): "
          f"{hw['ratio']:.2f}x (ideal 4.0x)", flush=True)
    t_budget0 = time.monotonic()

    runs: dict[str, dict[int, list[dict]]] = {
        m: {c: [] for c in levels} for m in modes}
    pairs_log: dict[str, list[dict]] = {m: [] for m in modes}
    for mode in modes:
        key = "image_store" if mode == "store" else "image_dedup_pipeline"
        max_pairs = args.max_pairs or args.repeats * 3
        pair = args.start_pair
        while pair < args.start_pair + max_pairs:
            if (args.budget_s is not None
                    and time.monotonic() - t_budget0 > args.budget_s):
                print(f"[{mode}] wall-clock budget exhausted after "
                      f"{pair} pairs", flush=True)
                break
            probe = wait_for_quiet(args.steal_threshold,
                                   max_wait_s=args.quiet_wait_s)
            # ceiling measured IN THE SAME WINDOW as the pair it gates:
            # the VERDICT flagged a startup-only ceiling (4.34x,
            # superlinear => itself steal-distorted) as internally
            # inconsistent with runs from other windows
            hw_pair = hardware_ratio(args.n, pin=pin)
            print(f"[{mode}] pair{pair}: pre-flight probe steal "
                  f"{probe:.1f}%, same-window ceiling "
                  f"{hw_pair['ratio']:.2f}x", flush=True)
            order = levels if pair % 2 == 0 else levels[::-1]
            pair_rec: dict = {"pair": pair, "hw_ratio": hw_pair["ratio"],
                              "probe_steal": probe, "order": list(order)}
            failed = False
            with open(SCALING_BUSY, "w") as f:
                f.write(str(os.getpid()))
            try:
                for cpus in order:  # alternate order pair-to-pair
                    r = run_level(cpus, n_bases[mode], mode, pin=pin,
                                  protocol_pair=(levels[0], levels[1]),
                                  steal_threshold=args.steal_threshold,
                                  bench_conf=args.bench_conf)
                    if r is None:  # crashed run: forfeit the pair only
                        failed = True
                        break
                    r["pair"] = pair
                    runs[mode][cpus].append(r)
                    pair_rec[f"thr_{cpus}"] = r["images_per_sec"]
                    pair_rec[f"steal_{cpus}"] = r["steal_pct"]
                    clean = r["steal_pct"] <= args.steal_threshold
                    print(f"[{mode}] pair{pair} local[{cpus}]: "
                          f"{r['images_per_sec']} images/s "
                          f"({r['queries'][key]} s, {r['n_images']} images, "
                          f"steal {r['steal_pct']}%"
                          f"{'' if clean else ' CONTAMINATED'})",
                          flush=True)
            finally:
                try:
                    os.remove(SCALING_BUSY)
                except OSError:
                    pass
            if failed:
                print(f"[{mode}] pair{pair} forfeited (run failure)",
                      flush=True)
                pair += 1
                continue
            sp = pair_rec[f"thr_{levels[1]}"] / pair_rec[f"thr_{levels[0]}"]
            pair_rec["speedup"] = sp
            pair_rec["eff_raw"] = sp / 4.0
            pair_rec["eff_vs_pair_ceiling"] = sp / hw_pair["ratio"]
            pair_rec["clean"] = all(
                pair_rec[f"steal_{c}"] <= args.steal_threshold
                for c in levels)
            pairs_log[mode].append(pair_rec)
            print(f"[{mode}] pair{pair}: speedup {sp:.2f}x, raw eff "
                  f"{pair_rec['eff_raw']:.3f}, vs same-window ceiling "
                  f"{pair_rec['eff_vs_pair_ceiling']:.3f}"
                  f" {'CLEAN' if pair_rec['clean'] else 'contaminated'}",
                  flush=True)
            pair += 1
            n_clean_pairs = sum(1 for p in pairs_log[mode] if p["clean"])
            if (args.clean_pairs_target is not None
                    and n_clean_pairs >= args.clean_pairs_target):
                break
            n_clean = min(
                sum(1 for x in runs[mode][c]
                    if x["steal_pct"] <= args.steal_threshold)
                for c in levels)
            if args.clean_pairs_target is None and n_clean >= args.repeats:
                break

    def med(vals: list[float]) -> float:
        return statistics.median(vals) if vals else float("nan")

    summary: dict[str, dict] = {}
    for mode in modes:
        clean = {c: [x for x in runs[mode][c]
                     if x["steal_pct"] <= args.steal_threshold]
                 for c in levels}
        use = {c: (clean[c] if clean[c] else runs[mode][c])
               for c in levels}
        # a "clean" ratio built on a level with ZERO clean runs is not
        # clean — a contaminated (slow) small-level denominator inflates
        # the speedup; flag it so nobody ships that number as a headline
        degraded = [c for c in levels if not clean[c]]
        if degraded:
            print(f"[{mode}] WARNING: no clean runs at levels {degraded};"
                  " the 'clean' speedup below mixes contaminated runs and"
                  " must not be quoted as a clean measurement", flush=True)
        med_clean = {c: med([x["images_per_sec"] for x in use[c]])
                     for c in levels}
        med_all = {c: med([x["images_per_sec"] for x in runs[mode][c]])
                   for c in levels}
        spread = {c: (min(x["images_per_sec"] for x in runs[mode][c]),
                      max(x["images_per_sec"] for x in runs[mode][c]))
                  for c in levels}
        speedup = med_clean[levels[1]] / med_clean[levels[0]]
        speedup_all = med_all[levels[1]] / med_all[levels[0]]
        clean_pairs = [p for p in pairs_log[mode] if p["clean"]]
        pairwise = {
            # matched-window numbers: each pair's two runs + its ceiling
            # probe come from the SAME quiet window, so the ratio is
            # internally consistent even when absolute throughput drifts
            "n_clean_pairs": len(clean_pairs),
            "n_pairs": len(pairs_log[mode]),
            "median_eff_raw_clean_pairs": med(
                [p["eff_raw"] for p in clean_pairs]),
            "median_eff_vs_ceiling_clean_pairs": med(
                [p["eff_vs_pair_ceiling"] for p in clean_pairs]),
            "best_clean_pair": (max(clean_pairs,
                                    key=lambda p: p["eff_raw"])
                                if clean_pairs else None),
            "median_eff_raw_all_pairs": med(
                [p["eff_raw"] for p in pairs_log[mode]]),
        }
        summary[mode] = {
            "median_clean": med_clean, "median_all_runs": med_all,
            "spread": spread,
            "n_clean": {c: len(clean[c]) for c in levels},
            "n_runs": {c: len(runs[mode][c]) for c in levels},
            "speedup_clean": speedup, "speedup_all_runs": speedup_all,
            "efficiency_raw": speedup / 4.0,
            "efficiency_vs_hw_ceiling": speedup / hw["ratio"],
            "efficiency_raw_all_runs": speedup_all / 4.0,
            "pairwise": pairwise,
            "n_images": runs[mode][levels[0]][0]["n_images"]}
        print(f"[{mode}] clean-median speedup {speedup:.2f}x "
              f"(raw eff {speedup / 4.0:.3f}, vs-ceiling "
              f"{speedup / hw['ratio']:.3f}); all-runs speedup "
              f"{speedup_all:.2f}x (raw {speedup_all / 4.0:.3f}); "
              f"{len(clean_pairs)}/{len(pairs_log[mode])} clean pairs, "
              f"clean-pair median raw eff "
              f"{pairwise['median_eff_raw_clean_pairs']:.3f}",
              flush=True)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    rows = []
    for mode in modes:
        s = summary[mode]
        for c in levels:
            lo, hi = s["spread"][c]
            steals = ", ".join(
                f"{x['steal_pct']}%" for x in runs[mode][c])
            rows.append(
                f"| {mode} | local[{c}] | {s['n_images']} | "
                f"{s['median_clean'][c]:.1f} | {lo:.1f}-{hi:.1f} | "
                f"{s['n_clean'][c]}/{s['n_runs'][c]} | {steals} |")
    def _pair_lines(m: str) -> str:
        pw = summary[m]["pairwise"]
        best = pw["best_clean_pair"]
        out = (f"- **{m} (matched-window pairs)**: {pw['n_clean_pairs']}/"
               f"{pw['n_pairs']} clean pairs; clean-pair median raw"
               f" efficiency **{pw['median_eff_raw_clean_pairs']:.3f}**"
               f" (vs same-window ceiling"
               f" {pw['median_eff_vs_ceiling_clean_pairs']:.3f});"
               f" all-pairs median raw"
               f" {pw['median_eff_raw_all_pairs']:.3f}.")
        if best:
            out += (f" Best clean pair: raw {best['eff_raw']:.3f}"
                    f" (vs its own-window ceiling"
                    f" {best['eff_vs_pair_ceiling']:.3f}, ceiling"
                    f" {best['hw_ratio']:.2f}x, steal"
                    f" {best['steal_' + str(levels[0])]}%/"
                    f"{best['steal_' + str(levels[1])]}%).")
        return out

    eff_lines = "\n".join(
        f"- **{m}**: clean-median speedup {summary[m]['speedup_clean']:.2f}x"
        f" -> raw efficiency {summary[m]['efficiency_raw']:.3f}; normalized"
        f" to the VM's measured ceiling ({hw['ratio']:.2f}x):"
        f" **{summary[m]['efficiency_vs_hw_ceiling']:.3f}**. All-runs"
        f" (contaminated included) median speedup"
        f" {summary[m]['speedup_all_runs']:.2f}x (raw"
        f" {summary[m]['efficiency_raw_all_runs']:.3f}).\n"
        + _pair_lines(m)
        + f"\n- **{m} (all recorded pairs, this protocol)**: "
        + _clean_eff_phrase(m, levels[0], levels[1],
                            args.steal_threshold) + "."
        for m in modes)
    eff_lines += "".join(
        f"\n- **{m} (all recorded pairs, {lo} -> {hi} cores)**: "
        + _clean_eff_phrase(m, lo, hi, args.steal_threshold) + "."
        for m in _modes_in_log(modes) if m not in modes
        for lo, hi in _level_pairs_in_log(m))

    def _gc_frac_pct(m: str, c: int) -> float | None:
        """GC share of core-seconds for the run BEHIND the quoted clean
        median (ADVICE r3: xs[0] could disclose a different run's GC
        than the efficiency it explains); None when no runs exist."""
        xs = ([x for x in runs[m][c]
               if x["steal_pct"] <= args.steal_threshold] or runs[m][c])
        if not xs:
            return None
        target = summary[m]["median_clean"][c]
        x = min(xs, key=lambda r: abs(r["images_per_sec"] - target))
        return (100.0 * x.get("pipeline_gc_ms", 0) / 1000.0
                / (x["value"] * c))

    sl_notes = []
    for m in modes:
        if summary[m]["efficiency_raw"] <= 1.0:
            continue
        lo_c, hi_c = levels
        if _gc_frac_pct(m, lo_c) is None or _gc_frac_pct(m, hi_c) is None:
            continue  # nothing recorded to disclose from
        sl_notes.append(
            f"\n**Superlinearity disclosure ({m}).** A raw efficiency "
            f"above 1.0 is NOT extra scaling headroom — it means the "
            f"local[{lo_c}] denominator is intrinsically handicapped, "
            f"not that the local[{hi_c}] numerator is fast. With the "
            f"whole JVM pinned to {lo_c} core(s), the GC threads, "
            f"Spark's scheduler/heartbeat daemons, netty IO and the "
            f"Python workers all time-share the worker's own core(s): "
            f"measured GC alone consumed "
            f"{_gc_frac_pct(m, lo_c):.2f}% of core-seconds at "
            f"local[{lo_c}] vs {_gc_frac_pct(m, hi_c):.2f}% at "
            f"local[{hi_c}]. The honest reading is efficiency ~1.0 "
            f"(no scaling loss detectable at this pair), and the "
            f"number above must not be quoted as >1.\n")
    superlinear_note = "".join(sl_notes)
    with open(md, "w") as f:
        f.write(f"""# BENCH/BASELINE — measured throughput + scaling evidence

Generated by `python tools/scaling_run.py --n {args.n} --repeats
{args.repeats} --n-base-store {n_bases['store']} --n-base-full
{n_bases['full']} --steal-threshold {args.steal_threshold}` on
{datetime.date.today().isoformat()} (single host, {os.cpu_count()}
vCPUs, fresh JVM per run, levels alternated within each repeat pair,
identical cached multi-file input corpus per mode, BLAS pinned to
1 thread/worker{", each run taskset-pinned to exactly its N CPUs"
                if pin else ", UNPINNED"}).

## CPU pinning (what makes local[N] a faithful N-core executor)

An unpinned `local[N]` JVM on a 32-vCPU host offloads GC threads, netty
shuffle IO, parquet compression and the Python/Arrow workers onto idle
cores: a 1 Hz /proc/stat sampler measured **~5 cores busy (p90 10.5)
during an "unpinned local[2]" full-pipeline run**. Those free extra
cores inflate the small level's throughput, so the measured N->4N ratio
structurally under-reads the engine's true scaling — round 2's 0.589
"raw efficiency" was in large part this artifact. A real N-core
executor has no spare host cores, so each run here is pinned with
`taskset -c 0-{{N-1}}` to exactly N CPUs (host has 32 physical cores,
SMT off, so CPU ids are topology-fair). Pinning makes total CPU scale
exactly 4x between the two levels — the quantity the north rule's
N->4N criterion actually varies. The hardware-ceiling probe is pinned
to the same CPU sets, so the ceiling is the ceiling of this protocol.

Two protocols, mirroring the reference's own benchmark split
(store-rate vs query-rate, resources/scripts/benchmark/benchmark.rb):

- **store** — one decode pass -> prints + signatures checkpoints (the
  ingest path; the reference's store benchmark). Embarrassingly
  parallel by construction.
- **full** — the whole dedup pipeline: extract -> landmark probe join +
  alignment verify (run CONCURRENTLY with the fused signature candidate
  channels) -> connected components, checkpointed, end to end.

## Hypervisor-steal gating

This VM shares CPUs with other tenants: /proc/stat steal is <1% at
baseline but bursts to 20-40% for minutes at a time. A burst slows a
{4 * args.n}-core run ~proportionally while barely touching a
{args.n}-core run, so an unlucky run pair understates scaling by up to
1.5x while the same binary measures 1.5x better an hour later. Every
run below therefore carries its measured steal fraction — relative to
BUSY (non-idle) ticks, because a {args.n}-core run leaves most vCPUs
idle and an aggregate reading dilutes the contention on the busy cores
~{32 // args.n}x — and, for pinned runs, summed over the run's PINNED
CPU SET only (per-cpu /proc/stat lines): steal accrues per vCPU, so
contention on cores the run cannot touch says nothing about it; runs
above
{args.steal_threshold}% steal are marked contaminated and extra repeat
pairs are launched until {args.repeats} clean runs per level exist
(capped at {args.repeats * 3} pairs). Headline medians are over clean
runs; the all-runs medians are published alongside and nothing is
dropped from the table. On real dedicated executors this confounder
does not exist.

## Hardware ceiling of this sandbox

A pure-CPU multiprocess benchmark (no Spark, no I/O) delivers
**{hw['ratio']:.2f}x** more throughput at {4 * args.n} processes than
at {args.n} (startup probe) — SMT/memory-bandwidth sharing plus
residual steal bound ANY job's achievable N->4N efficiency here; the
aggregate "vs-ceiling" numbers below divide by this measured ratio (on
a real cluster the ceiling is ~1.0x per the north rule's assumption).
Because a ceiling measured in a different steal window than the runs it
normalizes is internally inconsistent, the ceiling is ALSO re-measured
immediately before every run pair, and the matched-window pair
efficiencies (pair's own speedup / pair's own ceiling) are the
preferred numbers — see the `pairs` array in the raw JSON.

## Results (medians over clean runs; every run shown)

| mode | parallelism | images | throughput (img/s, clean median) | spread (all runs) | clean/total | per-run steal |
|---|---|---|---|---|---|---|
{chr(10).join(rows)}

{eff_lines}

(efficiency = thr(4N) / (4 x thr(N)), strong scaling on fixed input;
target >= 0.8 per BASELINE.json.)
{superlinear_note}{chr(10).join(
    _history_section(m, lo, hi)
    for m in _modes_in_log(modes)
    for lo, hi in (_level_pairs_in_log(m)
                   or [(args.n, 4 * args.n)]))}
## Reading the level-pairs together

Every recorded protocol, recomputed from BENCH/scaling_runs.jsonl at
generation time (rows pair by their write-time protocol tag and gate
on their write-time steal threshold, so a rerun with different
arguments cannot silently reclassify history):

{chr(10).join(
    f"- **{m} {lo} -> {hi} cores**: "
    + _clean_eff_phrase(m, lo, hi, args.steal_threshold) + "."
    for m in _modes_in_log(modes)
    for lo, hi in _level_pairs_in_log(m))}

Raw readings above 1.0 are a small-level handicap (superlinearity
disclosure above), and clean-pair swings below target track same-host
co-tenant DRAM traffic the steal gate cannot see. The window-by-window
interpretation of each recorded pair — which stages swung, which legs
moved, and the measured CPU/DRAM ceilings that bound them — is
hand-maintained NEXT TO those measurements in BENCH/ATTRIBUTION.md
("The 1 -> 4 protocol, stage-attributed", "Reading the level-pairs
together", "Why this term vanishes on a real cluster"), so this
generated file never restates one-time numbers that go stale as pairs
accumulate.

The acceptance rule for optimizations is throughput-first: no change
ships that improves the N -> 4N ratio by hurting absolute throughput
at either level. One change was rejected by exactly this rule — see
"Fix 4 (REJECTED)" in BENCH/ATTRIBUTION.md.

No real cluster exists in this sandbox; per the north rule's sanctioned
substitute this evidences the two-cluster-size criterion by running the
same job at two local parallelism levels on the same input.

## Reference comparison (BASELINE.md)

The reference (Panako, single node, 8 cores) stores 334-388 seconds of
audio per wall-clock second at ~45.6 landmark hashes per second of
audio = ~15-18k hashes/s ingested. This engine extracts ~580 landmark
hashes per image; at {summary[modes[0]]['median_clean'][levels[1]]:.0f}
images/s ({modes[0]}, 4N clean median) that is
~{int(summary[modes[0]]['median_clean'][levels[1]] * 580):,} hashes/s
ingested — plus MinHash-128, SimHash, phash bands and substring
fingerprints in the same single decode pass, which the reference does
not compute.

## Raw JSON

```json
{json.dumps({"hardware_ceiling_startup": hw,
             "summary": summary,
             "pairs": pairs_log,
             "runs": {m: {f'local[{c}]': v for c, v in runs[m].items()}
                      for m in modes}}, indent=2)}
```
""")
    print(f"wrote {md}")


if __name__ == "__main__":
    main()
