"""Measurement hygiene: scratch space, Spark sessions, steal and RSS.

Everything a run writes goes under one scratch directory inside the
checkout, which the caller removes at exit; nothing in the repository's
own files is touched.
"""

from __future__ import annotations

import os

# one BLAS thread per Python worker: local[N] already runs N workers
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
DRIVER_MEMORY = "3g"   # the program's default (16g) is for bench.py scale


def pin_threads() -> None:
    for v in THREAD_VARS:
        os.environ[v] = "1"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def new_session(scratch: str, n_cpus: int, event_log: str | None = None):
    """A local[n_cpus] session through the program's own factory, with
    every Spark and JVM scratch path under ``scratch``."""
    from panako_spark.session import get_spark

    local = os.path.join(scratch, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.security.manager=allow -Djava.io.tmpdir={scratch} "
            "-XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file:" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    return get_spark("perfbench", cpus=n_cpus, extra_conf=conf)


def cpu_counters() -> tuple[int, int]:
    """(steal, busy) ticks from /proc/stat; busy excludes idle + iowait."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Busy-relative steal between two cpu_counters() readings."""
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants (the JVM, its Python
    workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the process tree: driver,
    JVM and Python workers."""
    total_kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

