"""In-memory spans around the benchmark's calls into the program.

Each span records name, start, end and parent, and while it is open the
Spark jobs it submits carry the job group ``perfbench:<name>#<id>``, which
``eventlog.py`` maps to a layer. Spans are kept in memory and written out
once, in the report line, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Records spans; with ``spark=None`` it only times (untraced runs)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        # spans do not nest inside one another: each sets the job group of
        # the jobs it submits and hands back to perfbench:idle
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            # the group names the span; resetting the description drops a
            # stale panako:<phase> label the program left on this thread
            sc.setJobGroup(f"perfbench:{name}#{sid}", f"perfbench:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobGroup("perfbench:idle", "perfbench:idle")

    def window(self, names: set[str]) -> tuple[float, float]:
        """(first start, last end) over the spans with these names."""
        sel = [s for s in self.spans if s["name"] in names]
        return (min(s["start"] for s in sel), max(s["end"] for s in sel))
