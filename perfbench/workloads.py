"""The benchmark's workloads. Each is closed loop from one client and
drives the program only through its public functions.

dedup_batch   run_pipeline over a seeded synthetic corpus into a fresh
              CheckpointStore, from the input table to a complete
              clusters table (archive deduplication).
ingest_query  a store of base images is built during set-up; then the
              client alternates store_incremental (append never-seen
              bases) and probe_batch (planted duplicates of stored bases
              plus never-stored negatives) against the growing store
              (monitor / query-by-fragment).

Every operation is checked outside its timed window; see ``gate_*``.
Each workload's traced run also times its share of the operator queries
(``operator_queries``, see ``operators.py``).
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.operators import RELATIONAL, TEXT_EMBEDDING

# the bench.py corpus mix: 30% of bases carry 1-2 modified duplicates
DUP_FRACTION = 0.3
# quality floors of the correctness gates, below what the program measures
# on every seed tried (see perfbench/README.md), far above broken output
DEDUP_MIN_RECALL = 0.80
DEDUP_MIN_RECALL_CLOSURE = 0.80
DEDUP_MIN_PRECISION = 0.80
QUERY_MIN_HIT_RATE = 0.50
QUERY_MIN_PRECISION = 0.75
NEGATIVE_BASE = 10 ** 6   # base indices of never-stored query images

SIZES = {
    # bases of the dedup corpus, of the initial store, per append batch;
    # planted and negative queries per probe; data set-ups per run (setup_s
    # takes their median)
    "bench": {"dedup_bases": 40, "store_bases": 24, "append": 8,
              "planted": 24, "negatives": 8, "setups": 5},
    "smoke": {"dedup_bases": 8, "store_bases": 6, "append": 2,
              "planted": 2, "negatives": 2, "setups": 1},
}


def _corpus(first: int, n: int, n_dup: int, seed: int) -> list:
    from panako_spark.data.synth import rows_for_base_index

    return [r for i in range(first, first + n)
            for r in rows_for_base_index(i, n_dup, seed)]


def _frame(spark, rows):
    from panako_spark.data.synth import rows_to_pandas

    return spark.createDataFrame(rows_to_pandas(rows))


def _base_of(image_id: str) -> str:
    return image_id.split("_dup")[0]


def _count_files(root: str) -> int:
    return sum(1 for _, _, files in os.walk(root) for f in files
               if not f.startswith((".", "_")))


class Workload:
    name = ""
    operator_queries: tuple[str, ...] = ()   # timed in the traced run

    def __init__(self, seed: int, scratch: str, size: str = "bench"):
        from panako_spark.config import PanakoConfig

        self.seed = seed
        self.scratch = scratch
        self.size = SIZES[size]
        self.cfg = PanakoConfig()
        self._n = 0

    def _dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.scratch, f"{self.name}-{tag}-{self._n}")
        os.makedirs(d)
        return d


class DedupBatch(Workload):
    name = "dedup_batch"
    operator_queries = RELATIONAL

    def setup(self, spark) -> None:
        """Generate the corpus and load it as a parquet input table."""
        from panako_spark.data.synth import rows_to_pandas

        n = self.size["dedup_bases"]
        rows = _corpus(0, n, int(n * DUP_FRACTION), self.seed)
        self.ids = [r.image_id for r in rows]
        path = self._dir("corpus")
        table = pa.Table.from_pandas(rows_to_pandas(rows),
                                     preserve_index=False)
        n_files = 8
        per = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * per, per),
                           os.path.join(path, f"part-{i:02d}.parquet"))
        self.images = spark.read.parquet(path)
        self.images.count()

    def warmup(self, spark) -> None:
        """Start the Python workers on a slice of the input, as bench.py
        does; the pipeline itself is measured as a batch job sees it."""
        import pyspark.sql.functions as F

        from panako_spark.stages.extract import run_extract

        n = spark.sparkContext.defaultParallelism
        (run_extract(self.images.limit(2 * n).repartition(n), self.cfg)
         .select(F.sum("n_prints")).collect())

    def measure(self, spark, seconds: float, tracer, counts: bool) -> dict:
        from panako_spark.io.checkpoint import CheckpointStore
        from panako_spark.pipeline import run_pipeline

        ops, quality, stores = [], [], []
        t_end, last = time.monotonic() + seconds, None
        while not ops or time.monotonic() < t_end:
            store = CheckpointStore(self._dir("store"), backend="parquet")
            stores.append(store)
            with tracer.span("pipeline") as sp:
                res = run_pipeline(spark, self.images, store, self.cfg)
                res.clusters.count()
            with tracer.span("gate"):
                q, problems = self.gate(res)
            quality.append(q)
            ops.append({"kind": "pipeline",
                        "latency_s": sp["end"] - sp["start"],
                        "ok": not problems, "problems": problems})
            last = res
        out = {"ops": ops, "quality": quality, "images": len(self.ids)}
        if counts:
            with tracer.span("gate"):
                out["counts"] = self.layer_counts(spark, last, stores[-1])
            out["counts"]["checkpoint.files_written"] = sum(
                _count_files(s.root) for s in stores) / len(stores)
        return out

    def gate(self, res) -> tuple[dict, list[str]]:
        """Recall and precision against the id-encoded truth, plus the
        shape of the clusters table."""
        pairs = {(r.id_a, r.id_b) for r in
                 res.dup_pairs.select("id_a", "id_b").distinct().collect()}
        rows = res.clusters.select("image_id", "cluster_id").collect()
        clusters = {r.image_id: r.cluster_id for r in rows}
        truth = {(min(i, _base_of(i)), max(i, _base_of(i)))
                 for i in self.ids if "_dup" in i}
        canon = {(min(a, b), max(a, b)) for a, b in pairs}
        found = len(truth & canon)
        same = sum(1 for a, b in truth
                   if a in clusters and clusters[a] == clusters.get(b))
        good = sum(1 for a, b in canon if _base_of(a) == _base_of(b))
        q = {"recall": found / len(truth),
             "recall_closure": same / len(truth),
             "precision": good / len(canon) if canon else 0.0,
             "pairs": len(canon), "truth_pairs": len(truth)}
        problems = []
        if sorted(r.image_id for r in rows) != sorted(self.ids):
            problems.append("clusters do not hold each input id once")
        if q["recall"] < DEDUP_MIN_RECALL:
            problems.append(f"recall {q['recall']:.4f}")
        if q["recall_closure"] < DEDUP_MIN_RECALL_CLOSURE:
            problems.append(f"closure recall {q['recall_closure']:.4f}")
        if q["precision"] < DEDUP_MIN_PRECISION:
            problems.append(f"precision {q['precision']:.4f}")
        return q, problems

    def layer_counts(self, spark, res, store) -> dict:
        """Work counts of the traced run's last pipeline (untimed)."""
        import pyspark.sql.functions as F

        from panako_spark.stages import candidates as C

        prints = store.read(spark, "prints")
        n_ids = res.stats["n_distinct_ids"]
        hits = C.landmark_hits(prints, self.cfg, numeric_ids=True,
                               n_images=n_ids)
        pairs_in = (hits.groupBy("id_a", "id_b").count()
                    .where(F.col("count") >= self.cfg.min_unfiltered_hits)
                    .count())
        bands = [v for k, v in res.stats.items() if k.startswith("bands_")]
        return {
            "extract.images": res.stats["n_images"],
            "extract.prints": prints.count(),
            "verify.pairs_in": pairs_in,
            "verify.pairs_accepted": res.verified.count(),
            "fused.keys": sum(b["n_keys"] for b in bands),
            "fused.hot_keys": sum(b["n_hot_keys"] for b in bands),
            "fused.pairs_out": store.read(spark, "fused_pairs").count(),
        }


class IngestQuery(Workload):
    name = "ingest_query"
    operator_queries = TEXT_EMBEDDING

    def setup(self, spark) -> None:
        """Build the initial store of base images."""
        from panako_spark.io.checkpoint import CheckpointStore
        from panako_spark.operators.store_ops import store_incremental

        n = self.size["store_bases"]
        self.store = CheckpointStore(self._dir("store"), backend="parquet")
        rows = self._bases(0, n)
        self.stored = [r.image_id for r in rows]
        store_incremental(spark, _frame(spark, rows), self.store, self.cfg)
        self.next_base = n
        self.next_query = self.next_negative = 0

    def _bases(self, first: int, n: int) -> list:
        # a base row does not depend on whether its duplicates are drawn,
        # so planted queries (_probe) are duplicates of these very rows
        return _corpus(first, n, 0, self.seed)

    def warmup(self, spark) -> None:
        from perfbench.trace import Tracer

        self._append(spark, Tracer())
        self._probe(spark, Tracer())

    def _append(self, spark, tracer) -> dict:
        from panako_spark.operators.store_ops import store_incremental

        a = self.size["append"]
        rows = self._bases(self.next_base, a)
        self.next_base += a
        frame = _frame(spark, rows)
        prev = self.store.manifest("signatures").get("rows", 0)
        with tracer.span("append") as sp:
            out = store_incremental(spark, frame, self.store, self.cfg)
        dt = sp["end"] - sp["start"]
        self.stored += [r.image_id for r in rows]
        problems = []
        if out.get("new_images") != a:
            problems.append(f"appended {out.get('new_images')} of {a}")
        if self.store.manifest("signatures").get("rows") != prev + a:
            problems.append("signatures manifest row count is off")
        return {"kind": "append", "latency_s": dt, "images": a,
                "ok": not problems, "problems": problems}

    def _probe(self, spark, tracer) -> dict:
        from panako_spark.data.synth import rows_for_base_index
        from panako_spark.streaming.monitor import probe_batch

        k = min(self.size["planted"], len(self.stored))
        n_neg = self.size["negatives"]
        planted = []
        for j in range(k):   # distinct stored bases, cycling over the store
            base = (self.next_query + j) % len(self.stored)
            planted.append(rows_for_base_index(base, NEGATIVE_BASE,
                                               self.seed)[1])
        negatives = self._bases(NEGATIVE_BASE + self.next_negative, n_neg)
        self.next_query += k
        self.next_negative += n_neg
        frame = _frame(spark, planted + negatives)
        with tracer.span("probe") as sp:
            rows = probe_batch(frame, self.store.read(spark, "prints"),
                               self.cfg).collect()
        dt = sp["end"] - sp["start"]
        return {"kind": "probe", "latency_s": dt,
                **self.gate_probe(rows, [r.image_id for r in planted],
                                  [r.image_id for r in negatives])}

    def gate_probe(self, rows, planted: list[str],
                   negatives: list[str]) -> dict:
        """Every match names a query of the batch and a stored image other
        than itself; planted hits and wrong matches are counted."""
        asked, stored = set(planted) | set(negatives), set(self.stored)
        problems = []
        matches = {(r.query_id, r.ref_id) for r in rows}
        for q, ref in matches:
            if q not in asked or ref not in stored or ref == q:
                problems.append(f"bad match {q} -> {ref}")
        hits = sum(1 for q in planted if (q, _base_of(q)) in matches)
        right = sum(1 for q, ref in matches
                    if "_dup" in q and ref == _base_of(q))
        return {"ok": not problems, "problems": problems,
                "planted": len(planted), "hits": hits,
                "matches": len(matches), "right": right}

    def measure(self, spark, seconds: float, tracer, counts: bool) -> dict:
        ops = []
        files0 = _count_files(self.store.root)
        rows0 = self.store.manifest("prints").get("rows", 0)
        t_end = time.monotonic() + seconds
        while not ops or time.monotonic() < t_end:
            ops.append(self._append(spark, tracer))
            ops.append(self._probe(spark, tracer))
        probes = [o for o in ops if o["kind"] == "probe"]
        planted = sum(o["planted"] for o in probes)
        matches = sum(o["matches"] for o in probes)
        q = {"hit_rate": sum(o["hits"] for o in probes) / planted,
             "precision": (sum(o["right"] for o in probes) / matches
                           if matches else 0.0)}
        bad = []
        if q["hit_rate"] < QUERY_MIN_HIT_RATE:
            bad.append(f"hit rate {q['hit_rate']:.4f}")
        if q["precision"] < QUERY_MIN_PRECISION:
            bad.append(f"precision {q['precision']:.4f}")
        if bad:   # run-level floors: every probe of the run fails
            for o in probes:
                o["ok"] = False
                o["problems"] = o["problems"] + bad
        out = {"ops": ops, "quality": [q]}
        if counts:
            appended = sum(o["images"] for o in ops if o["kind"] == "append")
            out["counts"] = {
                "extract.images": appended,
                "extract.prints": (self.store.manifest("prints")
                                   .get("rows", 0) - rows0),
                "checkpoint.files_written":
                    _count_files(self.store.root) - files0,
                "monitor.prints_files":
                    _count_files(self.store.path("prints")),
            }
        return out


WORKLOADS = {w.name: w for w in (DedupBatch, IngestQuery)}
