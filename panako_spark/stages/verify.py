"""Verify stage: the per-candidate match Q5-Q13 (PanakoStrategy.java:
349-475) over grouped hits, for the landmark and the crop-rescue tile
channels (and the monitor's probe_batch, which is landmark verify on
string ids). Both run ONE plan shape and ONE run-carry loop:

    hits.repartition(pair)                  -- single hash exchange
        .withColumn(_n, count over run key) -- Q5 gate, JVM Window
        .where(_n >= min_unfiltered_hits)
        .sortWithinPartitions(run key)      -- runs become contiguous
        .mapInPandas(_run_carry)            -- flat int columns, NumPy

The run key is (id_a, id_b) for landmark pairs and (id_q, id_r,
tile_id) for tiles; each channel passes its per-run function (landmark:
both orientations; tile: the query orientation at tile_min_coverage).

Design notes (measured on the bench corpus; the previous design used
groupBy + 4x collect_list + a Q5 HAVING join, which built per-group
object arrays in the JVM — the object hash aggregate dominated stage
time and its GC pressure slowed every later stage in the same JVM):
  * flat int columns ride Arrow's fast path; nothing is ever assembled
    into JVM list objects.
  * the Q5 gate (>= min_unfiltered_hits raw hits) is a Window count over
    the exchange's own sort: no gate aggregation, no second shuffle, no
    join. Noise pairs with < 10 hits are ~95% of the hit relation on the
    bench corpus, so gating them before the Python boundary cuts the
    Arrow transfer ~20x.
  * a run can straddle Arrow batch boundaries within a partition; the
    loop processes each batch's complete runs immediately and carries
    only the trailing run into the next batch — peak memory is one batch
    + the largest run, never the whole partition. Partition boundaries
    can't split a run (hash-partitioned on the pair), and the explicit
    sortWithinPartitions pins contiguity.
  * the exchange carries no partition count: spark.sql.shuffle.partitions
    is only its upper bound, and AQE coalesces the hash buckets to fit
    the runtime hit volume. Every mapInPandas task pays a fixed Python
    worker start (~0.3 core-s on a 4-vCPU host, whatever its input): at
    a fixed 32 partitions, a probe_batch verify stage fed 0.3 MB of hits
    cost ~20 Python core-s; as the 1 task AQE picks, ~1 core-s.
    Coalescing merges whole buckets and the sort runs after the
    coalesced read, so each run stays contiguous.
  * the landmark hit relation is symmetric (|h_a - h_b| <= range), so
    hits are stored once per canonical pair (id_a < id_b) and the kernel
    tries both query orientations — the union the reference's dedup
    command produces by querying every file (Deduplication.java:98-108).
"""

from __future__ import annotations

import dataclasses
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
import pyspark.sql.types as T

from panako_spark.config import PanakoConfig
from panako_spark.kernels.verify import verify_pair

def verified_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("score", T.IntegerType()),
        T.StructField("time_factor", T.DoubleType()),
        T.StructField("freq_factor", T.DoubleType()),
        T.StructField("coverage", T.DoubleType()),
        T.StructField("q_start", T.IntegerType()),
        T.StructField("q_stop", T.IntegerType()),
    ])


TILE_VERIFIED_SCHEMA = T.StructType([
    T.StructField("id_q", T.LongType()),
    T.StructField("id_r", T.LongType()),
    T.StructField("tile_id", T.IntegerType()),
    T.StructField("score", T.IntegerType()),
])

_PAIR = ("id_a", "id_b")
_TILE_RUN = ("id_q", "id_r", "tile_id")


def _unpack_tf(tf: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                        np.ndarray, np.ndarray]:
    """Inverse of the candidates.probe_hits tf packing: one non-negative int64
    (t_q*1024 + f_q)*2^32 + (t_r*1024 + f_r) -> (q_t, q_f, r_t, r_f)."""
    tf = tf.astype(np.int64, copy=False)
    a32 = tf >> 32
    b32 = tf & 0xFFFFFFFF
    return a32 >> 10, a32 & 1023, b32 >> 10, b32 & 1023


def _segments(*keys: np.ndarray) -> np.ndarray:
    """Start offsets of contiguous runs of equal key tuples, plus the end
    offset."""
    n = keys[0].size
    if n == 0:
        return np.zeros(1, np.int64)
    change = np.zeros(n - 1, bool)
    for k in keys:
        change |= k[1:] != k[:-1]
    return np.concatenate(([0], np.flatnonzero(change) + 1, [n]))


def _run_carry(it: Iterator[pd.DataFrame], run_key: tuple[str, ...],
               per_run: Callable, fields: list[str]
               ) -> Iterator[pd.DataFrame]:
    """Drive `per_run(q_t, q_f, r_t, r_f) -> tuple | None` over every
    contiguous run_key run of the partition; each accepted run becomes
    one output row (run key values + per_run's tuple).

    Per-batch streaming with run carry: each Arrow batch is processed as
    NumPy columns immediately, except its trailing run, which may
    continue in the next batch and is carried forward. Peak memory is ONE
    batch plus the largest single run — not the whole partition — so a
    skewed 10^7-row partition can't OOM the Python worker. The partition
    is sorted on the run key (_gated_runs), so runs are contiguous and
    never resume after being cut. A partition without accepted runs
    yields no frame."""
    names = (*run_key, "tf")
    rows: list = []

    def flush(cols: dict, bounds: np.ndarray) -> None:
        q_t, q_f, r_t, r_f = _unpack_tf(cols["tf"][:bounds[-1]])
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            out = per_run(q_t[lo:hi], q_f[lo:hi], r_t[lo:hi], r_f[lo:hi])
            if out is not None:
                rows.append(tuple(cols[k][lo] for k in run_key) + out)

    carry: dict[str, np.ndarray] | None = None
    for batch in it:
        cols = {k: batch[k].to_numpy() for k in names}
        if carry is not None:
            cols = {k: np.concatenate([carry[k], cols[k]]) for k in names}
        if cols["tf"].size == 0:
            continue
        bounds = _segments(*(cols[k] for k in run_key))
        carry = {k: v[bounds[-2]:] for k, v in cols.items()}
        flush(cols, bounds[:-1])
    if carry is not None:
        flush(carry, _segments(*(carry[k] for k in run_key)))
    if rows:
        yield pd.DataFrame(dict(zip(fields, zip(*rows))))


def make_verify_batches(cfg: PanakoConfig):
    """Q6-Q13 kernel for the landmark channel: one verify per (id_a, id_b)
    run, trying both query orientations (the hit relation is stored once
    per canonical pair) and keeping the better score."""

    def per_run(a_t, a_f, b_t, b_f):
        res = verify_pair(a_t, a_f, b_t, b_f, cfg)
        rev = verify_pair(b_t, b_f, a_t, a_f, cfg)
        best = max((r for r in (res, rev) if r is not None),
                   key=lambda r: r.score, default=None)
        if best is None:
            return None
        return (best.score, best.time_factor, best.freq_factor,
                best.coverage, best.q_start, best.q_stop)

    fields = verified_schema(T.LongType()).names
    return lambda it: _run_carry(it, _PAIR, per_run, fields)


def make_tile_verify_batches(cfg: PanakoConfig):
    """Q6-Q13 kernel for the crop-rescue channel: one verify per
    (query image, stored image, tile) run, SINGLE orientation (the tile
    prints are the query side, exactly like GoldenMatcher.query_prints)."""
    # Q13 coverage relaxed to tile_min_coverage for TILE matches only
    # (config.py carries the swept rationale); every other gate stays
    # at full strength. GoldenMatcher.tile_rescue_pairs mirrors this.
    vcfg = dataclasses.replace(cfg, min_coverage=cfg.tile_min_coverage)

    def per_run(q_t, q_f, r_t, r_f):
        res = verify_pair(q_t, q_f, r_t, r_f, vcfg)
        return None if res is None else (res.score,)

    fields = TILE_VERIFIED_SCHEMA.names
    return lambda it: _run_carry(it, _TILE_RUN, per_run, fields)


def _gated_runs(hits: DataFrame, cfg: PanakoConfig,
                run_key: tuple[str, ...]) -> DataFrame:
    """ONE hash exchange on the pair (run_key's first two columns; a
    tile id rides inside its pair's partition), sized by AQE; the Q5
    min-hits gate JVM-side as a window count per run over the exchange's
    own sort; then a sort on the run key."""
    w = Window.partitionBy(*run_key)
    return (hits.repartition(*run_key[:2])
            .withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") >= cfg.min_unfiltered_hits)  # Q5, JVM-side
            .drop("_n")
            # the kernel REQUIRES contiguous run_key runs; today the
            # WindowExec's required child ordering provides that, but the
            # contract must not depend on how the Window happens to plan.
            # This sort is elided by Catalyst when the child ordering
            # already satisfies it (asserted in test_plans).
            .sortWithinPartitions(*run_key))


def run_tile_verify(hits: DataFrame, cfg: PanakoConfig) -> DataFrame:
    """tile hits(id_q, id_r, tile_id, tf) -> directed
    (id_q, id_r, tile_id, score); tf is the packed coordinate int64
    (candidates.probe_hits). Same plan shape as run_verify, with the
    tile id in the run key. The caller gates on
    score >= cfg.tile_min_score and canonicalizes pair order."""
    return _gated_runs(hits, cfg, _TILE_RUN).mapInPandas(
        make_tile_verify_batches(cfg), TILE_VERIFIED_SCHEMA)


def run_verify(hits: DataFrame, cfg: PanakoConfig) -> DataFrame:
    """hits(id_a, id_b, tf) -> verified pairs with score; tf is the
    packed coordinate int64 (candidates.probe_hits). The output ids keep
    the hits' id type: int64 iids in the pipeline (landmark_hits),
    string image_ids in the monitor (probe_batch)."""
    schema = verified_schema(hits.schema["id_a"].dataType)
    return _gated_runs(hits, cfg, _PAIR).mapInPandas(
        make_verify_batches(cfg), schema)
