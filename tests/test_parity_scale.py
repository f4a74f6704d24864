"""Medium-scale parity: pipeline vs golden matcher at ~580 images.

The tracer-bullet e2e test (test_pipeline_e2e.py) checks parity at ~45
images; this module re-checks the recall >= 0.99 criterion at 13x that
size, where hash collisions across unrelated images, band-key
collisions, and the hot-hash stop-word rule all actually fire. Module
is self-contained so it can be deselected for quick iterations.
"""

import collections
import itertools

import pytest

from panako_spark.data import synth
from panako_spark.data.synth import rows_to_pandas
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.kernels.codec import to_gray
from panako_spark.kernels.matcher import (
    GoldenMatcher, caption_pairs_golden, connected_components_golden,
    phash_pairs_golden,
)
from panako_spark.pipeline import run_pipeline

N_BASE = 400


@pytest.fixture(scope="module")
def corpus_m():
    rows, _ = synth.generate_corpus(N_BASE, dup_fraction=0.4, seed=777)
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r.image_id.split("_dup")[0]].append(r.image_id)
    clique = set()
    for g in groups.values():
        for a, b in itertools.combinations(sorted(g), 2):
            clique.add((a, b))
    return rows, clique


@pytest.fixture(scope="module")
def golden_union_m(corpus_m, cfg):
    """(union incl. the crop-rescue tile channel, tile pairs alone)."""
    rows, _ = corpus_m
    gm = GoldenMatcher(cfg)
    grays = {r.image_id: to_gray(r.pixels) for r in rows}
    for r in rows:
        gm.store_image(r.image_id, grays[r.image_id], phash=r.phash)
    union = set(gm.dedup_pairs())
    caption = caption_pairs_golden({r.image_id: r.caption for r in rows},
                                   cfg)
    caption["phash"] = phash_pairs_golden(
        {r.image_id: r.phash for r in rows}, cfg)
    for p in caption.values():
        union |= p
    tiles = gm.tile_rescue_pairs(grays)
    return union | tiles, tiles


@pytest.fixture(scope="module")
def pipeline_pairs_m(corpus_m, cfg, spark, tmp_path_factory):
    rows, _ = corpus_m
    images = spark.createDataFrame(rows_to_pandas(rows))
    store = CheckpointStore(str(tmp_path_factory.mktemp("ckpt_m")))
    res = run_pipeline(spark, images, store, cfg)
    pairs = {(r["id_a"], r["id_b"])
             for r in res.dup_pairs.select("id_a", "id_b").collect()}
    labels = {r["image_id"]: r["cluster_id"]
              for r in res.clusters.collect()}
    return pairs, labels


def test_union_parity_at_scale(pipeline_pairs_m, golden_union_m):
    pairs, _ = pipeline_pairs_m
    golden, _ = golden_union_m
    assert golden, "golden matcher found no dup pairs — corpus broken"
    recall = len(pairs & golden) / len(golden)
    assert recall >= 0.99, (
        f"pipeline recovered {recall:.4f} of {len(golden)} golden pairs")


def test_truth_recall_at_scale(pipeline_pairs_m, corpus_m):
    """Ground-truth quality (not the parity criterion). The log-frequency
    axis + caption MinHash at est>=0.39 reach 0.972; the crop-rescue
    tile channel (query-side vertical tiling, landmarks.tile_row_ranges)
    lifts that to 0.9846; the round-4 print-density rescue
    (landmarks.prints_with_rescue + the composite rescue precision
    gate) recovers the two rescued-x-rescued crop edges as DIRECT
    pairs -> 0.9907; the round-5 per-tile Q13 relaxation
    (tile_min_coverage=0.10 + rescue_min_score 15->13, BENCH/
    ATTRIBUTION.md "Fix 6") recovers a coverage-blocked score-13
    phash-corroborated crop pair -> 0.9938, with out-of-clique pairs
    at the pre-rescue baseline throughout
    (test_rescue_keeps_out_of_clique_noise_at_baseline).

    The two remaining direct misses are both closure-implied (their
    endpoints co-cluster through a shared base — closure recall is
    1.0, asserted in test_truth_closure_recall_at_scale): (a) a
    191x146 crop_subst pair whose best tile alignment is 6 raw hits —
    below the Q5 floor at EVERY admissible gate and probe grid (r5
    crop_miss_diag: fully-relaxed gates + extended grid); (b) a
    crop x gamma_contain sibling edge recoverable only by adding a
    0.80-height row to the tile probe grid, which is +57% tile probe
    volume (7 -> 11 tiles/img) for one already-implied edge —
    rejected under the repo's throughput-first rule, like the earlier
    dense-tile options ("Fix 5")."""
    pairs, clique = pipeline_pairs_m[0], corpus_m[1]
    recall = len(pairs & clique) / len(clique)
    assert recall >= 0.99, (
        f"ground-truth pair recall {recall:.4f} over {len(clique)}")


def test_truth_closure_recall_at_scale(pipeline_pairs_m, corpus_m):
    """Cluster-implied pair recall >= 0.995 (VERDICT r3 #5): the dedup
    deliverable is the cluster assignment (the reference's contract is
    query-finds-original, PanakoStrategy.java's resolve-to-resource),
    so a clique edge counts as recovered when its endpoints land in
    the same cluster. Measured 1.0000 since the r5 gate relaxation
    ("Fix 6": tile_min_coverage + rescue_min_score 13) united the last
    split clique — and 0.9969 before it, identical to both costlier
    configs (dense extras in the tile index: 2x that channel's join;
    dense re-picks for starved tiles: 2.3x its probe volume). Guarded against
    cheap inflation by
    test_rescue_keeps_out_of_clique_noise_at_baseline (direct false
    pairs <= 15) and the closure_ooc bound here: wrongly merging
    cliques would blow the implied-pair count past it."""
    import collections as _c

    _, labels = pipeline_pairs_m
    _, clique = corpus_m
    bylab = _c.defaultdict(list)
    for i, lab in labels.items():
        bylab[lab].append(i)
    closure = set()
    for members in bylab.values():
        for a, b in itertools.combinations(sorted(members), 2):
            closure.add((a, b))
    recall = len(closure & clique) / len(clique)
    assert recall >= 0.995, (
        f"cluster-implied pair recall {recall:.4f} over {len(clique)}")
    assert len(closure - clique) <= 60, (
        f"{len(closure - clique)} cluster-implied out-of-clique pairs "
        "(measured baseline 38)")


def test_rescue_keeps_out_of_clique_noise_at_baseline(pipeline_pairs_m,
                                                      corpus_m):
    """The rescue's acceptance rule (VERDICT r3 #5): recall gains must
    not buy false pairs. Pre-rescue baseline measured 9 out-of-clique
    pairs on this corpus; the composite gate (strong alignment OR
    decent alignment + phash corroboration) holds the flood at that
    level — an UNgated floor-130 rescue measured 297."""
    pairs, clique = pipeline_pairs_m[0], corpus_m[1]
    assert len(pairs - clique) <= 15, (
        f"{len(pairs - clique)} out-of-clique pairs (baseline 9)")


def test_tile_channel_precision_guard(pipeline_pairs_m, golden_union_m,
                                      corpus_m):
    """The tile pass must ADD no out-of-clique pair: every golden tile
    pair outside ground truth must already be found by another channel
    (measured: zero such pairs at score>=tile_min_score), and the
    pipeline's tile channel must not exceed the golden tile set by more
    than hash-collision noise."""
    union, tiles = golden_union_m
    _, clique = corpus_m
    new_fp = (tiles - clique) - (union - tiles)
    assert not new_fp, f"tile channel added false pairs: {sorted(new_fp)}"


def test_truth_cluster_recall_at_scale(pipeline_pairs_m, corpus_m):
    """Every dup should land in its base's cluster (the reference's own
    accuracy contract is query-finds-original, which is cluster-level)."""
    _, labels = pipeline_pairs_m
    rows, _ = corpus_m
    dups = [r.image_id for r in rows if "_dup" in r.image_id]
    ok = sum(1 for d in dups
             if labels[d] == labels[d.split("_dup")[0]])
    recall = ok / len(dups)
    assert recall >= 0.95, f"cluster-level truth recall {recall:.4f}"


def test_cluster_parity_at_scale(pipeline_pairs_m, corpus_m):
    pairs, labels = pipeline_pairs_m
    rows, _ = corpus_m
    golden_labels = connected_components_golden(
        pairs, [r.image_id for r in rows])
    assert labels == golden_labels
