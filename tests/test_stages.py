"""Stage-level Spark tests: pair generation w/ hot-band splitting,
connected components vs union-find on adversarial graphs, checkpoint
resume-after-kill semantics."""

import os

import pyspark.sql.functions as F
import pytest

from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.kernels.matcher import connected_components_golden
from panako_spark.stages.candidates import pairs_from_keys
from panako_spark.stages.cluster import connected_components


# ------------------------------------------------------------ pairs/skew ----
def test_pairs_from_keys_small_band(spark):
    keyed = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "c"), ("k2", "a"), ("k2", "d")],
        ["key", "image_id"])
    pairs, stats = pairs_from_keys(keyed, cap=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")}
    s = stats.collect()[0]
    assert s["n_hot_keys"] == 0
    assert s["dropped_cross_pairs_estimate"] == 0


def test_pairs_from_keys_hot_band_split(spark):
    """A key with 100 members at cap 10 must be salted: pair count drops
    from C(100,2)=4950 to ~10 sub-buckets of ~C(10,2), and the dropped
    cross-pair estimate is reported, never silent."""
    members = [("hot", f"id{i:03d}") for i in range(100)]
    keyed = spark.createDataFrame(members, ["key", "image_id"])
    pairs, stats = pairs_from_keys(keyed, cap=10)
    n = pairs.count()
    assert 0 < n < 1000  # far below the unsalted 4950
    s = stats.collect()[0]
    assert s["n_hot_keys"] == 1
    assert s["dropped_cross_pairs_estimate"] > 3000


def test_pairs_from_keys_dedups_multi_key_pairs(spark):
    keyed = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b")],
        ["key", "image_id"])
    pairs, _ = pairs_from_keys(keyed, cap=10)
    assert pairs.count() == 1


# ------------------------------------------------------------ clustering ----
def _cc_spark(spark, pair_list, ids):
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    all_ids = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    out = connected_components(pairs, all_ids)
    return {r["image_id"]: r["cluster_id"] for r in out.collect()}


def test_cc_long_chain(spark):
    """Adversarial path graph: n000-n001-...-n059; large-star/small-star
    must converge in O(log n) rounds (within cc_max_iterations=20)."""
    ids = [f"n{i:03d}" for i in range(60)]
    chain = [(ids[i], ids[i + 1]) for i in range(59)]
    got = _cc_spark(spark, chain, ids)
    want = connected_components_golden({(a, b) for a, b in chain}, ids)
    assert got == want
    assert set(got.values()) == {"n000"}


def test_cc_multiple_components_and_singletons(spark):
    ids = [f"x{i}" for i in range(10)]
    pairs = [("x0", "x1"), ("x1", "x2"), ("x4", "x5"), ("x6", "x7"),
             ("x7", "x6")]
    got = _cc_spark(spark, pairs, ids)
    want = connected_components_golden({(min(a, b), max(a, b))
                                        for a, b in pairs}, ids)
    assert got == want
    assert got["x3"] == "x3" and got["x8"] == "x8" and got["x9"] == "x9"


def test_cc_star_and_clique(spark):
    ids = [f"s{i}" for i in range(8)]
    pairs = ([("s0", f"s{i}") for i in range(1, 5)]
             + [(f"s{i}", f"s{j}") for i in range(5, 8)
                for j in range(i + 1, 8)])
    got = _cc_spark(spark, pairs, ids)
    want = connected_components_golden({(min(a, b), max(a, b))
                                        for a, b in pairs}, ids)
    assert got == want


# ------------------------------------------------------------- checkpoint ---
def test_checkpoint_incomplete_without_manifest(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    df = spark.range(10).select(F.col("id"))
    # simulate a killed run: data written but manifest never created
    df.write.mode("overwrite").parquet(store.path("t"))
    assert not store.is_complete("t")
    # read_or_compute recomputes and completes
    out = store.read_or_compute(spark, "t", lambda: spark.range(5).select("id"))
    assert store.is_complete("t")
    assert out.count() == 5


def test_checkpoint_resume_skips_compute(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.write(spark.range(7).select("id"), "t")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3).select("id")

    out = store.read_or_compute(spark, "t", compute)
    assert not calls
    assert out.count() == 7


def test_checkpoint_invalidate(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    store.write(spark.range(7).select("id"), "t")
    store.invalidate("t")
    assert not store.is_complete("t")


def test_lineage_append_accumulates(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), run_id="r1")
    ldf = spark.createDataFrame(
        [("s", 0, 10, 10, 0, 5, "r1")],
        "stage string, partition_id int, input_count long, "
        "signature_count long, band_count long, elapsed_ms long, "
        "run_id string")
    store.append_lineage(ldf)
    store.append_lineage(ldf)
    assert store.read_lineage(spark).count() == 2


# --------------------------------------------------------- backend select ---
def test_backend_selection_auto_falls_back_to_parquet(spark, tmp_path):
    """No Iceberg catalog is configured in this sandbox: auto must
    resolve to the parquet fallback and behave identically."""
    store = CheckpointStore(str(tmp_path), backend="auto")
    df = spark.range(5).withColumnRenamed("id", "x")
    store.write(df, "t")
    assert store._use_iceberg is False
    assert store.read(spark, "t").count() == 5


def test_backend_selection_iceberg_refuses_silent_downgrade(spark, tmp_path):
    """backend='iceberg' with no catalog must raise, never silently
    write parquet."""
    store = CheckpointStore(str(tmp_path), backend="iceberg")
    df = spark.range(3).withColumnRenamed("id", "x")
    with pytest.raises(RuntimeError, match="iceberg"):
        store.write(df, "t")


def test_backend_selection_validates_name(tmp_path):
    with pytest.raises(ValueError):
        CheckpointStore(str(tmp_path), backend="deltalake")


def test_iceberg_available_probe(spark):
    from panako_spark.io.checkpoint import iceberg_available

    assert iceberg_available(spark, "panako") is False  # not configured


# ---------------------------------------------------------------- verify ----
@pytest.fixture(scope="module")
def verify_hits(spark, cfg):
    """Landmark and tile hit relations of a small synthetic corpus,
    collected once so every run below re-shuffles identical input."""
    from panako_spark.data.synth import generate_corpus, rows_to_pandas
    from panako_spark.stages.candidates import landmark_hits, tile_hits
    from panako_spark.stages.extract import (
        run_extract, split_prints, split_tile_prints)

    rows, _ = generate_corpus(12, dup_fraction=0.5, seed=42)
    ext = run_extract(spark.createDataFrame(rows_to_pandas(rows)),
                      cfg).persist()
    try:
        prints = split_prints(ext)
        lm = landmark_hits(prints, cfg, numeric_ids=True,
                           n_images=len(rows))
        tl = tile_hits(split_tile_prints(ext), prints, cfg,
                       n_images=len(rows))
        return ((lm.schema, lm.collect()), (tl.schema, tl.collect()))
    finally:
        ext.unpersist()


@pytest.mark.parametrize("stage", ["landmark", "tile"])
def test_verify_result_invariant_to_shuffle_partitions(spark, cfg,
                                                       verify_hits, stage):
    """AQE may merge any number of the pair-key hash buckets into one
    task; the kernel's contiguous-run contract must hold either way, so
    the verified row set cannot depend on the partition count."""
    from panako_spark.stages.verify import run_tile_verify, run_verify

    schema, rows = verify_hits[0 if stage == "landmark" else 1]

    def verified():
        hits = spark.createDataFrame(rows, schema)
        v = (run_verify(hits, cfg) if stage == "landmark"
             else run_tile_verify(hits, cfg))
        return sorted(tuple(r) for r in v.collect())

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        runs = []
        # 8 uncoalesced buckets, 8 buckets AQE may merge, one bucket
        for parts, coalesce in (("8", "false"), ("8", "true"),
                                ("1", "true")):
            spark.conf.set(keys[0], parts)
            spark.conf.set(keys[1], coalesce)
            runs.append(verified())
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert runs[0], "fixture produced no verified rows"
    assert runs[1] == runs[0]
    assert runs[2] == runs[0]


def test_landmark_hits_refuses_string_ids(spark, cfg):
    """The landmark channel probes on int64 iids only; the string-id arm
    is gone, so asking for it must fail loudly, not run a second plan."""
    from panako_spark.stages.candidates import landmark_hits

    prints = spark.createDataFrame(
        [("i0", 0, 5, 1, 1)],
        "image_id string, iid long, hash long, t1 int, f1 int")
    with pytest.raises(ValueError, match="iid"):
        landmark_hits(prints, cfg, numeric_ids=False)
