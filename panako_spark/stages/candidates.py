"""Candidate generation: every channel as JVM-side DataFrame ops.

Channels (SURVEY.md §7 step 5 / north_star):
  landmark  — ±query_range near-hash self-join on the prints table
              (reference Q1, PanakoStorageKV.java:293-379, re-expressed as
              explode(sequence(h-r, h+r)) + equi-join so Catalyst runs a
              plain shuffled hash join instead of a band join)
  tile      — crop-rescue tile probes against the stored prints
  minhash / simhash / phash / caption_exact / caption_substring — band or
              fingerprint keys paired in ONE fused, channel-tagged salted
              self-join (fused_candidate_pairs)

Skew (north_rule "hot-band splitting"): `pairs_from_keys` counts members
per key; keys above `band_pair_cap` are split into ceil(n/cap) salted
sub-keys — pairing happens within sub-keys only, the dropped cross-salt
pair count is reported (never silently) via the returned stats row.
At 10^12 rows the hot keys are blank images / boilerplate captions; capping
them is the difference between a job that finishes and one that doesn't.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from panako_spark.config import PanakoConfig


def pairs_from_keys_multi(keyed: DataFrame, cap: int,
                          group_col: str = "channel",
                          key_col: str = "key", id_col: str = "image_id",
                          caches: list | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """(channel, key, id) -> distinct pairs (channel, id_a < id_b) + stats.

    The fused pairing primitive: every LSH-style channel shares ONE
    explode -> groupBy -> salted self-join dataflow (channel rides in the
    join key), so five channels cost one set of shuffle stages instead of
    five. Hot keys (> cap members) are salted into ceil(n/cap) sub-buckets
    by xxhash64(id); pairs form within sub-buckets only. Stats has one row
    per channel: (channel, n_keys, n_hot_keys,
    dropped_cross_pairs_estimate) — dropped pairs are reported, never
    silent (north_rule hot-band splitting).

    Cached intermediates are appended to `caches` (if given) so the
    caller can unpersist them once the returned frames are consumed —
    repeated invocations in one session must not leak executor memory.
    """
    # counts is tiny (one row per key) and read twice: by the salted
    # re-join AND the stats aggregate — cache it so the explode+groupBy
    # shuffle runs once
    counts = (keyed.groupBy(group_col, key_col)
              .agg(F.count("*").alias("_n")).cache())
    if caches is not None:
        caches.append(counts)
    keyed2 = keyed.join(counts, [group_col, key_col])
    n_salt = F.ceil(F.col("_n") / cap).cast("int")
    salted = keyed2.withColumn(
        "_salt",
        F.when(F.col("_n") > cap,
               F.pmod(F.xxhash64(F.col(id_col)), n_salt)).otherwise(F.lit(0)))
    a = salted.select(group_col, F.col(key_col).alias("_k"), F.col("_salt"),
                      F.col(id_col).alias("id_a"))
    b = salted.select(group_col, F.col(key_col).alias("_k"), F.col("_salt"),
                      F.col(id_col).alias("id_b"))
    pairs = (a.join(b, [group_col, "_k", "_salt"])
             .where(F.col("id_a") < F.col("id_b"))
             .select(group_col, "id_a", "id_b").distinct())
    stats = counts.groupBy(group_col).agg(
        F.count("*").alias("n_keys"),
        F.count(F.when(F.col("_n") > cap, 1)).alias("n_hot_keys"),
        F.coalesce(F.sum(F.when(
            F.col("_n") > cap,
            (F.col("_n") * (F.col("_n") - 1) / 2
             - F.ceil(F.col("_n") / cap)
             * (F.floor(F.col("_n") / F.ceil(F.col("_n") / cap))
                * (F.floor(F.col("_n") / F.ceil(F.col("_n") / cap)) - 1) / 2))
            .cast("long"))), F.lit(0)).alias("dropped_cross_pairs_estimate"))
    return pairs, stats


def pairs_from_keys(keyed: DataFrame, cap: int,
                    key_col: str = "key", id_col: str = "image_id",
                    caches: list | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """Single-channel wrapper over pairs_from_keys_multi (the document
    dedup and PCH operators); stats row drops the channel column."""
    tagged = keyed.withColumn("_ch", F.lit("only"))
    pairs, stats = pairs_from_keys_multi(tagged, cap, group_col="_ch",
                                         key_col=key_col, id_col=id_col,
                                         caches=caches)
    return (pairs.select("id_a", "id_b"),
            stats.select("n_keys", "n_hot_keys",
                         "dropped_cross_pairs_estimate"))


# --------------------------------------------------------------- landmark ---
def hot_hash_set(prints: DataFrame, cfg: PanakoConfig,
                 n_images: int | None = None,
                 cap: int | None = None) -> DataFrame | None:
    """Stop-word hashes (> cap distinct images; cap defaults to the
    corpus-aware effective_hash_max_images), or None when disabled.
    Shared by the landmark self-join and the tile-probe channel — the
    golden matcher applies the identical rule at the identical cap."""
    if cap is None:
        cap = cfg.effective_hash_max_images(n_images)
    if cap <= 0:
        return None
    return (prints.groupBy("hash")
            .agg(F.countDistinct("image_id").alias("_imgs"))
            .where(F.col("_imgs") > cap)
            .select("hash"))


def hot_hash_filter(prints: DataFrame, cfg: PanakoConfig,
                    n_images: int | None = None) -> DataFrame:
    """Drop stop-word hashes present in > effective_hash_max_images images.

    The golden matcher applies the identical rule (same config + corpus
    size) so parity is preserved; at web scale these hashes are pure
    noise amplifiers. The cap is corpus-size-aware (config.py) so large
    real-world content clusters don't silently lose the landmark channel.
    """
    hot = hot_hash_set(prints, cfg, n_images)
    if hot is None:
        return prints
    return prints.join(hot, "hash", "left_anti")


# ---- packed hit coordinates -------------------------------------------
# The hit relation is the pipeline's widest shuffle (the landmark and
# tile probe-join outputs): the four spectral coordinates of a hit ride
# ONE non-negative int64 instead of four int columns —
#     tf = (t_q * 1024 + f_q) * 2^32 + (t_r * 1024 + f_r)
# which halves the UnsafeRow bytes the pair-key exchange sorts and the
# Arrow bytes the verify kernel receives (stages/verify._unpack_tf is
# the inverse). Bounds making each half fit 31 bits: f < 1024 (freq
# bin index; freq_bins <= 1024 checked below, default 128) and
# t < 2^21 (frame index; kernels/spectral.frame_profiles raises on
# wider images — 2^21 frames is a ~4-gigapixel-wide image).
_HALF = 1 << 32


def _pack_half(t_col: str, f_col: str):
    return F.col(t_col).cast("long") * 1024 + F.col(f_col)


def _check_packable(cfg: PanakoConfig) -> None:
    if cfg.freq_bins > 1024:
        raise ValueError(
            f"freq_bins={cfg.freq_bins} exceeds the packed hit-coordinate "
            "budget (f < 1024); lower freq_samples or widen the packing "
            "in stages/candidates.py + stages/verify._unpack_tf")


def landmark_hits(prints: DataFrame, cfg: PanakoConfig,
                  numeric_ids: bool = False,
                  n_images: int | None = None) -> DataFrame:
    """prints -> raw hit list per candidate pair (canonical id_a < id_b).

    The ±range probe relation |h_a - h_b| <= query_range is symmetric, so
    probing from the smaller id only (id_a < id_b) enumerates exactly the
    union of both query directions of the reference's dedup driver
    (Deduplication.java:98-108) — verify runs both orientations downstream.

    numeric_ids=True runs the hit rows on int64 ids instead of the string
    image_id: the hit relation is by far the widest shuffle of the
    pipeline, and 8-byte sort/join keys beat variable-length strings on
    every axis (shuffle bytes, sort comparisons, Arrow transfer to the
    verify kernel). The id is the dictionary-encoded `iid` minted at
    ingest (extract.run_extract — unique by construction at any
    cardinality, id map persisted in the checkpoints).
    """
    p = hot_hash_filter(prints, cfg, n_images=n_images)
    p = p.withColumn("_iid", F.col("iid" if numeric_ids else "image_id"))
    _check_packable(cfg)
    r = cfg.query_range
    probe = (p.select(
        F.col("_iid").alias("id_a"),
        _pack_half("t1", "f1").alias("_a32"),
        F.explode(F.sequence(F.col("hash") - r, F.col("hash") + r))
        .alias("probe_hash")))
    ref = p.select(F.col("_iid").alias("id_b"),
                   F.col("hash").alias("probe_hash"),
                   _pack_half("t1", "f1").alias("_b32"))
    return (probe.join(ref, "probe_hash")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    (F.col("_a32") * F.lit(_HALF) + F.col("_b32"))
                    .alias("tf")))


def tile_hits(tile_prints: DataFrame, prints: DataFrame, cfg: PanakoConfig,
              n_images: int | None = None) -> DataFrame:
    """Crop-rescue channel: tile probe prints (query side) ±query_range
    against the stored prints — DIRECTED hits per (query image, stored
    image, tile).

    Mirrors GoldenMatcher.tile_rescue_pairs exactly: a query print whose
    RAW hash is a stop-word is skipped entirely (anti-join on the raw
    hash), hot store hashes never match (store-side anti-join), and self
    pairs drop via id inequality (Q2 with avoid={self}). Verification
    happens per (pair, tile, direction) downstream
    (verify.run_tile_verify) with the standard Q5-Q13 kernel — the
    reference analog is one monitor window's query
    (PanakoStrategy.java:498-510).

    The stop-word cap here is the FIXED floor (cfg.hash_max_images), NOT
    the corpus-scaled effective cap the landmark channel uses: the
    corpus-scaled cap exists so large real-world content clusters keep
    their landmark channel, but the tile channel's only job is rescuing
    crop pairs, whose dup groups are tiny. Scaled, the cap lets bucket
    depth grow with n and the ~|tile grid|x probe volume turns the join
    superlinear (measured: at 69.7k images the scaled cap of 69 made
    the tile join dominate the whole pipeline); fixed, tile-channel
    volume stays a bounded constant factor on the linear landmark term.
    The golden sibling applies the identical fixed cap.

    The store side is scoped to STANDARD-window prints (is_std): dense
    rescue extras double this channel's (dominant) join cost while the
    642-image split-index sweep measured them adding zero cluster-level
    recall through tiles — their recoveries are landmark-channel
    dense∩dense intersections (prints_with_rescue docstring; golden
    sibling: tile_rescue_pairs' std_index_only). The hot-hash set is
    computed on the FULL print relation first, like the golden
    matcher's _hot_hashes, so stop-word parity is unaffected.

    Scale shape: otherwise identical to landmark_hits — one explode +
    equi-join on the probe hash, int64 ids, no new shuffle kinds."""
    hot = hot_hash_set(prints, cfg, n_images=n_images,
                       cap=cfg.hash_max_images)
    std = prints.where(F.col("is_std"))
    store = std if hot is None else std.join(hot, "hash", "left_anti")
    q = (tile_prints if hot is None
         else tile_prints.join(hot, "hash", "left_anti"))
    _check_packable(cfg)
    r = cfg.tile_query_range
    if r == 0:
        # exact-hash probe (the default; config.py documents the
        # measurement): a plain equi-join, no explode fan-out
        probe = q.select(
            F.col("iid").alias("id_q"), "tile_id",
            _pack_half("t1", "f1").alias("_q32"),
            F.col("hash").alias("probe_hash"))
    else:
        probe = q.select(
            F.col("iid").alias("id_q"), "tile_id",
            _pack_half("t1", "f1").alias("_q32"),
            F.explode(F.sequence(F.col("hash") - r, F.col("hash") + r))
            .alias("probe_hash"))
    ref = store.select(F.col("iid").alias("id_r"),
                       F.col("hash").alias("probe_hash"),
                       _pack_half("t1", "f1").alias("_r32"))
    return (probe.join(ref, "probe_hash")
            .where(F.col("id_q") != F.col("id_r"))
            .select("id_q", "id_r", "tile_id",
                    (F.col("_q32") * F.lit(_HALF) + F.col("_r32"))
                    .alias("tf")))


def resolve_numeric_ids(verified: DataFrame, id_source: DataFrame) -> DataFrame:
    """Map int64 pair ids back to string image_ids (canonical order).

    `id_source` carries (image_id, iid), one row per image — the
    signatures table, whose minted `iid` column IS the id map. The id
    dimension is tiny relative to the hit relation, so Catalyst
    broadcasts it at bench scale; at cluster scale it is a shuffle join
    on the long key."""
    ids = id_source.select("image_id", F.col("iid").alias("_iid"))
    out = (verified
           .join(ids.select(F.col("_iid").alias("id_a"),
                            F.col("image_id").alias("_sa")), "id_a")
           .join(ids.select(F.col("_iid").alias("id_b"),
                            F.col("image_id").alias("_sb")), "id_b"))
    keep = [c for c in verified.columns if c not in ("id_a", "id_b")]
    return out.select(
        F.least("_sa", "_sb").alias("id_a"),
        F.greatest("_sa", "_sb").alias("id_b"), *keep)


# 1-byte channel codes for the fused flow's shuffle rows; decoded back
# to names on the verified output (fused_candidate_pairs)
_CH_MINHASH, _CH_SIMHASH, _CH_PHASH = 1, 2, 3
_CH_CAPTION_EXACT, _CH_CAPTION_SUBSTRING = 4, 5
_CH_NAMES = {_CH_MINHASH: "minhash", _CH_SIMHASH: "simhash",
             _CH_PHASH: "phash", _CH_CAPTION_EXACT: "caption_exact",
             _CH_CAPTION_SUBSTRING: "caption_substring"}


def _channel_name(code):
    expr = F.lit(None).cast("string")
    for c, name in _CH_NAMES.items():
        expr = F.when(code == c, F.lit(name)).otherwise(expr)
    return expr


def _phash_band_keys(cfg: PanakoConfig):
    bpb = cfg.phash_bits_per_band
    mask = (1 << bpb) - 1
    return F.array(*[
        (F.lit(b << (bpb + 1))
         + F.shiftrightunsigned(F.col("phash"), b * bpb)
         .bitwiseAND(F.lit(mask))).alias(f"k{b}")
        for b in range(cfg.phash_bands)])


def fused_candidate_pairs(signatures: DataFrame, images: DataFrame,
                          cfg: PanakoConfig, caches: list | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """All five signature channels in ONE pairing dataflow.

    A DAG per channel would cost five channels x ~6 shuffle stages of
    tiny data — pure scheduling overhead at bench scale and five
    synchronization barriers at cluster scale. Here the keyed rows are
    unioned with a channel tag first, pair once, then verify each
    channel's candidates with its own predicate in a single joined
    projection (whole-stage codegen; no Python).

    Returns (pairs(channel, id_a, id_b), stats(channel, n_keys,
    n_hot_keys, dropped_cross_pairs_estimate)).

    Shuffle-width discipline: the keyed relation (every band of every
    channel) and the salted self-join are the fused flow's volume, so
    rows carry the 8-byte dictionary `iid` instead of the string
    image_id and a 1-byte channel CODE instead of the channel name —
    names and string ids are resolved once, on the (tiny) verified
    output and the 5-row stats frame."""
    sid = F.col("iid").alias("image_id")

    def ch(code: int):
        return F.lit(code).cast("tinyint").alias("channel")

    keyed = (
        signatures.select(sid, F.explode("mh_bands").alias("key"),
                          ch(_CH_MINHASH))
        .unionByName(signatures.select(
            sid, F.explode("sh_bands").alias("key"), ch(_CH_SIMHASH)))
        .unionByName(signatures.select(
            sid, F.explode(_phash_band_keys(cfg)).alias("key"),
            ch(_CH_PHASH)))
        .unionByName(signatures.select(
            sid, F.col("caption_hash").alias("key"), ch(_CH_CAPTION_EXACT)))
        .unionByName(signatures.select(
            sid, F.explode("substr_fps").alias("key"),
            ch(_CH_CAPTION_SUBSTRING))))
    cand, stats = pairs_from_keys_multi(keyed, cfg.band_pair_cap,
                                        caches=caches)
    # four per-channel branches read cand below — one materialization
    # (MEMORY_AND_DISK; the 10^12-scale equivalent is a checkpoint table)
    cand = cand.cache()
    if caches is not None:
        caches.append(cand)

    # Per-channel verification, each joining ONLY the columns it needs.
    # The bit channels (simhash/phash) dominate raw candidate volume —
    # 8-bit band keys collide at rate n²/2^bits regardless of data — but
    # their verify is one xor+popcount on a long. Dragging the 128-perm
    # MinHash arrays into that join (measured: ~2 KB/row x 600k raw
    # candidates) costs more than every verification combined, so the
    # wide arrays only ever join the MinHash channel's own (tiny,
    # high-entropy-banded) candidate set.
    def _two_sided(df: DataFrame, col: str, alias_a: str, alias_b: str):
        a = df.select(F.col("image_id").alias("id_a"),
                      F.col(col).alias(alias_a))
        b = df.select(F.col("image_id").alias("id_b"),
                      F.col(col).alias(alias_b))
        return a, b

    sigs_n = signatures.select(sid, "simhash", "phash", "minhash")
    bits = (cand.where(F.col("channel").isin(_CH_SIMHASH, _CH_PHASH))
            .join(sigs_n.select("image_id", "simhash", "phash")
                  .withColumnRenamed("image_id", "id_a")
                  .withColumnRenamed("simhash", "_sa")
                  .withColumnRenamed("phash", "_pa"), "id_a")
            .join(sigs_n.select("image_id", "simhash", "phash")
                  .withColumnRenamed("image_id", "id_b")
                  .withColumnRenamed("simhash", "_sb")
                  .withColumnRenamed("phash", "_pb"), "id_b")
            .where(F.when(F.col("channel") == _CH_SIMHASH,
                          F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                          <= cfg.simhash_hamming_threshold)
                   .otherwise(
                       F.bit_count(F.col("_pa").bitwiseXOR(F.col("_pb")))
                       <= cfg.phash_hamming_threshold))
            .select("channel", "id_a", "id_b"))

    ma, mb = _two_sided(sigs_n.select("image_id", "minhash"),
                        "minhash", "_ma", "_mb")
    jacc = (F.aggregate(F.zip_with("_ma", "_mb",
                                   lambda x, y: (x == y).cast("int")),
                        F.lit(0), lambda acc, v: acc + v)
            / F.lit(cfg.minhash_perms))
    mh = (cand.where(F.col("channel") == _CH_MINHASH)
          .join(ma, "id_a").join(mb, "id_b")
          .where(jacc >= cfg.minhash_jaccard_threshold)
          .select("channel", "id_a", "id_b"))

    # captions live on the input table; route them through the persisted
    # iid map (one row per image) so only the candidate set ever joins
    # the caption strings
    caps = (images.select("image_id", "caption")
            .join(signatures.select("image_id",
                                    F.col("iid").alias("_nid")), "image_id")
            .select(F.col("_nid").alias("image_id"), "caption"))
    ca, cb = _two_sided(caps, "caption", "_ca", "_cb")
    thresh = cfg.substring_min_len + 8 - 1  # winnow window w=8 (suffix.py)
    substr_ok = (((F.length("_ca") >= thresh) & F.contains("_cb", "_ca"))
                 | ((F.length("_cb") >= thresh) & F.contains("_ca", "_cb")))
    sub = (cand.where(F.col("channel") == _CH_CAPTION_SUBSTRING)
           .join(ca, "id_a").join(cb, "id_b")
           .where(substr_ok)
           .select("channel", "id_a", "id_b"))

    exact = cand.where(F.col("channel") == _CH_CAPTION_EXACT)

    out = exact.unionByName(bits).unionByName(mh).unionByName(sub)
    # resolve the 1-byte codes + 8-byte ids back to names + image_ids on
    # the verified output only (canonical string order, like the
    # landmark channel's resolve)
    out = resolve_numeric_ids(
        out.withColumn("channel", _channel_name(F.col("channel"))),
        signatures).select("channel", "id_a", "id_b")
    stats = stats.withColumn("channel", _channel_name(F.col("channel")))
    return out, stats
