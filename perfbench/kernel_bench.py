"""Spark-free microbench of the NumPy kernels on a fixed seeded fixture.

Covers decode, print extraction, landmark verify (``verify_pair`` and
``verify_pair_columns``), MinHash signatures and substring fingerprints.
Every result carries a checksum of the kernel's outputs, and ``check``
compares it with the one stored for the fixture in
``kernel_checksums.json``: a faster kernel that computes something
different fails there. A change that is meant to alter a kernel's output
updates that file with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

FIXTURE_SEED = 20240611
N_BASE = 12          # bases of the fixture; dups follow the bench mix
MIN_SECONDS = 0.25   # each kernel repeats until this much time is spent
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "kernel_checksums.json")


def _digest(parts) -> str:
    h = hashlib.blake2b(digest_size=8)
    for p in parts:
        h.update(np.ascontiguousarray(p).tobytes() if isinstance(
            p, np.ndarray) else repr(p).encode())
    return h.hexdigest()


def _timed(fn, n_items: int) -> tuple[float, object]:
    """Median seconds per item over repeats of fn(); fn's last output."""
    per, out, spent = [], None, 0.0
    while spent < MIN_SECONDS or len(per) < 3:
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        spent += dt
        per.append(dt / n_items)
    return statistics.median(per), out


def _hit_lists(prints: dict, pairs: list, query_range: int) -> list:
    """±range hash join per (query, ref) pair -> (n, 4) hit arrays."""
    out = []
    for q, r in pairs:
        index = defaultdict(list)
        rh, rt, rf = prints[r]
        for hh, tt, ff in zip(rh.tolist(), rt.tolist(), rf.tolist()):
            index[hh].append((tt, ff))
        qh, qt, qf = prints[q]
        rows = [(tt, ff, rt_, rf_)
                for hh, tt, ff in zip(qh.tolist(), qt.tolist(), qf.tolist())
                for p in range(hh - query_range, hh + query_range + 1)
                for rt_, rf_ in index.get(p, ())]
        out.append(np.array(rows, dtype=np.int64).reshape(-1, 4))
    return out


def run() -> dict:
    from panako_spark.config import PanakoConfig
    from panako_spark.data.synth import rows_for_base_index
    from panako_spark.kernels import codec
    from panako_spark.kernels.landmarks import extract_prints
    from panako_spark.kernels.minhash import (
        hash_shingles, minhash_signature_batch, token_shingles,
    )
    from panako_spark.kernels.suffix import fingerprints_batch
    from panako_spark.kernels.verify import verify_pair, verify_pair_columns

    cfg = PanakoConfig()
    rows = [r for i in range(N_BASE)
            for r in rows_for_base_index(i, N_BASE // 2, FIXTURE_SEED)]
    res: dict = {"fixture": {"seed": FIXTURE_SEED, "images": len(rows)}}

    def decode_all():
        return [codec.decode(r.bytes, r.w, r.h, r.fmt) for r in rows]

    t, imgs = _timed(decode_all, len(rows))
    res["decode"] = {"ms_per_img": 1e3 * t, "checksum": _digest(imgs)}

    grays = [codec.to_gray(im) for im in imgs]

    def extract_all():
        return [extract_prints(g, cfg) for g in grays]

    t, prints = _timed(extract_all, len(rows))
    res["extract"] = {"ms_per_img": 1e3 * t,
                      "checksum": _digest(a for p in prints for a in p)}

    by_id = {r.image_id: p for r, p in zip(rows, prints)}
    ids = [r.image_id for r in rows]
    # every dup against its base (matches) and each base against the
    # next base (non-matches)
    pairs = [(i, i.split("_dup")[0]) for i in ids if "_dup" in i]
    bases = [i for i in ids if "_dup" not in i]
    pairs += list(zip(bases, bases[1:]))
    hits = [h for h in _hit_lists(by_id, pairs, cfg.query_range)
            if h.shape[0] >= cfg.min_unfiltered_hits]

    def verify_all():
        return [verify_pair(h[:, 0], h[:, 1], h[:, 2], h[:, 3], cfg)
                for h in hits]

    t, out = _timed(verify_all, max(1, len(hits)))
    res["verify_pair"] = {"us_per_pair": 1e6 * t, "pairs": len(hits),
                          "checksum": _digest(out)}
    t, out = _timed(lambda: [verify_pair_columns(h, cfg) for h in hits],
                    max(1, len(hits)))
    res["verify_pair_columns"] = {"us_per_pair": 1e6 * t,
                                  "checksum": _digest(out)}

    caps = [r.caption for r in rows]

    def minhash_all():
        return minhash_signature_batch(
            [hash_shingles(token_shingles(c, cfg.minhash_shingle))
             for c in caps], cfg)

    t, sigs = _timed(minhash_all, len(caps))
    res["minhash"] = {"us_per_caption": 1e6 * t, "checksum": _digest([sigs])}
    t, fps = _timed(lambda: fingerprints_batch(caps, cfg.substring_min_len),
                    len(caps))
    res["suffix"] = {"us_per_caption": 1e6 * t, "checksum": _digest(fps)}
    return res


def metrics(res: dict) -> dict:
    """The per-layer ``kernels.*`` metrics of one microbench result."""
    return {
        "kernels.decode_ms_per_img": res["decode"]["ms_per_img"],
        "kernels.extract_ms_per_img": res["extract"]["ms_per_img"],
        "kernels.verify_us_per_pair": res["verify_pair"]["us_per_pair"],
        "kernels.minhash_us_per_caption": res["minhash"]["us_per_caption"],
        "kernels.suffix_us_per_caption": res["suffix"]["us_per_caption"],
    }


def check(res: dict) -> dict[str, list[str]]:
    """Kernel -> problems: its checksum against the stored one."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    return {k: ([] if res[k]["checksum"] == want else
                [f"kernel {k} checksum {res[k]['checksum']} != {want}"])
            for k, want in expected.items()}
