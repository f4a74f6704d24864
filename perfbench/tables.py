"""Seeded tables for the operator queries of ``__spark_entry__.queries()``.

The same star schema plus ``events``, ``documents`` and ``embeddings``
tables the queries read (one parquet file per table under one directory,
the ``sf_dir`` the queries take), at a small fixed size and drawn from a
seed: the same seed writes the same bytes. Some documents are near copies
of others, so the text dedup queries have pairs to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "cold", "dark", "hot", "large", "light", "old", "small"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "screw", "spring", "valve",
             "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
EMB_DIM = 64
EMB_LABELS = 10


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, n_days: int, n: int) -> list:
    return [start + dt.timedelta(days=int(d))
            for d in rng.integers(0, n_days, n)]


def _documents(rng, n: int) -> list[str]:
    """Random word strings; one in sixteen is a near copy of an earlier
    string of 60 words or more, with one word replaced and ``dup``
    appended (token 3-gram Jaccard about 0.9, like the near duplicates of
    the repository's own test tables)."""
    texts: list[str] = []
    long = []
    for i in range(n):
        if long and rng.random() < 1 / 16:
            src = texts[long[rng.integers(0, len(long))]].split()
            src[rng.integers(0, len(src))] = WORDS[rng.integers(0,
                                                                len(WORDS))]
            texts.append(" ".join(src + ["dup"]))
        else:
            words = rng.choice(WORDS, rng.integers(10, 100))
            if len(words) >= 60:
                long.append(i)
            texts.append(" ".join(words))
    return texts


def _embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Random unit vectors with random labels."""
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return (vecs.astype(np.float32),
            rng.integers(0, EMB_LABELS, n).astype(np.int32))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    ids = {k: np.arange(v, dtype=np.int64) for k, v in n.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": ids["customer"],
            "c_name": [f"Customer#{i:09d}" for i in ids["customer"]],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                    pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": ids["supplier"],
            "s_name": [f"Supplier#{i:09d}" for i in ids["supplier"]],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                    pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": ids["part"],
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n["part"]),
                rng.choice(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in
                        rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + ids["part"] / 10.0, 2)}),
    }
    order_dates = _days(rng, dt.datetime(1995, 1, 1), 2400, n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": ids["orders"],
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    l_order = rng.integers(0, n["orders"], n["lineitem"])
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": pa.array(
            [order_dates[o] + dt.timedelta(days=int(d)) for o, d in
             zip(l_order, rng.integers(1, 122, n["lineitem"]))],
            pa.timestamp("us"))})
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n["events"]))
    out["events"] = pa.table({
        "event_id": ids["events"],
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(s * 1e6))
                        for s in secs], pa.timestamp("us")),
        "user_id": rng.integers(0, 15, n["events"]),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": _money(rng, 0.01, 330.0, n["events"]),
        "props": [f'{{"k": {k}}}' for k in
                  rng.integers(0, 100, n["events"])]})
    texts = _documents(rng, n["documents"])
    out["documents"] = pa.table({
        "doc_id": ids["documents"], "text": texts,
        "lang": rng.choice(LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in ids["documents"]],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs, labels = _embeddings(rng, n["embeddings"])
    out["embeddings"] = pa.table({
        "vec_id": ids["embeddings"],
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return out


def write(root: str, seed: int) -> str:
    """Write every table as ``<root>/<name>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
