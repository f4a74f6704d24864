"""Store-maintenance operators: the reference's KV-store surface mapped
to checkpoint tables.

  S7 delete  — exact-row delete via cursor (PanakoStorageKV.java:231-277;
               note the reference reads storeQueue there, a known bug we
               do NOT reproduce) -> anti-join rewrite, the parquet
               fallback's analog of Iceberg DELETE WHERE
  S8 clear   — drop whole DB dir (PanakoStorageKV.java:490-506)
  Q19        — hasResource skip: don't re-extract already-stored ids
               (Store.java:119-127) -> left-anti join + append, the
               idempotent incremental-store path
  Q16        — top-k results per query (PanakoStrategy.java:481-495)
  S9         — store statistics (PanakoStorageKV.java:382-467) over OUR
               prints/signatures tables
"""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from panako_spark.config import PanakoConfig
from panako_spark.io.checkpoint import CheckpointStore
from panako_spark.stages.extract import run_extract, split_prints, \
    split_signatures


def delete_resources(spark: SparkSession, store: CheckpointStore,
                     image_ids: list[str]) -> dict:
    """S7: remove all prints/signatures of the given ids (anti-join
    rewrite of both tables; manifests updated atomically after)."""
    ids_df = spark.createDataFrame([(i,) for i in image_ids], ["image_id"])
    out = {}
    for table in ("prints", "signatures"):
        if not store.is_complete(table):
            continue
        if store._iceberg(spark):
            # real row-level delete: one Iceberg DELETE commit per table
            ids_df.createOrReplaceTempView("_panako_delete_ids")
            store.iceberg.delete_ids(spark, store.qualified_name(table),
                                     "_panako_delete_ids")
            out[table] = -1
            continue
        df = store.read(spark, table)
        kept = df.join(F.broadcast(ids_df), "image_id", "left_anti")
        # write to a sibling then swap: never destroy the only copy mid-job
        tmp = f"{table}__rewrite"
        rows = store.write(kept, tmp)
        shutil.rmtree(store.path(table))
        shutil.move(store.path(tmp), store.path(table))
        store.invalidate(tmp)
        store._mark_complete(table, rows,
                             config_fp=store.manifest(table).get("config_fp"))
        out[table] = rows
    return out


def clear(store: CheckpointStore, tables: list[str] | None = None,
          spark: SparkSession | None = None) -> None:
    """S8: drop checkpoint tables (whole-store clear when tables=None).
    Pass `spark` when the store may be Iceberg-backed (DROP TABLE needs a
    session); the parquet fallback is pure filesystem."""
    names = tables or ["extracted", "prints", "signatures", "verified",
                       "fused_pairs", "tile_pairs", "dup_pairs", "clusters"]
    for t in names:
        if spark is not None and store._iceberg(spark):
            store.iceberg.drop_table(spark, store.qualified_name(t))
        else:
            shutil.rmtree(store.path(t), ignore_errors=True)
        store.invalidate(t)


def store_incremental(spark: SparkSession, images: DataFrame,
                      store: CheckpointStore, cfg: PanakoConfig) -> dict:
    """Q19: extract and append ONLY images not already stored.

    The left-anti join touches just the id column of the existing
    signatures table (column pruning keeps the scan narrow); re-running
    with the same input is a no-op — the idempotent-resume property the
    reference gets from hasResource."""
    fp = cfg.extraction_fingerprint()
    have_sig = store.is_complete("signatures")
    iid_offset = 0
    if have_sig:
        # refuse to append prints extracted under a different config —
        # a mixed-format store's cross-boundary pairs silently never match
        store.check_config_fp("signatures", fp)
        store.check_config_fp("prints", fp)
        existing_sig = store.read(spark, "signatures")
        existing = existing_sig.select("image_id")
        new_images = images.join(existing, "image_id", "left_anti")
        # shift the new batch's minted ids above the store's max so
        # appends stay collision-free by construction (one narrow max()
        # over parquet column stats — cheap)
        row = existing_sig.agg(F.max("iid").alias("m")).first()
        iid_offset = int(row["m"]) + 1 if row["m"] is not None else 0
    else:
        new_images = images
    # one decode pass feeds the count and both writes (same pattern as
    # pipeline.materialize_extract: never write the nested intermediate)
    extracted = run_extract(new_images, cfg, iid_offset=iid_offset).persist()
    try:
        new_prints = split_prints(extracted)
        new_sigs = split_signatures(extracted)
        # count + print volume in ONE action on the cached extract — no
        # read-back re-scan of the stored tables (that extra job per call
        # was pure driver-serial cost)
        m = extracted.agg(F.count("*").alias("n"),
                          F.coalesce(F.sum(F.when(F.col("err").isNull(),
                                                  F.col("n_prints"))),
                                     F.lit(0)).alias("np")).first()
        n_new, n_new_prints = int(m["n"]), int(m["np"])
        if n_new == 0:
            return {"new_images": 0}
        pairs = ((new_prints, "prints"), (new_sigs, "signatures"))
        if store._iceberg(spark):
            for df_, t in pairs:
                name = store.qualified_name(t)
                if have_sig:
                    store.iceberg.append(df_, name)  # atomic Iceberg commit
                else:
                    store.iceberg.create_or_replace(df_, name)
        else:
            mode = "append" if have_sig else "overwrite"
            for df_, t in pairs:
                df_.write.mode(mode).parquet(store.path(t))
        # manifest rows accumulate from the job's own metrics
        prev_sig = store.manifest("signatures").get("rows", -1) or -1
        prev_pr = store.manifest("prints").get("rows", -1) or -1
        def _acc(prev: int, add: int) -> int:
            if not have_sig:
                return add
            return prev + add if prev >= 0 else -1  # unknown stays unknown
        sig_rows = _acc(prev_sig, n_new)
        pr_rows = _acc(prev_pr, n_new_prints)
        store._mark_complete("signatures", sig_rows, config_fp=fp)
        store._mark_complete("prints", pr_rows, config_fp=fp)
    finally:
        extracted.unpersist()
    return {"new_images": n_new}


def topk_matches(verified: DataFrame, k: int) -> DataFrame:
    """Q16: best-k refs per query by (score desc, id) — deterministic."""
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(),
                                           F.col("id_b").asc())
    return (verified.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def store_statistics(spark: SparkSession, store: CheckpointStore) -> DataFrame:
    """S9: totals + min/max/avg prints-per-image over the stored tables."""
    prints = store.read(spark, "prints")
    sigs = store.read(spark, "signatures")
    per_img = prints.groupBy("image_id").agg(F.count("*").alias("n"))
    return (per_img.agg(
        F.count("*").alias("n_images"),
        F.sum("n").alias("n_prints"),
        F.min("n").alias("min_prints"),
        F.max("n").alias("max_prints"),
        F.avg("n").alias("avg_prints"))
        .crossJoin(sigs.agg(
            F.count(F.when(F.col("err").isNotNull(), 1)).alias("n_errors"))))


def same_images(bytes_a: bytes, meta_a: tuple, bytes_b: bytes, meta_b: tuple,
                cfg: PanakoConfig):
    """Q17 `same` (Same.java:65-85): pairwise in-memory compare of two
    images — extract both, probe A against B's prints, verify. Returns a
    MatchResult or None. Pure-kernel path, no Spark session needed."""
    from panako_spark.kernels import codec
    from panako_spark.kernels.matcher import GoldenMatcher

    (w_a, h_a, fmt_a), (w_b, h_b, fmt_b) = meta_a, meta_b
    gm = GoldenMatcher(cfg)
    gm.store_image("b", codec.to_gray(codec.decode(bytes_b, w_b, h_b, fmt_b)))
    from panako_spark.kernels.landmarks import extract_prints
    h, t1, f1 = extract_prints(
        codec.to_gray(codec.decode(bytes_a, w_a, h_a, fmt_a)), cfg)
    return gm.query_prints(h, t1, f1, avoid=set()).get("b")
