"""Stage checkpointing + per-partition lineage.

Reference analog: the fingerprint file cache — each resource's extracted
prints are written to a .tdb file and re-read instead of re-extracted
(PanakoStrategy.java:181-207), plus bulk load (OlafStrategy.java:623-664).
We generalize that to *per-stage* checkpoints so a 10^12-row run resumes
mid-pipeline (north_rule requirement).

Two selectable backends with identical resume semantics:

  * iceberg — when a Spark catalog backed by
    `org.apache.iceberg.spark.SparkCatalog` is configured on the session
    AND the Iceberg runtime class is loadable, stage outputs go through
    real Iceberg table commits: `df.writeTo(cat.ns.table)
    .using("iceberg").createOrReplace()` for stage overwrites and
    `.append()` for lineage. The atomic visibility of a completed stage
    is Iceberg's own snapshot commit; the JSON manifest is still written
    (it carries run_id/rows/config_fp and keeps `is_complete` uniform
    across backends).
  * parquet (fallback, and the only one testable in this offline
    sandbox — no Iceberg jar is resolvable): a parquet directory +
    atomic JSON manifest:

    <root>/<table>/              parquet files
    <root>/_manifests/<table>.json   {"complete": true, rows, run_id, ...}

`backend="auto"` (default) probes for the Iceberg catalog on first
Spark-facing call and falls back to parquet; `backend="iceberg"` raises
if the catalog is absent (never a silent downgrade);
`backend="parquet"` forces the fallback.

A stage is "done" iff its manifest says complete — a killed run leaves no
manifest, so the next run recomputes that stage only. Lineage rows
(stage, partition_id, input_count, signature_count, band_count,
elapsed_ms, run_id) append to <root>/lineage/ (or the lineage Iceberg
table).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

LINEAGE_COLUMNS = ["stage", "partition_id", "input_count",
                   "signature_count", "band_count", "elapsed_ms", "run_id"]

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff `catalog` is a configured Spark catalog whose
    implementation class (the public Iceberg-Spark runtime entry point)
    is loadable in this JVM."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl:
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)
        return True
    except Exception:
        return False


class IcebergWriter:
    """Every Iceberg DDL/DML call-shape behind one seam.

    No Iceberg jar resolves in the offline sandbox, so the commit path
    can't be integration-tested here; this seam makes the exact call
    SEQUENCES (createOrReplace vs append vs create-on-first-append,
    DELETE/DROP SQL text) assertable by injecting a recording fake
    (tests/test_iceberg_seam.py), and a skipif-gated integration test
    runs the real thing where the runtime jar exists. Reference analog:
    the KV storage engine is the reference's most-exercised code
    (PanakoStorageKV.java:123-228).

    `requires_catalog` tells the store whether backend resolution must
    probe for a configured JVM catalog (True for this default writer —
    its writeTo/SQL calls need one) or the writer is self-contained
    (False for io.iceberg_lite.IcebergLiteWriter, which commits table
    metadata beside the JVM)."""

    requires_catalog = True

    def create_namespace(self, spark: SparkSession, catalog: str,
                         namespace: str) -> None:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def create_or_replace(self, df: DataFrame, name: str,
                          partition_by: list[str] | None = None) -> None:
        wt = df.writeTo(name).using("iceberg")
        if partition_by:
            from pyspark.sql.functions import col
            wt = wt.partitionedBy(*[col(c) for c in partition_by])
        wt.createOrReplace()   # one atomic Iceberg snapshot commit

    def append(self, df: DataFrame, name: str) -> None:
        df.writeTo(name).append()

    def append_or_create(self, df: DataFrame, name: str) -> None:
        try:
            df.writeTo(name).append()
        except Exception:
            # first append creates the table (one extra commit, once)
            df.writeTo(name).using("iceberg").create()

    def delete_ids(self, spark: SparkSession, name: str,
                   ids_view: str) -> None:
        spark.sql(f"DELETE FROM {name} WHERE image_id IN "
                  f"(SELECT image_id FROM {ids_view})")

    def drop_table(self, spark: SparkSession, name: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.table(name)


class CheckpointStore:
    def __init__(self, root: str, run_id: str | None = None,
                 backend: str = "auto", iceberg_catalog: str = "panako",
                 iceberg_namespace: str | None = None,
                 iceberg_writer: IcebergWriter | None = None):
        if backend not in ("auto", "parquet", "iceberg"):
            raise ValueError(f"unknown backend {backend!r}")
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.backend = backend
        self.iceberg_catalog = iceberg_catalog
        # one namespace per store root so two stores never collide: a
        # hash of the FULL root path (a truncated suffix would let two
        # roots sharing a 48-char sanitized tail overwrite each other)
        if iceberg_namespace:
            self.iceberg_namespace = iceberg_namespace
        else:
            import hashlib
            tag = hashlib.blake2b(root.encode(), digest_size=6).hexdigest()
            leaf = re.sub(r"[^A-Za-z0-9_]", "_", root).strip("_")[-24:]
            self.iceberg_namespace = f"ns_{leaf}_{tag}"
        self.iceberg = iceberg_writer or IcebergWriter()
        self._use_iceberg: bool | None = (
            False if backend == "parquet" else None)
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ---- backend selection -------------------------------------------------
    def _iceberg(self, spark: SparkSession) -> bool:
        """Resolve the backend once per store (probing needs a session)."""
        if self._use_iceberg is None:
            ok = (not getattr(self.iceberg, "requires_catalog", True)
                  or iceberg_available(spark, self.iceberg_catalog))
            if self.backend == "iceberg" and not ok:
                raise RuntimeError(
                    f"backend='iceberg' requested but catalog "
                    f"'{self.iceberg_catalog}' is not configured or the "
                    f"Iceberg runtime ({ICEBERG_CATALOG_CLASS}) is not on "
                    "the classpath; add the iceberg-spark-runtime jar via "
                    "spark.jars.packages and set spark.sql.catalog."
                    f"{self.iceberg_catalog}")
            self._use_iceberg = ok
            if ok:
                self.iceberg.create_namespace(
                    spark, self.iceberg_catalog, self.iceberg_namespace)
        return self._use_iceberg

    def qualified_name(self, table: str) -> str:
        return f"{self.iceberg_catalog}.{self.iceberg_namespace}.{table}"

    # ---- manifests ---------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, "_manifests", f"{table}.json")

    def is_complete(self, table: str) -> bool:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                return bool(json.load(f).get("complete"))
        except (json.JSONDecodeError, OSError):
            return False

    def _mark_complete(self, table: str, rows: int,
                       config_fp: str | None = None) -> None:
        p = self._manifest_path(table)
        tmp = p + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"complete": True, "rows": rows, "table": table,
                       "run_id": self.run_id, "ts": time.time(),
                       "config_fp": config_fp}, f)
        os.replace(tmp, p)  # atomic on POSIX

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {}
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return {}

    def check_config_fp(self, table: str, config_fp: str) -> None:
        """Refuse to mix fingerprint formats in one store: appending
        prints extracted under a different extractor config (e.g.
        log_freq toggled — every landmark hash moves) would silently
        produce a store whose cross-boundary pairs never match, and
        resuming on them would return pairs a fresh run would not."""
        stored = self.manifest(table).get("config_fp")
        if stored is not None and stored != config_fp:
            raise ValueError(
                f"checkpoint table '{table}' was written with extractor "
                f"config {stored}, current config is {config_fp}; "
                "re-extract the store (store.invalidate + full run) or "
                "restore the original config — reusing or appending "
                "would mix incompatible fingerprint formats.")

    def invalidate(self, table: str) -> None:
        p = self._manifest_path(table)
        if os.path.exists(p):
            os.remove(p)

    # ---- tables ------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None,
              count_rows: bool = False,
              config_fp: str | None = None) -> int:
        """Overwrite-write a stage output and mark it complete.

        Row counting re-scans the output (one extra job per stage —
        driver-serial cost that caps scaling efficiency), so it is off by
        default; the manifest records -1 unless count_rows is set.
        config_fp stamps the extractor-config fingerprint for tables
        whose row format depends on it (prints/signatures).
        """
        if self._iceberg(df.sparkSession):
            self.iceberg.create_or_replace(df, self.qualified_name(table),
                                           partition_by)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(table))
        rows = -1
        if count_rows:
            rows = self.read(df.sparkSession, table).count()
        self._mark_complete(table, rows, config_fp=config_fp)
        return rows

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        if self._iceberg(spark):
            return self.iceberg.read_table(spark,
                                           self.qualified_name(table))
        return spark.read.parquet(self.path(table))

    def read_or_compute(self, spark: SparkSession, table: str,
                        compute, partition_by: list[str] | None = None
                        ) -> DataFrame:
        """The resume primitive: reuse a complete checkpoint, else compute,
        write, and re-read (so downstream stages scan parquet, not the
        whole upstream lineage)."""
        if self.is_complete(table):
            return self.read(spark, table)
        df = compute()
        self.write(df, table, partition_by)
        return self.read(spark, table)

    # ---- lineage -----------------------------------------------------------
    def append_lineage(self, df: DataFrame) -> None:
        """Append lineage rows (schema LINEAGE_COLUMNS)."""
        out = df.select(*LINEAGE_COLUMNS)
        if self._iceberg(df.sparkSession):
            self.iceberg.append_or_create(out, self.qualified_name("lineage"))
        else:
            out.write.mode("append").parquet(
                os.path.join(self.root, "lineage"))

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        if self._iceberg(spark):
            return self.iceberg.read_table(spark,
                                           self.qualified_name("lineage"))
        return spark.read.parquet(os.path.join(self.root, "lineage"))
