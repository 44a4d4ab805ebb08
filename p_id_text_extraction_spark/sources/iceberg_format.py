"""Apache Iceberg table format v2, pure Python, over a Hadoop-style catalog.

The north_rule's production target stores transcripts and spans in Iceberg
tables.  This sandbox has no Iceberg runtime jar, no network, and no
pyiceberg -- so this module implements the TABLE FORMAT itself from the
public spec (https://iceberg.apache.org/spec/), to the depth the pipeline
needs:

  * table layout: ``<table>/metadata/v<N>.metadata.json`` +
    ``version-hint.text`` (Hadoop catalog commit protocol: write the new
    metadata file, then atomically swap the hint);
  * snapshots with Avro manifest lists and Avro manifest files
    (sources/avro_io.py; the binaries are cross-verified against the JVM
    org.apache.avro implementation bundled with Spark);
  * operations: create, append, overwrite-partitions (the idempotent
    bucket-retry semantics resume needs), scan planning with partition
    pruning, and snapshot time travel;
  * identity partition specs, v2 manifest-entry statuses
    (ADDED/EXISTING/DELETED), per-file record counts and sizes, sequence
    numbers, and carry-forward of untouched manifests by reference --
    an overwrite only rewrites manifests that contain replaced
    partitions, exactly like the reference implementation.

Deliberate deviations, documented:
  * data files are written with pyarrow: a DataFrame write's Spark tasks
    write and describe their own files (no staging directory, no Spark
    file commit), while small driver-side appends (``append_rows``, e.g.
    the checkpoint manifest) and delete files are written on the driver;
    all stamp top-level ``PARQUET:field_id``s, and the table metadata
    also carries ``schema.name-mapping.default`` -- the spec's sanctioned
    mechanism for mapping id-less files (and nested list elements) by
    column name;
  * identity-partition source columns live in the directory structure
    (Hive layout) rather than in the data files; reads reconstitute them
    via Spark's basePath partition discovery, value-identical to Iceberg's
    constant-column metadata projection;
  * avro manifests are single-block, null-codec (readers accept deflate).

Reference parity note: the reference pipeline's durable product is its
per-stage output contract (text_recognition.py:196-200); here the durable
product is the committed Iceberg snapshot.
"""

from __future__ import annotations

import json
import os
import time
import uuid as _uuid
from typing import Any

from p_id_text_extraction_spark.sources import avro_io

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

_SPARK_TO_ICEBERG = {
    "string": "string", "int": "int", "integer": "int", "bigint": "long",
    "long": "long", "double": "double", "float": "float", "boolean": "boolean",
    "binary": "binary", "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
    "date": "date",
}
_ICEBERG_TO_SPARK = {
    "string": "string", "int": "int", "long": "bigint", "double": "double",
    "float": "float", "boolean": "boolean", "binary": "binary",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz", "date": "date",
}


# ---------------------------------------------------------------------------
# schema conversion
# ---------------------------------------------------------------------------


def spark_schema_to_iceberg(schema) -> tuple[list[dict], int]:
    """Spark StructType -> Iceberg v2 schema fields with assigned ids.
    Supports primitives and array-of-primitive (the spans table's
    provenance column); ids are depth-first like the java assigner."""
    fields: list[dict] = []
    next_id = len(schema.fields) + 1   # element ids follow the top level
    for i, f in enumerate(schema.fields, start=1):
        t = f.dataType.simpleString()
        if t.startswith("array<"):
            elem = t[len("array<"):-1]
            if elem not in _SPARK_TO_ICEBERG:
                raise NotImplementedError(f"array element type {elem!r}")
            ftype: Any = {"type": "list", "element-id": next_id,
                          "element": _SPARK_TO_ICEBERG[elem], "element-required": False}
            next_id += 1
        elif t in _SPARK_TO_ICEBERG:
            ftype = _SPARK_TO_ICEBERG[t]
        else:
            raise NotImplementedError(f"spark type {t!r} has no iceberg mapping")
        fields.append({"id": i, "name": f.name, "required": False, "type": ftype})
    return fields, next_id - 1


def iceberg_schema_to_spark_ddl(fields: list[dict]) -> str:
    """Iceberg schema fields -> a Spark DDL string (for empty-table reads)."""
    cols = []
    for f in fields:
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "list":
            cols.append(f"{f['name']} array<{_ICEBERG_TO_SPARK[t['element']]}>")
        else:
            cols.append(f"{f['name']} {_ICEBERG_TO_SPARK[t]}")
    return ", ".join(cols)


def _name_mapping(fields: list[dict]) -> str:
    return json.dumps([{"field-id": f["id"], "names": [f["name"]]} for f in fields])


# ---------------------------------------------------------------------------
# metadata file handling (Hadoop catalog commit protocol)
# ---------------------------------------------------------------------------


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def table_exists(table_path: str) -> bool:
    return os.path.isfile(os.path.join(_meta_dir(table_path), "version-hint.text"))


def current_version(table_path: str) -> int:
    with open(os.path.join(_meta_dir(table_path), "version-hint.text")) as f:
        return int(f.read().strip())


def load_metadata(table_path: str, version: int | None = None) -> dict:
    v = current_version(table_path) if version is None else version
    with open(os.path.join(_meta_dir(table_path), f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    # remember the base version this metadata was read at: a commit claims
    # base+1, so two writers racing from the same base cannot both win
    meta["_loaded-version"] = v
    return meta


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency
    lost the race).  Retry: reload metadata, rebase the change, commit."""


def _write_version(table_path: str, meta: dict, version: int) -> None:
    """Write v<N>.metadata.json then swap version-hint.text -- the
    Hadoop-catalog commit protocol.  The version file is claimed with
    O_EXCL (link-style atomic create): two committers racing from the same
    base version cannot both win, so a lost update surfaces as
    CommitConflictError instead of silently dropping the other writer's
    snapshot.  The hint swap stays an atomic rename -- a reader either
    sees the previous committed version or the new one, never a torn
    write."""
    d = _meta_dir(table_path)
    os.makedirs(d, exist_ok=True)
    mpath = os.path.join(d, f"v{version}.metadata.json")
    tmp = f"{mpath}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({k: v for k, v in meta.items() if not k.startswith("_loaded")},
                  f, indent=1)
    try:
        os.link(tmp, mpath)   # atomic exclusive claim of a COMPLETE file
    except FileExistsError as exc:
        raise CommitConflictError(
            f"metadata version v{version} already committed at {table_path}; "
            f"reload and retry the commit") from exc
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(d, "version-hint.text.tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, os.path.join(d, "version-hint.text"))


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public reference algorithm) -- the hash the Iceberg
    spec's bucket[N] transform requires (appendix B).  Returns the
    unsigned 32-bit result."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(v, n: int, iceberg_type: str):
    """The spec's bucket[N](v) partition value: murmur3 of the
    single-value serialization (appendix B: int promotes to long,
    little-endian 8 bytes; strings hash their UTF-8 bytes), then
    ``(hash & Integer.MAX_VALUE) % N``.  None stays None (null
    partition)."""
    if v is None:
        return None
    if iceberg_type in ("int", "long"):
        data = __import__("struct").pack("<q", int(v))
    elif iceberg_type == "string":
        data = str(v).encode("utf-8")
    else:
        raise NotImplementedError(f"bucket transform on type {iceberg_type!r}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def bucket_transform_col(source_col: str, n: int, iceberg_type: str):
    """``bucket_value`` as an Arrow-batched column expression -- the write
    path derives hidden bucket partition values with it.  (A real Iceberg
    Spark runtime exposes the JVM ``system.bucket(N, col)`` function; this
    pandas UDF is the jar-less stand-in, vectorized per Arrow batch.)"""
    from pyspark.sql import functions as F

    def _bucket(s):
        return s.map(lambda v: None if v is None
                     else bucket_value(v, n, iceberg_type)).astype("Int32")

    return F.pandas_udf(_bucket, "int")(F.col(source_col))


def _parse_partition_spec_entry(c: str, by_name: dict, field_id: int) -> dict:
    """One create_table partition entry -> a spec field.  Accepts a plain
    column name (identity) or ``bucket(col, N)`` (the spec's bucket[N]
    transform; partition field named <col>_bucket per Iceberg
    convention)."""
    import re
    m = re.fullmatch(r"bucket\(\s*(\w+)\s*,\s*(\d+)\s*\)", c)
    if m:
        col, n = m.group(1), int(m.group(2))
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in schema")
        t = by_name[col]["type"]
        if not isinstance(t, str) or t not in ("int", "long", "string"):
            raise NotImplementedError(f"bucket transform on type {t!r}")
        return {"name": f"{col}_bucket", "transform": f"bucket[{n}]",
                "source-id": by_name[col]["id"], "field-id": field_id}
    if c not in by_name:
        raise ValueError(f"partition column {c!r} not in schema")
    return {"name": c, "transform": "identity",
            "source-id": by_name[c]["id"], "field-id": field_id}


def create_table(table_path: str, spark_schema, partition_cols: tuple[str, ...] = ()) -> dict:
    """Create an empty Iceberg v2 table.  ``partition_cols`` entries are
    column names (identity transform) or ``bucket(col, N)`` (hidden
    bucket partitioning -- the source column stays a data column; the
    murmur3 bucket exists only as the partition layout)."""
    if table_exists(table_path):
        raise FileExistsError(f"iceberg table already exists at {table_path}")
    fields, last_col = spark_schema_to_iceberg(spark_schema)
    by_name = {f["name"]: f for f in fields}
    spec_fields = [_parse_partition_spec_entry(c, by_name, 1000 + i)
                   for i, c in enumerate(partition_cols)]
    meta = {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid5(_uuid.NAMESPACE_URL, "iceberg://" + os.path.abspath(table_path))),
        "location": os.path.abspath(table_path),
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"schema.name-mapping.default": _name_mapping(fields),
                       "write.format.default": "parquet"},
        "current-snapshot-id": -1,
        "refs": {},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_version(table_path, meta, 1)
    return meta


# ---------------------------------------------------------------------------
# manifest + manifest list schemas (Iceberg spec field ids)
# ---------------------------------------------------------------------------


def _partition_avro_schema(meta: dict) -> dict:
    spec = meta["partition-specs"][meta["default-spec-id"]]
    schema_fields = {f["id"]: f for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    pfields = []
    for pf in spec["fields"]:
        if pf["transform"].startswith("bucket"):
            avro_t = "int"      # bucket[N] values are ints whatever the source
        else:
            src = schema_fields[pf["source-id"]]
            avro_t = {"string": "string", "int": "int", "long": "long",
                      "double": "double", "boolean": "boolean"}[src["type"]]
        pfields.append({"name": pf["name"], "type": ["null", avro_t],
                        "default": None, "field-id": pf["field-id"]})
    return {"type": "record", "name": "r102", "fields": pfields}


def _spec_info(meta: dict) -> list[dict]:
    """Partition spec fields with resolved source column + value type:
    [{name, transform, source_name, source_type, value_type, n}]."""
    spec = meta["partition-specs"][meta["default-spec-id"]]
    by_id = {f["id"]: f for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    out = []
    for pf in spec["fields"]:
        src = by_id[pf["source-id"]]
        info = {"name": pf["name"], "transform": pf["transform"],
                "source_name": src["name"], "source_type": src["type"],
                "value_type": src["type"], "n": None}
        if pf["transform"].startswith("bucket["):
            info["n"] = int(pf["transform"][7:-1])
            info["value_type"] = "int"
        out.append(info)
    return out


def _with_partition_cols(df, meta):
    """Add any transform-derived partition columns missing from ``df``
    (hidden partitioning: callers never carry bucket columns; the write
    path derives them from the spec)."""
    for info in _spec_info(meta):
        if info["transform"] == "identity" or info["name"] in df.columns:
            continue
        df = df.withColumn(info["name"], bucket_transform_col(
            info["source_name"], info["n"], info["source_type"]))
    return df


def _bounds_avro_type(name: str) -> dict:
    # Iceberg's map<int, binary> bounds are a "logical map": an array of
    # key/value records keyed by field id
    return {"type": "array", "logical-type": "map", "items": {
        "type": "record", "name": name,
        "fields": [{"name": "key", "type": "int", "field-id": 117 if name == "k117_v118" else 119},
                   {"name": "value", "type": "bytes",
                    "field-id": 118 if name == "k117_v118" else 120}]}}


def _manifest_entry_schema(meta: dict) -> dict:
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {"name": "partition", "type": _partition_avro_schema(meta), "field-id": 102},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {"name": "lower_bounds", "type": ["null", _bounds_avro_type("k117_v118")],
                     "default": None, "field-id": 125},
                    {"name": "upper_bounds", "type": ["null", _bounds_avro_type("k119_v120")],
                     "default": None, "field-id": 128},
                    # spec field 135: source field ids an EQUALITY delete
                    # file (content=2) compares on; null for data/position
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int",
                                       "element-id": 136}],
                     "default": None, "field-id": 135},
                ],
            }},
        ],
    }


# single-value binary serialization for bounds (Iceberg spec appendix D):
# little-endian for numeric types, UTF-8 for strings
def encode_bound(value, iceberg_type: str) -> bytes:
    import struct as _s
    if iceberg_type == "int":
        return _s.pack("<i", int(value))
    if iceberg_type == "long":
        return _s.pack("<q", int(value))
    if iceberg_type == "float":
        return _s.pack("<f", float(value))
    if iceberg_type == "double":
        return _s.pack("<d", float(value))
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    raise NotImplementedError(f"bound type {iceberg_type!r}")


def decode_bound(raw: bytes, iceberg_type: str):
    import struct as _s
    if iceberg_type == "int":
        return _s.unpack("<i", raw)[0]
    if iceberg_type == "long":
        return _s.unpack("<q", raw)[0]
    if iceberg_type == "float":
        return _s.unpack("<f", raw)[0]
    if iceberg_type == "double":
        return _s.unpack("<d", raw)[0]
    if iceberg_type == "string":
        return raw.decode("utf-8")
    raise NotImplementedError(f"bound type {iceberg_type!r}")


_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# ---------------------------------------------------------------------------
# commits: append / overwrite-partitions
# ---------------------------------------------------------------------------


def _write_manifest(meta: dict, table_path: str, entries: list[dict],
                    snapshot_id: int, seq: int, tag: str,
                    content: int = 0) -> dict:
    """Write one manifest avro; return its manifest-list entry.
    ``content``: 0 = data manifest, 1 = delete manifest (spec field 517)."""
    name = f"{meta['table-uuid'][:8]}-snap{snapshot_id}-{tag}.avro"
    path = os.path.join(_meta_dir(table_path), name)
    avro_io.write_container(
        path, _manifest_entry_schema(meta), entries,
        metadata={"format-version": "2",
                  "content": "deletes" if content == 1 else "data",
                  "partition-spec-id": str(meta["default-spec-id"]),
                  "schema": json.dumps(meta["schemas"][meta["current-schema-id"]])})
    counts = {STATUS_ADDED: [0, 0], STATUS_EXISTING: [0, 0], STATUS_DELETED: [0, 0]}
    for e in entries:
        c = counts[e["status"]]
        c[0] += 1
        c[1] += e["data_file"]["record_count"]
    min_seq = min((e["sequence_number"] for e in entries
                   if e["sequence_number"] is not None), default=seq)
    return {
        "manifest_path": path, "manifest_length": os.path.getsize(path),
        "partition_spec_id": meta["default-spec-id"], "content": content,
        "sequence_number": seq, "min_sequence_number": min_seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": counts[STATUS_ADDED][0],
        "existing_files_count": counts[STATUS_EXISTING][0],
        "deleted_files_count": counts[STATUS_DELETED][0],
        "added_rows_count": counts[STATUS_ADDED][1],
        "existing_rows_count": counts[STATUS_EXISTING][1],
        "deleted_rows_count": counts[STATUS_DELETED][1],
    }


def _current_manifest_list(meta: dict) -> list[dict]:
    sid = meta.get("current-snapshot-id", -1)
    if sid in (-1, None):
        return []
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    _schema, entries, _m = avro_io.read_container(snap["manifest-list"])
    return entries


def _commit_snapshot(table_path: str, meta: dict, manifest_entries: list[dict],
                     snapshot_id: int, seq: int, operation: str) -> dict:
    list_name = f"snap-{snapshot_id}-1-{meta['table-uuid'][:8]}.avro"
    list_path = os.path.join(_meta_dir(table_path), list_name)
    parent = meta.get("current-snapshot-id", -1)
    avro_io.write_container(
        list_path, _MANIFEST_FILE_SCHEMA, manifest_entries,
        metadata={"format-version": "2", "snapshot-id": str(snapshot_id),
                  "sequence-number": str(seq),
                  "parent-snapshot-id": str(parent if parent not in (-1, None) else "null")})
    now = int(time.time() * 1000)
    snap = {
        "snapshot-id": snapshot_id, "sequence-number": seq, "timestamp-ms": now,
        "summary": {"operation": operation}, "manifest-list": list_path, "schema-id": 0,
    }
    if parent not in (-1, None):
        snap["parent-snapshot-id"] = parent
    # commit against the version the caller LOADED, not a re-read of the
    # hint: a stale base must lose the version-file claim, not clobber a
    # concurrent writer's snapshot
    version = meta.get("_loaded-version", current_version(table_path))
    meta = dict(meta)
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now
    meta["refs"] = {"main": {"snapshot-id": snapshot_id, "type": "branch"}}
    meta["snapshot-log"] = meta["snapshot-log"] + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now}]
    meta["metadata-log"] = meta["metadata-log"] + [
        {"metadata-file": os.path.join(_meta_dir(table_path), f"v{version}.metadata.json"),
         "timestamp-ms": now}]
    _write_version(table_path, meta, version + 1)
    return snap


def _entry(df: dict, status: int, snapshot_id: int, seq: int | None) -> dict:
    return {"status": status, "snapshot_id": snapshot_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {"content": 0, "file_format": "PARQUET",
                          "equality_ids": None, **df}}


def append_files(table_path: str, datafiles: list[dict]) -> dict:
    """Commit an append snapshot.  ``datafiles``: dicts with file_path,
    partition (dict), record_count, file_size_in_bytes.  Previous manifests
    carry forward BY REFERENCE -- an append never rewrites history."""
    meta = load_metadata(table_path)
    seq = meta["last-sequence-number"] + 1
    snapshot_id = seq
    entries = [_entry(df, STATUS_ADDED, snapshot_id, seq) for df in datafiles]
    new_manifest = _write_manifest(meta, table_path, entries, snapshot_id, seq, "m0")
    manifest_list = [new_manifest] + _current_manifest_list(meta)
    return _commit_snapshot(table_path, meta, manifest_list, snapshot_id, seq, "append")


def overwrite_partitions(table_path: str, replaced: list[dict],
                         datafiles: list[dict]) -> dict:
    """Commit an overwrite snapshot replacing whole partitions: every live
    file whose partition matches an entry of ``replaced`` is dropped, then
    ``datafiles`` are added.  Manifests with no replaced entries carry
    forward by reference; affected manifests are rewritten with surviving
    entries as EXISTING (original sequence numbers preserved) -- the
    resume/retry semantics (a bucket retried to ZERO rows still drops its
    old files, which plain dynamic partition overwrite cannot express)."""
    meta = load_metadata(table_path)
    seq = meta["last-sequence-number"] + 1
    snapshot_id = seq

    def is_replaced(partition: dict) -> bool:
        return any(all(partition.get(k) == v for k, v in r.items()) for r in replaced)

    manifest_list: list[dict] = []
    if datafiles:
        added = [_entry(df, STATUS_ADDED, snapshot_id, seq) for df in datafiles]
        manifest_list.append(_write_manifest(meta, table_path, added, snapshot_id, seq, "m0"))
    for i, m in enumerate(_current_manifest_list(meta)):
        _schema, entries, _meta2 = avro_io.read_container(m["manifest_path"])
        live = [e for e in entries if e["status"] != STATUS_DELETED]
        survivors = [e for e in live if not is_replaced(e["data_file"]["partition"])]
        if len(survivors) == len(live):
            manifest_list.append(m)       # untouched: carry forward by reference
            continue
        rewritten = [
            {**e, "status": STATUS_EXISTING} for e in survivors
        ] + [
            {**e, "status": STATUS_DELETED, "snapshot_id": snapshot_id}
            for e in live if is_replaced(e["data_file"]["partition"])
        ]
        if rewritten:
            # a rewritten DELETE manifest must stay a delete manifest:
            # dropping a partition drops its position-delete files too,
            # with the same carry-forward/rewrite rules as data manifests
            manifest_list.append(
                _write_manifest(meta, table_path, rewritten, snapshot_id, seq,
                                f"m{i + 1}", content=m.get("content", 0)))
    return _commit_snapshot(table_path, meta, manifest_list, snapshot_id, seq, "overwrite")


# field ids reserved by the spec for position-delete file columns
POS_DELETE_PATH_FIELD_ID = 2147483546
POS_DELETE_POS_FIELD_ID = 2147483545


def add_position_deletes(table_path: str, deletes: list[tuple[str, int]]) -> dict:
    """Commit a POSITION-DELETE snapshot: rows identified by
    ``(data_file_path, row_position)`` stop appearing in reads.

    This is the row-level granularity a MERGE-maintained table uses (the
    resume protocol itself only needs whole-partition overwrites).  The
    delete file is parquet with the spec's reserved schema: ``file_path``
    (string, field id 2147483546) and ``pos`` (long, field id 2147483545),
    rows sorted by (file_path, pos); it is committed under a DELETE
    manifest (manifest-list content=1) at the next sequence number, so it
    applies to every data file with data sequence number <= its own."""
    import pyarrow as pa
    meta = load_metadata(table_path)
    seq = meta["last-sequence-number"] + 1
    rows = sorted(deletes)
    schema = pa.schema([
        pa.field("file_path", pa.string(), nullable=False,
                 metadata={b"PARQUET:field_id": str(POS_DELETE_PATH_FIELD_ID).encode()}),
        pa.field("pos", pa.int64(), nullable=False,
                 metadata={b"PARQUET:field_id": str(POS_DELETE_POS_FIELD_ID).encode()}),
    ])
    tbl = pa.Table.from_pydict(
        {"file_path": [r[0] for r in rows], "pos": [r[1] for r in rows]}, schema=schema)
    df = {**_write_driver_file(table_path, tbl, seq, "-deletes"), "content": 1}
    return _commit_delete_file(table_path, meta, df, seq)


def _write_driver_file(table_path: str, tbl, seq: int, suffix: str,
                       fields: dict | None = None) -> dict:
    """Write a pyarrow table as ONE parquet file under the table's data
    dir; return its unpartitioned data_file dict (``_write_file``)."""
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{seq:05d}-{_uuid.uuid4().hex[:12]}{suffix}.parquet")
    return _write_file(path, tbl.schema, tbl.to_batches(), fields)


def _commit_delete_file(table_path: str, meta: dict, df: dict, seq: int) -> dict:
    """Commit one delete file under a DELETE manifest at ``seq``."""
    entries = [_entry(df, STATUS_ADDED, seq, seq)]
    new_manifest = _write_manifest(meta, table_path, entries, seq, seq,
                                   "d0", content=1)
    manifest_list = [new_manifest] + _current_manifest_list(meta)
    return _commit_snapshot(table_path, meta, manifest_list, seq, seq, "delete")


# Iceberg primitive -> pyarrow type constructor and its arguments, for the
# files the driver writes itself
_ICEBERG_TO_PA = {"string": ("string",), "long": ("int64",), "int": ("int32",),
                  "double": ("float64",), "boolean": ("bool_",),
                  "timestamptz": ("timestamp", "us", "UTC")}


def _pa_field(f: dict):
    """An Iceberg schema field as a PARQUET:field_id-stamped pyarrow field."""
    import pyarrow as pa
    if not isinstance(f["type"], str) or f["type"] not in _ICEBERG_TO_PA:
        raise NotImplementedError(f"column {f['name']!r} of type {f['type']!r} "
                                  f"has no pyarrow mapping")
    ctor, *args = _ICEBERG_TO_PA[f["type"]]
    return pa.field(f["name"], getattr(pa, ctor)(*args),
                    metadata={b"PARQUET:field_id": str(f["id"]).encode()})


def append_rows(table_path: str, rows: list[tuple]) -> dict:
    """Commit an append snapshot of driver-side ``rows`` (tuples in table
    column order) as ONE parquet file written by pyarrow, stamped with
    PARQUET:field_id and carrying footer column bounds -- no Spark job,
    for small tables such as the checkpoint manifest.  Unpartitioned
    tables of primitive columns only."""
    import pyarrow as pa
    meta = load_metadata(table_path)
    if meta["partition-specs"][meta["default-spec-id"]]["fields"]:
        raise ValueError(f"append_rows writes unpartitioned tables only: {table_path}")
    fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    if any(len(r) != len(fields) for r in rows):
        raise ValueError(f"append_rows: every row needs {len(fields)} values")
    schema = pa.schema([_pa_field(f) for f in fields])
    tbl = pa.Table.from_pydict(
        {f["name"]: [r[i] for r in rows] for i, f in enumerate(fields)}, schema=schema)
    df = _write_driver_file(table_path, tbl, meta["last-sequence-number"] + 1, "",
                            {f["name"]: f for f in fields})
    return append_files(table_path, [df])


def add_equality_deletes(table_path: str, rows: list[dict],
                         equality_cols: list[str]) -> dict:
    """Commit an EQUALITY-DELETE snapshot (content=2): any live row whose
    values on ``equality_cols`` match a delete row stops appearing in
    reads -- the granularity a Flink-CDC-style writer maintains tables
    with (it cannot know row positions, only key values).

    The delete file is parquet carrying exactly the equality columns
    (table types, ``PARQUET:field_id``-stamped); the manifest entry
    records their field ids in ``equality_ids`` (spec field 135) and is
    committed under a DELETE manifest at the next sequence number.  Per
    the spec's applicability rule it deletes rows only from data files
    whose data sequence number is STRICTLY LESS than its own (a position
    delete uses <=), and a null delete value matches null data values."""
    import pyarrow as pa
    meta = load_metadata(table_path)
    schema_fields = {f["name"]: f
                     for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    missing = [c for c in equality_cols if c not in schema_fields]
    if missing:
        raise ValueError(f"equality columns not in table schema: {missing}")
    seq = meta["last-sequence-number"] + 1
    tbl = pa.Table.from_pydict(
        {c: [r.get(c) for r in rows] for c in equality_cols},
        schema=pa.schema([_pa_field(schema_fields[c]) for c in equality_cols]))
    df = {**_write_driver_file(table_path, tbl, seq, "-eq-deletes"), "content": 2,
          "equality_ids": [schema_fields[c]["id"] for c in equality_cols]}
    return _commit_delete_file(table_path, meta, df, seq)


# ---------------------------------------------------------------------------
# scan planning
# ---------------------------------------------------------------------------


def _live_files(table_path: str, meta: dict, snapshot_id: int | None,
                content: int):
    """Snapshot -> manifest list -> manifests of one ``content`` kind (0
    data, 1 deletes) -> their live entries, as data_file dicts.  The data
    sequence number rides along as ``_seq`` (internal key): the read path
    scopes each delete to the data files it applies to by it."""
    sid = meta.get("current-snapshot-id", -1) if snapshot_id is None else snapshot_id
    if sid in (-1, None):
        return
    snap = next((s for s in meta["snapshots"] if s["snapshot-id"] == sid), None)
    if snap is None:
        raise ValueError(f"unknown snapshot id {sid} for {table_path}")
    _schema, manifests, _m = avro_io.read_container(snap["manifest-list"])
    for m in manifests:
        if m.get("content", 0) != content:
            continue
        _s2, entries, _m2 = avro_io.read_container(m["manifest_path"])
        for e in entries:
            if e["status"] != STATUS_DELETED:
                yield {**e["data_file"], "_seq": e["sequence_number"] or 0}


def plan_files(table_path: str, snapshot_id: int | None = None,
               partition_filter: dict | None = None,
               column_range_filter: dict | None = None) -> list[dict]:
    """Live data files of a snapshot, with partition pruning AND
    column-bounds file skipping (``column_range_filter``: {col: (lo, hi)}
    inclusive -- a file whose footer min/max range is disjoint never gets
    opened).  Returns data_file dicts (file_path, partition, record_count,
    file_size_in_bytes, bounds, ``_seq``)."""
    meta = load_metadata(table_path)
    fields = {f["name"]: f for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    ranges = {}
    for col, (lo, hi) in (column_range_filter or {}).items():
        f = fields.get(col)
        if f is None or not isinstance(f["type"], str) or f["type"] not in _BOUND_TYPES:
            raise ValueError(f"column_range_filter: no bound-typed column {col!r}")
        ranges[f["id"]] = (f["type"], lo, hi)

    def pruned_by_bounds(df: dict) -> bool:
        lb = {e["key"]: e["value"] for e in (df.get("lower_bounds") or [])}
        ub = {e["key"]: e["value"] for e in (df.get("upper_bounds") or [])}
        for fid, (t, lo, hi) in ranges.items():
            if fid in lb and decode_bound(lb[fid], t) > hi:
                return True
            if fid in ub and decode_bound(ub[fid], t) < lo:
                return True
        return False   # missing bounds => cannot prune, must read

    out = [df for df in _live_files(table_path, meta, snapshot_id, 0)
           if not (partition_filter
                   and any(df["partition"].get(k) != v for k, v in partition_filter.items()))
           and not (ranges and pruned_by_bounds(df))]
    return sorted(out, key=lambda d: d["file_path"])


def plan_delete_files(table_path: str, snapshot_id: int | None = None) -> list[dict]:
    """Live DELETE files for a snapshot (manifest-list content=1): both
    position deletes (data_file content=1) and equality deletes
    (content=2, carrying ``equality_ids``).  Returns data_file dicts with
    ``_seq`` = the delete's data sequence number; callers dispatch on
    ``content``."""
    out = _live_files(table_path, load_metadata(table_path), snapshot_id, 1)
    return sorted(out, key=lambda d: d["file_path"])


def snapshot_ids(table_path: str) -> list[int]:
    return [s["snapshot-id"] for s in load_metadata(table_path)["snapshots"]]


def plan_files_incremental(table_path: str, from_snapshot: int,
                           to_snapshot: int | None = None) -> list[dict]:
    """Incremental scan: data files ADDED strictly after ``from_snapshot``
    up to ``to_snapshot`` (default: current) -- the consume-only-new-data
    pattern a downstream training pipeline polls with (Iceberg's
    incremental append scan).  Files deleted again within the range are
    excluded; commits that only deleted files contribute nothing."""
    meta = load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    if from_snapshot not in snaps:
        raise ValueError(f"unknown from_snapshot {from_snapshot}")
    end = meta.get("current-snapshot-id") if to_snapshot is None else to_snapshot
    if end not in snaps:
        raise ValueError(f"unknown to_snapshot {end}")
    from_seq = snaps[from_snapshot]["sequence-number"]
    end_files = {f["file_path"]: f for f in plan_files(table_path, snapshot_id=end)}
    # a file is "new" iff it is live at `end` and was added after from_seq;
    # added-then-deleted files are not live at end, added-before files
    # have sequence numbers <= from_seq in the end snapshot's manifests
    _sch, manifests, _m = avro_io.read_container(snaps[end]["manifest-list"])
    out = []
    for m in manifests:
        if m["sequence_number"] <= from_seq and m["min_sequence_number"] <= from_seq:
            # manifest predates the range AND carries no newer entries
            continue
        _s2, entries, _m2 = avro_io.read_container(m["manifest_path"])
        for e in entries:
            if (e["status"] != STATUS_DELETED
                    and (e["sequence_number"] or 0) > from_seq
                    and e["data_file"]["file_path"] in end_files):
                out.append(e["data_file"])
    return sorted(out, key=lambda d: d["file_path"])


def expire_snapshots(table_path: str, keep_last: int = 1) -> dict:
    """Snapshot expiration (the table-maintenance op a 10^12-row table
    cannot live without): drop all but the newest ``keep_last`` snapshots
    from metadata, then delete every manifest list, manifest, and DATA
    FILE no surviving snapshot references.  Time travel to an expired
    snapshot fails afterwards; live reads are untouched.  Returns counts
    of deleted files per kind."""
    meta = load_metadata(table_path)
    snaps = meta["snapshots"]
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current snapshot must survive)")
    kept = snaps[-keep_last:]
    expired = snaps[:-keep_last]
    if not expired:
        return {"snapshots": 0, "manifest_lists": 0, "manifests": 0, "data_files": 0}
    kept_ids = {s["snapshot-id"] for s in kept}
    if meta.get("current-snapshot-id") not in kept_ids:
        raise ValueError("cannot expire the current snapshot")

    def referenced(snapshots: list[dict]) -> tuple[set, set, set]:
        lists, manifests, datafiles = set(), set(), set()
        for s in snapshots:
            lists.add(s["manifest-list"])
            _sch, ms, _m = avro_io.read_container(s["manifest-list"])
            for m in ms:
                manifests.add(m["manifest_path"])
                _s2, entries, _m2 = avro_io.read_container(m["manifest_path"])
                for e in entries:
                    # DELETED tombstones keep the path referenced in the
                    # manifest but the file itself is only live if some
                    # KEPT snapshot lists it as non-deleted
                    if e["status"] != STATUS_DELETED:
                        datafiles.add(e["data_file"]["file_path"])
        return lists, manifests, datafiles

    keep_lists, keep_manifests, keep_data = referenced(kept)
    exp_lists, exp_manifests, exp_data = referenced(expired)
    counts = {"snapshots": len(expired), "manifest_lists": 0, "manifests": 0,
              "data_files": 0}
    for path in exp_lists - keep_lists:
        os.unlink(path)
        counts["manifest_lists"] += 1
    for path in exp_manifests - keep_manifests:
        os.unlink(path)
        counts["manifests"] += 1
    for path in exp_data - keep_data:
        if os.path.isfile(path):
            os.unlink(path)
            counts["data_files"] += 1
    meta = dict(meta)
    meta["snapshots"] = kept
    meta["snapshot-log"] = [e for e in meta["snapshot-log"]
                            if e["snapshot-id"] in kept_ids]
    _write_version(table_path, meta, meta["_loaded-version"] + 1)
    return counts


# ---------------------------------------------------------------------------
# Spark integration: DataFrame write / read through the format
# ---------------------------------------------------------------------------


_BOUND_TYPES = ("int", "long", "float", "double", "string")

# parquet-mr (Spark's writer) drops a string column chunk's min/max when
# the two together reach this many bytes
_MAX_STATS_SIZE = 4096
# Arrow bytes buffered into one row group (parquet-mr's default block
# size): each write_batch call would otherwise be a row group of its own
_ROW_GROUP_BYTES = 128 * 1024 * 1024


def _write_file(path: str, schema, batches, fields: dict | None = None) -> dict:
    """Write ``batches`` as ONE parquet file with pyarrow and describe it
    as an unpartitioned data_file dict.  The bound-typed columns among
    ``fields`` (name -> Iceberg schema field) get lower/upper bounds --
    what makes file-level data skipping possible beyond partition
    pruning.  The bounds come from the rows written, not from the footer:
    pyarrow keeps a footer min/max whose other side went over its
    4096-byte stats limit and reads that side back as ''.  A string
    column whose min and max together reach ``_MAX_STATS_SIZE`` bytes
    gets no bounds, as in a Spark-written file; a missing bound never
    prunes.  Batches are buffered up to ``_ROW_GROUP_BYTES`` per row
    group."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    bounded = [f for f in (fields or {}).values()
               if f["name"] in schema.names
               and isinstance(f["type"], str) and f["type"] in _BOUND_TYPES]
    lows: dict[int, Any] = {}
    highs: dict[int, Any] = {}
    rows = 0
    group: list = []

    def flush(writer):
        table = pa.Table.from_batches(group, schema)
        writer.write_table(table, row_group_size=max(1, table.num_rows))
        group.clear()

    with pq.ParquetWriter(path, schema) as writer:
        for batch in batches:
            group.append(batch)
            if sum(b.nbytes for b in group) >= _ROW_GROUP_BYTES:
                flush(writer)
            rows += batch.num_rows
            for f in bounded:
                mm = pc.min_max(batch.column(f["name"])).as_py()
                if mm["min"] is not None:
                    lows[f["id"]] = min(lows.get(f["id"], mm["min"]), mm["min"])
                    highs[f["id"]] = max(highs.get(f["id"], mm["max"]), mm["max"])
        if group:
            flush(writer)
    types = {f["id"]: f["type"] for f in bounded}
    kept = [k for k in sorted(lows) if types[k] != "string"
            or len(lows[k].encode()) + len(highs[k].encode()) < _MAX_STATS_SIZE]
    lb = [{"key": k, "value": encode_bound(lows[k], types[k])} for k in kept]
    ub = [{"key": k, "value": encode_bound(highs[k], types[k])} for k in kept]
    return {"file_path": path, "partition": {}, "record_count": rows,
            "file_size_in_bytes": os.path.getsize(path),
            "lower_bounds": lb or None, "upper_bounds": ub or None}


def _parse_partition_value(v: str, iceberg_type: str):
    """Parse a Hive directory value into the partition column's Iceberg
    type.  Every type _partition_avro_schema accepts must round-trip --
    a 'false' string fed to write_datum's boolean branch would encode as
    Avro TRUE (non-empty string), and string-vs-typed comparisons in
    partition_filter / overwrite's is_replaced would silently never
    match."""
    if v == _HIVE_DEFAULT_PARTITION:
        return None
    if iceberg_type in ("int", "long"):
        return int(v)
    if iceberg_type == "double":
        return float(v)
    if iceberg_type == "boolean":
        return v.lower() == "true"
    return v


_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# the characters Spark's ExternalCatalogUtils.escapePathName writes as %XX
_HIVE_ESCAPED = frozenset(map(chr, range(1, 0x20))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def _hive_escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in s)


def _hive_dir(name: str, value) -> str:
    """One ``name=value`` directory as Spark's partitioned writer spells
    it: NULL and '' as __HIVE_DEFAULT_PARTITION__, booleans lower case,
    everything else its string form, escaped."""
    if value is None or value == "":
        return f"{_hive_escape(name)}={_HIVE_DEFAULT_PARTITION}"
    s = ("true" if value else "false") if isinstance(value, bool) else str(value)
    return f"{_hive_escape(name)}={_hive_escape(s)}"


def _partition_of(rel_dir: str, ptypes: dict) -> dict:
    """The typed partition values of a data file's ``k=v/...`` directory
    -- the values read_table's basePath discovery reads back."""
    import urllib.parse
    partition: dict = {}
    for piece in rel_dir.split("/") if rel_dir else []:
        k, _, v = map(urllib.parse.unquote, piece.partition("="))
        partition[k] = _parse_partition_value(v, ptypes[k])
    return partition


def _partition_runs(batch, cols: tuple[str, ...]):
    """(values, slice) for each run of equal ``cols`` values in ``batch``,
    in row order (NULL equals NULL)."""
    import pyarrow.compute as pc
    n = batch.num_rows
    if n == 0:
        return
    starts = {0}
    for c in cols:
        a = batch.column(c)
        prev, cur = a.slice(0, n - 1), a.slice(1)
        changed = pc.or_(pc.fill_null(pc.not_equal(cur, prev), False),
                         pc.xor(pc.is_null(cur), pc.is_null(prev)))
        starts.update(i + 1 for i in pc.indices_nonzero(changed).to_pylist())
    cuts = sorted(starts) + [n]
    for s, e in zip(cuts, cuts[1:]):
        yield tuple(batch.column(c)[s].as_py() for c in cols), batch.slice(s, e - s)


def _remove(paths) -> None:
    """Delete ``paths``; one the other side of an abort (task or driver)
    deleted first is skipped."""
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def _live_marker(data_dir: str, writer_tag: str) -> str:
    """The file that exists while a write's Spark job may still succeed."""
    return os.path.join(data_dir, f"_writing-{writer_tag}")


def _task_writer(data_dir: str, writer_tag: str, partition_cols: tuple[str, ...],
                 fields: dict, ptypes: dict):
    """The ``mapInArrow`` function of ``_stage_datafiles``.  A task gets
    its rows sorted on the partition columns and writes each run of one
    partition value as one file under ``data/<k>=<v>/``, at most one file
    open at a time; it yields one pickled data_file dict per file.  A
    task that raises deletes the files it wrote (Iceberg's
    ``DataWriter.abort``), and so does one that finds the write's live
    marker gone: the job already failed while it was writing."""

    def write(batches):
        import itertools
        import pickle

        import pyarrow as pa
        from pyspark import TaskContext
        ctx = TaskContext.get()
        # taskAttemptId, not attemptNumber: attemptNumber restarts at 0 in
        # each stage attempt, so a zombie task of a failed stage attempt
        # and its rerun would share (and delete) each other's files
        prefix = f"{writer_tag}-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        runs = (run for b in batches for run in _partition_runs(b, partition_cols))
        paths: list[str] = []
        described: list[dict] = []
        names = schema = None
        try:
            for key, group in itertools.groupby(runs, key=lambda run: run[0]):
                first = next(group)[1]
                if schema is None:
                    names = [n for n in first.schema.names if n not in partition_cols]
                    # top-level PARQUET:field_id stamps; list element ids
                    # stay with the table's name mapping
                    schema = pa.schema([
                        first.schema.field(n).with_metadata(
                            {b"PARQUET:field_id": str(fields[n]["id"]).encode()})
                        if n in fields else first.schema.field(n) for n in names])
                rel = "/".join(_hive_dir(c, v) for c, v in zip(partition_cols, key))
                os.makedirs(os.path.join(data_dir, rel), exist_ok=True)
                paths.append(os.path.join(data_dir, rel, f"{prefix}-{len(paths):05d}.parquet"))
                slices = itertools.chain([first], (s for _k, s in group))
                datafile = _write_file(paths[-1], schema, (s.select(names) for s in slices),
                                       fields)
                described.append({**datafile, "partition": _partition_of(rel, ptypes)})
            if not os.path.exists(_live_marker(data_dir, writer_tag)):
                raise RuntimeError(f"data-file write {writer_tag} was aborted")
        except BaseException:
            _remove(paths)
            raise
        yield pa.record_batch([pa.array([pickle.dumps(d) for d in described], pa.binary())],
                              names=["datafile"])

    return write


def _stage_datafiles(df, table_path: str, partition_cols: tuple[str, ...],
                     seq_tag: str) -> list[dict]:
    """Write df's rows as data files under the table's data dir and return
    their data_file dicts.  The Spark tasks write the files themselves
    with pyarrow (``_task_writer``): files land under data/<k>=<v>/ (Hive
    layout, Spark's spelling), each with its record count and column
    bounds, and only the descriptions reach the driver -- no staging
    directory, no Spark file commit, no footer re-read.

    Every file name carries a per-WRITER tag (the sequence tag and a
    uuid), the task's partition id and its task attempt id (unique in
    the application, across stage attempts too), so two writers racing
    from the same base metadata never collide on data-file names, nor do
    two attempts of one task.  The metadata commit -- protected by
    _write_version's O_EXCL claim -- is the ONLY contention point.  If
    the Spark job fails, the driver removes the write's live marker, then
    deletes every file carrying this writer's tag before the error
    propagates (Iceberg's ``BatchWrite.abort``).  A cancelled task still
    running checks the marker after its last file and deletes its own.

    The cleanup runs in Python: a task attempt killed outright (SIGKILL
    after ``spark.python.task.killTimeout``, a lost executor) deletes
    nothing.  Its files stay under data/, unreferenced by any snapshot,
    when the job still succeeds or when they land after the driver's
    walk; so do the partition directories a failed write created."""
    import pickle
    writer_tag = f"{seq_tag}-{_uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(os.path.abspath(table_path), "data")
    meta = load_metadata(table_path)
    fields = {f["name"]: f for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    ptypes = {i["name"]: i["value_type"] for i in _spec_info(meta)}
    # hidden partitioning: derive transform columns (e.g. bucket[N]) the
    # caller's df doesn't carry; they become directories only -- the
    # source column stays in the data files
    df = _with_partition_cols(df, meta)
    if partition_cols:
        # the local sort Spark's partitioned file writer adds itself
        df = df.sortWithinPartitions(*partition_cols)
    write = _task_writer(data_dir, writer_tag, partition_cols, fields, ptypes)
    live = _live_marker(data_dir, writer_tag)
    os.makedirs(data_dir, exist_ok=True)
    open(live, "w").close()
    try:
        rows = df.mapInArrow(write, "datafile binary").collect()
    except BaseException:
        _remove([live])
        _remove(os.path.join(root, name) for root, _dirs, names in os.walk(data_dir)
                for name in names if name.startswith(f"{writer_tag}-"))
        raise
    _remove([live])
    return sorted((pickle.loads(r.datafile) for r in rows), key=lambda d: d["file_path"])


def write_dataframe(df, table_path: str, mode: str = "append",
                    replaced: list[dict] | None = None) -> dict:
    """Write a DataFrame through the Iceberg format.  ``mode``: 'append'
    or 'overwrite_partitions' (with ``replaced`` = explicit partition-value
    dicts to drop -- explicit so a retry that produces ZERO rows for a
    partition still clears it)."""
    meta = load_metadata(table_path)
    partition_cols = tuple(
        f["name"] for f in meta["partition-specs"][meta["default-spec-id"]]["fields"])
    seq_tag = f"{meta['last-sequence-number'] + 1:05d}"
    datafiles = _stage_datafiles(df, table_path, partition_cols, seq_tag)
    if mode == "append":
        return append_files(table_path, datafiles)
    if mode == "overwrite_partitions":
        reps = replaced if replaced is not None else [d["partition"] for d in datafiles]
        return overwrite_partitions(table_path, reps, datafiles)
    raise ValueError(f"unknown mode {mode!r}")


def compact_partitions(spark, table_path: str,
                       small_file_bytes: int = 32 * 1024 * 1024,
                       min_files: int = 2) -> dict:
    """Small-file compaction -- the table-maintenance sibling of
    expire_snapshots.  Streaming sinks and per-bucket retries accrete
    many small data files per partition; scans then pay one open/footer
    per file.  Any partition holding >= ``min_files`` files under
    ``small_file_bytes`` is rewritten: its CURRENT rows are read through
    the normal snapshot-planned scan (position deletes anti-applied, so
    compaction also PHYSICALLY ERASES deleted rows), coalesced, and
    committed as one atomic overwrite-partitions snapshot per pass.
    Readers pinned at earlier snapshots are untouched until
    expire_snapshots reclaims them.  Returns per-partition file counts.

    Scale note: this driver loops over AFFECTED partitions to build the
    replaced set (bounded metadata, same class as resume's bucket
    bookkeeping); the data movement itself is one distributed
    read->write per pass, never per file.
    """
    meta = load_metadata(table_path)
    part_cols = [f["name"] for f in meta["partition-specs"][meta["default-spec-id"]]["fields"]]
    by_part: dict[tuple, list[dict]] = {}
    for f in plan_files(table_path):
        key = tuple(sorted(f["partition"].items()))
        by_part.setdefault(key, []).append(f)
    todo = {k: fs for k, fs in by_part.items()
            if len(fs) >= min_files
            and all(f["file_size_in_bytes"] < small_file_bytes for f in fs)}
    if not todo:
        return {"partitions": 0, "files_before": 0, "files_after": 0}
    replaced = [dict(k) for k in todo]
    df = read_table(spark, table_path)
    # hidden transform partitions (bucket[N]): re-derive the partition
    # columns so the filter/repartition below can reference them; they
    # become directories again at write time, never data columns
    df = _with_partition_cols(df, meta)
    if part_cols:
        from functools import reduce

        from pyspark.sql import functions as F
        # eqNullSafe: a null-valued partition (__HIVE_DEFAULT_PARTITION__
        # parses to None) must still SELECT its rows -- `col == None` is
        # NULL and would rewrite the partition with zero rows (data loss).
        conds = [reduce(lambda a, b: a & b,
                        [F.col(c).eqNullSafe(F.lit(v)) for c, v in k])
                 for k in todo]
        # repartition ON the partition columns: each partition's rows land
        # in one task -> exactly one output file per compacted partition
        df = (df.filter(reduce(lambda a, b: a | b, conds))
              .repartition(len(todo), *part_cols))
    else:
        df = df.coalesce(1)
    snap = write_dataframe(df, table_path,
                           mode="overwrite_partitions", replaced=replaced)
    after = sum(1 for f in plan_files(table_path)
                if tuple(sorted(f["partition"].items())) in todo)
    return {"partitions": len(todo),
            "files_before": sum(len(fs) for fs in todo.values()),
            "files_after": after, "snapshot_id": snap["snapshot-id"]}


def add_column(table_path: str, name: str, spark_type: str) -> dict:
    """Schema evolution: append a nullable column as a NEW schema version
    (new field id, current-schema-id bumped, name mapping extended).
    Data files written before the evolution project the column as null on
    read -- the spec's add-column semantics."""
    meta = load_metadata(table_path)
    cur = meta["schemas"][meta["current-schema-id"]]
    if any(f["name"] == name for f in cur["fields"]):
        raise ValueError(f"column {name!r} already exists")
    if spark_type not in _SPARK_TO_ICEBERG:
        raise NotImplementedError(f"spark type {spark_type!r}")
    new_id = meta["last-column-id"] + 1
    fields = cur["fields"] + [{"id": new_id, "name": name, "required": False,
                               "type": _SPARK_TO_ICEBERG[spark_type]}]
    schema = {"schema-id": len(meta["schemas"]), "type": "struct", "fields": fields}
    meta = dict(meta)
    meta["schemas"] = meta["schemas"] + [schema]
    meta["current-schema-id"] = schema["schema-id"]
    meta["last-column-id"] = new_id
    meta["properties"] = {**meta["properties"],
                          "schema.name-mapping.default": _name_mapping(fields)}
    meta["last-updated-ms"] = int(time.time() * 1000)
    _write_version(table_path, meta, meta["_loaded-version"] + 1)
    return schema


def read_table(spark, table_path: str, snapshot_id: int | None = None,
               partition_filter: dict | None = None,
               column_range_filter: dict | None = None):
    """Plan the scan through snapshot metadata and read the planned parquet
    files; identity partition columns are reconstituted via basePath
    discovery.  Reads are SCHEMA-STABLE: the current table schema is
    passed explicitly, so files predating an add-column evolution project
    the new column as null instead of being dropped by parquet schema
    inference.  An empty table yields an empty DataFrame with the table
    schema.

    POSITION DELETES are anti-applied: live delete files (content=1) are
    read as (file_path, pos) pairs and subtracted via a broadcast
    left-anti join on Spark's ``_metadata.file_path`` / ``row_index``
    columns -- distributed, no driver materialization of data rows, and a
    delete scopes only to data files whose data sequence number is <= the
    delete's (the spec's applicability rule)."""
    from pyspark.sql import functions as F
    files = plan_files(table_path, snapshot_id, partition_filter,
                       column_range_filter=column_range_filter)
    meta = load_metadata(table_path)
    fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    ddl = iceberg_schema_to_spark_ddl(fields)
    if not files:
        return spark.createDataFrame([], ddl)
    deletes = plan_delete_files(table_path, snapshot_id)
    reader = (spark.read.schema(ddl)
              .option("basePath", os.path.join(table_path, "data")))
    # hidden-transform partition dirs (bucket[N]) surface as discovered
    # columns outside the table schema -- project them away; identity
    # tables keep their historical column order untouched
    if any(i["transform"] != "identity" for i in _spec_info(meta)):
        schema_cols = [f["name"] for f in fields]
        def _project(df):
            return df.select(*schema_cols)
    else:
        def _project(df):
            return df
    if not deletes:
        return _project(reader.parquet(*[f["file_path"] for f in files]))
    pos_dels = [d for d in deletes if d.get("content", 1) == 1]
    eq_dels = [d for d in deletes if d.get("content", 1) == 2]
    # split the scan: files no delete can touch read clean; the rest carry
    # (path, row_index) through anti-joins.  Applicability (spec): a
    # position delete scopes to data files with seq <= its own, an
    # EQUALITY delete to data files with seq STRICTLY LESS than its own.
    # _metadata.file_path is a file: URI -- normalize to the plain
    # absolute paths the delete files reference.
    max_pos_seq = max((d["_seq"] for d in pos_dels), default=-1)
    max_eq_seq = max((d["_seq"] for d in eq_dels), default=-1)

    def touched(seq: int) -> bool:
        return seq <= max_pos_seq or seq < max_eq_seq

    clean = [f["file_path"] for f in files if not touched(f["_seq"])]
    dirty = {f["file_path"]: f["_seq"] for f in files if touched(f["_seq"])}
    del_dfs = []
    for d in pos_dels:
        # per-delete-file applicability enforced by keeping the target
        # list per delete; extra columns in foreign delete files are
        # ignored by the explicit schema
        targets = [p for p, s in dirty.items() if s <= d["_seq"]]
        if not targets:
            continue
        del_dfs.append(
            spark.read.schema("file_path string, pos bigint")
            .parquet(d["file_path"])
            .where(F.col("file_path").isin(targets)))
    parts = []
    if clean:
        parts.append(reader.parquet(*clean))
    if dirty:
        dirty_df = (reader.parquet(*dirty)
                    .withColumn("_path", F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""))
                    .withColumn("_pos", F.col("_metadata.row_index")))
        if del_dfs:
            dd = del_dfs[0]
            for extra in del_dfs[1:]:
                dd = dd.unionByName(extra)
            dd = dd.select(F.col("file_path").alias("_path"),
                           F.col("pos").alias("_pos")).distinct()
            # broadcast the delete set only while it is provably small
            # (record counts come from the manifests); a huge un-compacted
            # delete set falls back to a shuffled anti-join rather than
            # OOMing every executor
            if sum(d["record_count"] for d in pos_dels) <= 5_000_000:
                dd = F.broadcast(dd)
            dirty_df = dirty_df.join(dd, ["_path", "_pos"], "left_anti")
        # EQUALITY deletes: anti-join on the delete file's key columns,
        # null-safe (a null delete value matches null data values, per
        # spec), scoped to data files with seq < the delete's.  One
        # anti-join per delete file -- equality-delete writers compact
        # their deletes, so the file count is small; each join is
        # broadcast under the same guard as the position set.
        by_id = {f["id"]: f for f in fields}
        for d in eq_dels:
            targets = [p for p, s in dirty.items() if s < d["_seq"]]
            if not targets:
                continue
            key_fields = [by_id[i] for i in d["equality_ids"]]
            key_ddl = iceberg_schema_to_spark_ddl(key_fields)
            dd = (spark.read.schema(key_ddl).parquet(d["file_path"])
                  .select([F.col(f["name"]).alias(f"_eq_{f['name']}")
                           for f in key_fields])
                  .distinct())
            if d["record_count"] <= 5_000_000:
                dd = F.broadcast(dd)
            cond = F.col("_path").isin(targets)
            for f in key_fields:
                cond = cond & dirty_df[f["name"]].eqNullSafe(
                    dd[f"_eq_{f['name']}"])
            dirty_df = dirty_df.join(dd, cond, "left_anti")
        parts.append(dirty_df.drop("_path", "_pos"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _project(out)
