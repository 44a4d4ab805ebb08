"""End-to-end tests for the pure-Python Iceberg v2 table format
(sources/iceberg_format.py) -- the UNMOCKED production-semantics path for
the north_rule's Iceberg tables (the runtime-jar branch stays
mock-covered; this layer actually executes).

Covers: Avro binary compliance against the independent JVM Avro
implementation bundled with Spark, snapshot commits via the
Hadoop-catalog version-hint protocol, time travel, partition pruning,
overwrite-partitions retry semantics (including zero-row clears),
manifest carry-forward by reference, and the full checkpoint/resume
protocol with catalog='iceberg'."""

from __future__ import annotations

import json
import os

import pytest

from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
from p_id_text_extraction_spark.sources import avro_io
from p_id_text_extraction_spark.sources import iceberg_format as ice
from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df

KEY = ["conv_id", "turn_idx", "span_rank"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, bucket_id int, text string")


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = _df(spark, [(f"c{i}", i % 4, f"text {i}") for i in range(20)])
    ice.create_table(path, df.schema, partition_cols=("bucket_id",))
    ice.write_dataframe(df, path, mode="append")
    return path


def test_avro_files_readable_by_jvm_avro(spark, table):
    """The hand-written Avro manifests/manifest-lists must be readable by
    org.apache.avro (Spark's bundled, fully independent implementation)
    with identical record content -- spec compliance is verified, not
    assumed."""
    jvm = spark._jvm
    meta_dir = os.path.join(table, "metadata")
    avro_files = [os.path.join(meta_dir, f) for f in os.listdir(meta_dir)
                  if f.endswith(".avro")]
    assert len(avro_files) >= 2   # manifest + manifest list
    def norm(x):
        # the JVM's toString encodes Avro bytes as an ISO-8859-1 JSON
        # string; normalize python bytes the same way for comparison
        if isinstance(x, bytes):
            return x.decode("latin-1")
        if isinstance(x, dict):
            return {k: norm(v) for k, v in x.items()}
        if isinstance(x, list):
            return [norm(v) for v in x]
        return x

    for path in avro_files:
        _schema, py_records, _m = avro_io.read_container(path)
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader())
        jvm_records = []
        while reader.hasNext():
            jvm_records.append(json.loads(str(reader.next())))
        reader.close()
        assert jvm_records == norm(py_records), path


def test_metadata_v2_shape_and_commit_protocol(table):
    meta = ice.load_metadata(table)
    assert meta["format-version"] == 2
    for key in ("table-uuid", "schemas", "partition-specs", "snapshots",
                "last-sequence-number", "last-column-id", "sort-orders"):
        assert key in meta
    # name mapping: the sanctioned mechanism for id-less parquet files
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {m["names"][0] for m in mapping} == {"conv_id", "bucket_id", "text"}
    # version-hint protocol: hint points at the latest metadata file
    v = ice.current_version(table)
    assert v == 2   # create + append
    assert os.path.isfile(os.path.join(table, "metadata", f"v{v}.metadata.json"))
    # identity partition spec on bucket_id
    spec = meta["partition-specs"][0]["fields"][0]
    assert spec["name"] == "bucket_id" and spec["transform"] == "identity"


def test_append_timetravel_and_partition_pruning(spark, table):
    s1 = ice.load_metadata(table)["current-snapshot-id"]
    ice.write_dataframe(_df(spark, [("d0", 1, "late"), ("d1", 2, "late")]),
                        table, mode="append")
    assert ice.read_table(spark, table).count() == 22
    # time travel: the first snapshot still plans exactly its own files
    assert ice.read_table(spark, table, snapshot_id=s1).count() == 20
    # partition pruning happens at PLANNING time (no parquet even opened)
    planned = ice.plan_files(table, partition_filter={"bucket_id": 2})
    assert planned and all("bucket_id=2" in f["file_path"] for f in planned)
    got = ice.read_table(spark, table, partition_filter={"bucket_id": 2})
    assert got.count() == 6   # 5 original + 1 appended
    # identity partition column is reconstituted on read
    assert set(got.select("bucket_id").distinct().toPandas()["bucket_id"]) == {2}


def test_manifest_carry_forward_by_reference(spark, table):
    """An append must NOT rewrite history: the prior snapshot's manifest
    file is referenced verbatim from the new manifest list."""
    meta = ice.load_metadata(table)
    snap1 = next(s for s in meta["snapshots"]
                 if s["snapshot-id"] == meta["current-snapshot-id"])
    _s, list1, _m = avro_io.read_container(snap1["manifest-list"])
    ice.write_dataframe(_df(spark, [("d0", 0, "x")]), table, mode="append")
    meta2 = ice.load_metadata(table)
    snap2 = next(s for s in meta2["snapshots"]
                 if s["snapshot-id"] == meta2["current-snapshot-id"])
    _s, list2, _m = avro_io.read_container(snap2["manifest-list"])
    assert {m["manifest_path"] for m in list1} < {m["manifest_path"] for m in list2}
    carried = [m for m in list2 if m["manifest_path"] in {x["manifest_path"] for x in list1}]
    assert carried == list1   # byte-for-byte same entries, same sequence numbers


def test_overwrite_partitions_and_zero_row_clear(spark, table):
    ice.write_dataframe(_df(spark, [("z1", 2, "new"), ("z2", 2, "new")]),
                        table, mode="overwrite_partitions", replaced=[{"bucket_id": 2}])
    got = sorted(r.conv_id for r in
                 ice.read_table(spark, table, partition_filter={"bucket_id": 2}).collect())
    assert got == ["z1", "z2"]
    assert ice.read_table(spark, table).count() == 17   # 20 - 5 + 2
    # a retry that lands ZERO rows still clears its partition -- the exact
    # semantics plain dynamic partition overwrite cannot express
    empty = spark.createDataFrame([], "conv_id string, bucket_id int, text string")
    ice.write_dataframe(empty, table, mode="overwrite_partitions", replaced=[{"bucket_id": 3}])
    assert ice.read_table(spark, table, partition_filter={"bucket_id": 3}).count() == 0
    assert ice.read_table(spark, table).count() == 12   # 17 - 5
    # deleted files are tombstoned, not vanished: the old snapshot still reads
    snaps = ice.snapshot_ids(table)
    assert ice.read_table(spark, table, snapshot_id=snaps[0]).count() == 20


def test_snapshot_isolation_for_pinned_readers(spark, table):
    """A reader pinned at snapshot S must see identical rows after any
    number of later commits -- what makes concurrent resume attempts safe
    on the manifest table."""
    pinned = ice.load_metadata(table)["current-snapshot-id"]
    before = sorted(map(tuple, ice.read_table(spark, table, snapshot_id=pinned).collect()))
    ice.write_dataframe(_df(spark, [("w", 0, "later")]), table, mode="append")
    ice.write_dataframe(_df(spark, [("v", 1, "later2")]), table,
                        mode="overwrite_partitions", replaced=[{"bucket_id": 1}])
    after = sorted(map(tuple, ice.read_table(spark, table, snapshot_id=pinned).collect()))
    assert before == after


def test_resume_with_iceberg_catalog(spark, tmp_path):
    """The full checkpoint protocol over Iceberg tables, UNMOCKED:
    kill/resume byte-identical to the same kill/resume through the parquet
    catalog, idempotent third run commits nothing, manifest is a
    snapshot-committed Iceberg table whose rows, types and footer field
    ids round-trip."""
    turns = transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))
    out, man = str(tmp_path / "spans_ice"), str(tmp_path / "man_ice")
    r1 = run_with_resume(spark, turns, out, man, n_buckets=8,
                         bucket_filter=[0, 1, 2, 3], catalog="iceberg")
    assert r1["buckets_completed"] == 4
    r2 = run_with_resume(spark, turns, out, man, n_buckets=8, catalog="iceberg")
    assert r2["buckets_completed"] == 4
    r3 = run_with_resume(spark, turns, out, man, n_buckets=8, catalog="iceberg")
    assert r3["buckets_completed"] == 0
    # no-op resume must not have committed an empty snapshot
    assert len(ice.snapshot_ids(out)) == 2

    pq_out, pq_man = str(tmp_path / "pq"), str(tmp_path / "pqm")
    run_with_resume(spark, turns, pq_out, pq_man, n_buckets=8, bucket_filter=[0, 1, 2, 3])
    run_with_resume(spark, turns, pq_out, pq_man, n_buckets=8)
    a = [tuple(r) for r in ice.read_table(spark, out)
         .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]
    b = [tuple(r) for r in spark.read.parquet(pq_out)
         .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]
    assert a == b and len(a) > 100

    from pyspark.sql.types import StructType

    from p_id_text_extraction_spark.plans.checkpoint import MANIFEST_SCHEMA
    m = ice.read_table(spark, man)
    assert m.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert set(m.toPandas()["input_probe"]) <= {"counted", "hash_empty_verified"}
    assert len(ice.snapshot_ids(man)) == 2   # one manifest append per productive run
    # the driver-written manifest rows equal the parquet catalog's Spark-
    # written ones, bar completed_ts (the commit time, the last column)
    rows = m.collect()
    assert len(rows) == 8 and all(r.completed_ts for r in rows)
    pq_rows = spark.read.schema(MANIFEST_SCHEMA).parquet(pq_man).collect()
    assert sorted(r[:-1] for r in rows) == sorted(r[:-1] for r in pq_rows)
    # every column of each manifest file carries its Iceberg field id
    import pyarrow.parquet as pq
    meta = ice.load_metadata(man)
    want = {f["name"]: f["id"] for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    files = ice.plan_files(man)
    assert len(files) == 2 and all(f["lower_bounds"] for f in files)
    for f in files:
        assert {fld.name: int(fld.metadata[b"PARQUET:field_id"])
                for fld in pq.read_schema(f["file_path"])} == want


def test_resume_with_relative_iceberg_paths(spark, tmp_path, monkeypatch):
    """Bare relative table paths (``--output spans --manifest man`` run
    from their parent directory) are Iceberg tables like absolute ones: a
    killed and a resume call commit snapshots to both tables, and the
    spans equal an absolute-path run's."""
    from p_id_text_extraction_spark.sources.iceberg import read_table
    turns = transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))
    rel_dir = tmp_path / "rel"
    rel_dir.mkdir()
    runs = [(str(tmp_path / "abs_spans"), str(tmp_path / "abs_man"), tmp_path),
            ("spans", "man", rel_dir)]
    spans = []
    for out, man, cwd in runs:
        monkeypatch.chdir(cwd)
        run_with_resume(spark, turns, out, man, n_buckets=8,
                        bucket_filter=[0, 1, 2, 3], catalog="iceberg")
        run_with_resume(spark, turns, out, man, n_buckets=8, catalog="iceberg")
        assert len(ice.snapshot_ids(out)) == 2 and len(ice.snapshot_ids(man)) == 2
        spans.append(sorted(map(tuple, read_table(spark, out).collect())))
    assert os.path.isdir(rel_dir / "spans" / "data")
    assert spans[0] == spans[1] and len(spans[0]) > 100


def test_resume_with_bucket_partitioned_spans(spark, tmp_path):
    """spans_layout='bucket': the spans table uses the spec's HIDDEN
    bucket(conv_id, n) partitioning (no bucket_id data column), the
    restart bucketing switches to the same murmur3 so one todo bucket ==
    one overwritten partition, kill/resume stays byte-identical to the
    identity layout, and scans prune by bucket value."""
    turns = transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))
    out, man = str(tmp_path / "spans_b"), str(tmp_path / "man_b")
    r1 = run_with_resume(spark, turns, out, man, n_buckets=8,
                         bucket_filter=[0, 1, 2, 3], catalog="iceberg",
                         spans_layout="bucket")
    assert r1["buckets_completed"] == 4
    r2 = run_with_resume(spark, turns, out, man, n_buckets=8,
                         catalog="iceberg", spans_layout="bucket")
    assert r2["buckets_completed"] == 4
    r3 = run_with_resume(spark, turns, out, man, n_buckets=8,
                         catalog="iceberg", spans_layout="bucket")
    assert r3["buckets_completed"] == 0

    got = ice.read_table(spark, out)
    assert "bucket_id" not in got.columns      # hidden, not a data column
    # byte-identical to the identity-layout run
    run_with_resume(spark, turns, str(tmp_path / "pq"), str(tmp_path / "pqm"),
                    n_buckets=8)
    a = [tuple(r) for r in got.drop("job_fingerprint").orderBy(*KEY).collect()]
    b = [tuple(r) for r in spark.read.parquet(str(tmp_path / "pq"))
         .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]
    assert a == b and len(a) > 100

    # partition layout: conv_id_bucket dirs, aligned with the spec function
    import pyarrow.parquet as pq
    for f in ice.plan_files(out)[:4]:
        assert set(f["partition"]) == {"job_fingerprint", "conv_id_bucket"}
        rows = pq.read_table(f["file_path"], columns=["conv_id"]).to_pylist()
        assert all(ice.bucket_value(r["conv_id"], 8, "string")
                   == f["partition"]["conv_id_bucket"] for r in rows)
    # pruned scan returns exactly one bucket's conversations
    some_conv = got.select("conv_id").first().conv_id
    bb = ice.bucket_value(some_conv, 8, "string")
    pruned = ice.read_table(spark, out,
                            partition_filter={"conv_id_bucket": bb})
    convs = {r.conv_id for r in pruned.select("conv_id").distinct().collect()}
    assert some_conv in convs
    assert all(ice.bucket_value(c, 8, "string") == bb for c in convs)
    # layout is part of the job identity: bucket and identity runs of the
    # same config never share manifest rows
    from p_id_text_extraction_spark.config import DEFAULT_CONFIG
    from p_id_text_extraction_spark.plans.checkpoint import job_fingerprint
    assert job_fingerprint(DEFAULT_CONFIG, 8, "iceberg") != \
        job_fingerprint(DEFAULT_CONFIG, 8)


def test_iceberg_resume_matches_relational_plan(spark, tmp_path):
    """run_with_resume through the Iceberg catalog writes exactly the
    relational plan's spans."""
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
    turns = transcripts_df(spark, gen_turns(25, max_turns=8, seed=5))
    run_with_resume(spark, turns, str(tmp_path / "ice"), str(tmp_path / "icem"),
                    n_buckets=4, catalog="iceberg")
    a = [tuple(r) for r in extract_pipeline(turns).orderBy(*KEY).collect()]
    b = [tuple(r) for r in ice.read_table(spark, str(tmp_path / "ice"))
         .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]
    assert a == b and a


def test_commit_conflict_surfaces_not_lost(spark, table):
    """Optimistic concurrency: two committers racing from the same base
    version must not silently drop one snapshot -- the loser gets
    CommitConflictError (the version file is claimed atomically), and the
    winner's commit stays intact."""
    base = ice.load_metadata(table)
    winner = ice.append_files(table, [])   # claims v3
    with pytest.raises(ice.CommitConflictError, match="already committed"):
        # a racer that read `base` before the winner committed re-derives
        # the same next version number and must lose the claim
        ice._commit_snapshot(table, base, [], winner["snapshot-id"] + 99,
                             base["last-sequence-number"] + 1, "append")
    meta = ice.load_metadata(table)
    assert meta["current-snapshot-id"] == winner["snapshot-id"]
    assert ice.read_table(spark, table).count() == 20   # data intact


def test_expire_snapshots_gc(spark, table):
    """Snapshot expiration: expired history becomes unreadable, files no
    surviving snapshot references are deleted from disk (including data
    files replaced by an overwrite), and live reads are byte-identical
    before/after."""
    ice.write_dataframe(_df(spark, [("z1", 2, "new")]), table,
                        mode="overwrite_partitions", replaced=[{"bucket_id": 2}])
    ice.write_dataframe(_df(spark, [("w1", 0, "more")]), table, mode="append")
    snaps = ice.snapshot_ids(table)
    assert len(snaps) == 3
    before = sorted(map(tuple, ice.read_table(spark, table).collect()))
    # replaced bucket-2 files are still on disk (time travel needs them)
    old_files = {f["file_path"] for f in ice.plan_files(table, snapshot_id=snaps[0])}
    assert all(os.path.isfile(p) for p in old_files)

    counts = ice.expire_snapshots(table, keep_last=1)
    assert counts["snapshots"] == 2 and counts["manifest_lists"] == 2
    assert counts["data_files"] > 0   # the replaced bucket-2 originals
    assert ice.snapshot_ids(table) == [snaps[-1]]
    assert sorted(map(tuple, ice.read_table(spark, table).collect())) == before
    with pytest.raises(ValueError, match="unknown snapshot"):
        ice.read_table(spark, table, snapshot_id=snaps[0]).collect()
    # files still referenced by the kept snapshot survive on disk
    live = {f["file_path"] for f in ice.plan_files(table)}
    assert all(os.path.isfile(p) for p in live)
    # idempotent: nothing left to expire
    again = ice.expire_snapshots(table, keep_last=1)
    assert again == {"snapshots": 0, "manifest_lists": 0, "manifests": 0, "data_files": 0}


def test_schema_evolution_add_column(spark, table):
    """add_column bumps the schema version; files written BEFORE the
    evolution project the new column as null (schema-stable reads), files
    written after carry real values, and the name mapping covers the new
    field id."""
    ice.add_column(table, "score", "double")
    meta = ice.load_metadata(table)
    assert meta["current-schema-id"] == 1 and len(meta["schemas"]) == 2
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert any(m["names"] == ["score"] for m in mapping)

    newer = spark.createDataFrame([("n1", 0, "scored", 0.75)],
                                  "conv_id string, bucket_id int, text string, score double")
    ice.write_dataframe(newer, table, mode="append")
    df = ice.read_table(spark, table)
    # Spark appends discovered partition columns after the data schema
    assert df.columns == ["conv_id", "text", "score", "bucket_id"]
    rows = {r.conv_id: r.score for r in df.collect()}
    assert rows["n1"] == 0.75
    assert all(v is None for k, v in rows.items() if k != "n1")   # pre-evolution files
    assert df.count() == 21


def test_incremental_scan_between_snapshots(spark, table):
    """plan_files_incremental returns exactly the files added after the
    cursor snapshot and still live: appends show up, carried-forward
    history does not, overwritten-within-range files drop out."""
    s1 = ice.load_metadata(table)["current-snapshot-id"]
    ice.write_dataframe(_df(spark, [("n1", 1, "batch2"), ("n2", 2, "batch2")]),
                        table, mode="append")
    s2 = ice.load_metadata(table)["current-snapshot-id"]
    inc = ice.plan_files_incremental(table, from_snapshot=s1)
    assert sum(f["record_count"] for f in inc) == 2
    # cursor at s2: nothing new yet
    assert ice.plan_files_incremental(table, from_snapshot=s2) == []
    # an overwrite replacing partition 2 WITHIN the range: n2's file is no
    # longer live at the end snapshot, the replacement is
    ice.write_dataframe(_df(spark, [("r1", 2, "repl")]), table,
                        mode="overwrite_partitions", replaced=[{"bucket_id": 2}])
    inc2 = ice.plan_files_incremental(table, from_snapshot=s1)
    rows = sorted(r.conv_id for f in inc2 for r in
                  spark.read.parquet(f["file_path"]).collect())
    assert rows == ["n1", "r1"]
    # bounded range [s1, s2] still sees the pre-overwrite pair
    inc3 = ice.plan_files_incremental(table, from_snapshot=s1, to_snapshot=s2)
    assert sum(f["record_count"] for f in inc3) == 2


def test_column_bounds_data_skipping(spark, tmp_path):
    """Manifests record per-file column bounds from the parquet footers;
    a range filter prunes files at PLANNING time (no parquet opened) and
    the surviving files still contain every matching row."""
    path = str(tmp_path / "btbl")
    df = spark.createDataFrame(
        [(i, f"c{i:04d}", i * 10) for i in range(40)],
        "seq long, conv_id string, score long")
    ice.create_table(path, df.schema)
    # two appends -> multiple files with disjoint-ish seq ranges
    ice.write_dataframe(df.filter("seq < 20").repartition(2, "seq"), path, mode="append")
    ice.write_dataframe(df.filter("seq >= 20").repartition(2, "seq"), path, mode="append")
    all_files = ice.plan_files(path)
    assert all(f.get("lower_bounds") and f.get("upper_bounds") for f in all_files)

    planned = ice.plan_files(path, column_range_filter={"seq": (35, 39)})
    assert 0 < len(planned) < len(all_files)   # skipped at planning time
    got = sorted(r.seq for f in planned for r in
                 spark.read.parquet(f["file_path"]).filter("seq BETWEEN 35 AND 39").collect())
    assert got == list(range(35, 40))
    # string bounds work too
    planned_s = ice.plan_files(path, column_range_filter={"conv_id": ("c0000", "c0001")})
    assert 0 < len(planned_s) < len(all_files)
    # the table-level read API applies the same pruning, semantics intact
    got_rd = ice.read_table(spark, path, column_range_filter={"seq": (35, 39)})
    assert sorted(r.seq for r in got_rd.filter("seq BETWEEN 35 AND 39").collect()) \
        == list(range(35, 40))
    with pytest.raises(ValueError, match="no bound-typed column"):
        ice.plan_files(path, column_range_filter={"nope": (1, 2)})


def test_avro_io_fuzz_roundtrip_vs_jvm(spark, tmp_path):
    """Seeded fuzz over the Avro subset the format layer uses (records,
    arrays, maps, unions, all primitives, nesting): python round-trip must
    be exact AND the independent JVM implementation must read the same
    records -- binary-format compliance on arbitrary data, not just the
    manifest shapes."""
    import random
    rng = random.Random(42)
    schema = {
        "type": "record", "name": "fuzz",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": "string"},
            {"name": "raw", "type": "bytes"},
            {"name": "maybe", "type": ["null", "long"], "default": None},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "kv", "type": {"type": "map", "values": "long"}},
            {"name": "nested", "type": ["null", {"type": "record", "name": "inner", "fields": [
                {"name": "xs", "type": {"type": "array", "items": "long"}}]}], "default": None},
        ],
    }

    def rec():
        return {
            "i": rng.randint(-2**31, 2**31 - 1),
            "l": rng.randint(-2**62, 2**62),
            "d": rng.random() * 1e6 - 5e5,
            "b": rng.random() < 0.5,
            "s": "".join(chr(rng.randint(32, 0x2FFF)) for _ in range(rng.randint(0, 12))),
            "raw": bytes(rng.randint(0, 255) for _ in range(rng.randint(0, 16))),
            "maybe": None if rng.random() < 0.3 else rng.randint(-10**12, 10**12),
            "tags": [f"t{rng.randint(0, 99)}" for _ in range(rng.randint(0, 5))],
            "kv": {f"k{j}": rng.randint(-10**9, 10**9) for j in range(rng.randint(0, 4))},
            "nested": None if rng.random() < 0.5
                      else {"xs": [rng.randint(-9, 9) for _ in range(rng.randint(0, 6))]},
        }

    records = [rec() for _ in range(200)]
    path = str(tmp_path / "fuzz.avro")
    avro_io.write_container(path, schema, records, metadata={"k": "v"})
    _s, back, meta = avro_io.read_container(path)
    assert back == records and meta["k"] == "v"

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader())
    n = 0
    while reader.hasNext():
        got = json.loads(str(reader.next()))
        want = records[n]
        assert got["i"] == want["i"] and got["l"] == want["l"] and got["b"] == want["b"]
        assert got["s"] == want["s"] and got["tags"] == want["tags"] and got["kv"] == want["kv"]
        assert got["raw"] == want["raw"].decode("latin-1")
        assert got["maybe"] == want["maybe"] and got["nested"] == want["nested"]
        assert abs(got["d"] - want["d"]) < 1e-9 * max(1.0, abs(want["d"]))
        n += 1
    reader.close()
    assert n == len(records)


# ---------------------------------------------------------------------------
# position deletes + field-id stamping (round 4)
# ---------------------------------------------------------------------------

def test_position_deletes_anti_apply(spark, table):
    """A synthetic position-delete file against a data file removes exactly
    the targeted rows; later appends (data seq > delete seq) are immune;
    time travel to the pre-delete snapshot still sees every row."""
    pre = ice.load_metadata(table)["current-snapshot-id"]
    files = ice.plan_files(table)
    target = files[0]["file_path"]
    n_target = files[0]["record_count"]
    assert n_target >= 2
    # delete rows 0 and n-1 of the target file, plus a bogus pos (ignored)
    ice.add_position_deletes(table, [(target, 0), (target, n_target - 1),
                                     (target, 10_000)])
    got = ice.read_table(spark, table)
    assert got.count() == 20 - 2
    # the surviving rows of the target file are its middle rows
    import pyarrow.parquet as pq
    raw = pq.read_table(target).to_pylist()
    survivors = {r["conv_id"] for r in raw[1:n_target - 1]}
    part_val = files[0]["partition"]["bucket_id"]
    read_back = {r.conv_id for r in got.where(f"bucket_id = {part_val}").collect()
                 if r.conv_id in {x["conv_id"] for x in raw}}
    assert read_back == survivors
    # time travel: the pre-delete snapshot is untouched
    assert ice.read_table(spark, table, snapshot_id=pre).count() == 20
    # a file appended AFTER the delete has data seq > delete seq: even a
    # delete row textually matching its path/pos must not apply
    ice.write_dataframe(_df(spark, [("zz0", 9, "late"), ("zz1", 9, "late")]),
                        table, mode="append")
    late = [f for f in ice.plan_files(table) if "bucket_id=9" in f["file_path"]]
    assert late and late[0]["_seq"] > max(
        d["_seq"] for d in ice.plan_delete_files(table))
    assert ice.read_table(spark, table).count() == 20 - 2 + 2


def test_equality_deletes_anti_apply(spark, table):
    """A synthetic EQUALITY-delete file (content=2) removes every live row
    matching its key values; data appended at seq >= the delete's is
    immune (strict < applicability, unlike position deletes' <=); time
    travel still sees the pre-delete snapshot; null key values match null
    data values."""
    pre = ice.load_metadata(table)["current-snapshot-id"]
    # a row with NULL text to pin null-matches-null semantics
    ice.write_dataframe(_df(spark, [("cn", 2, None)]), table, mode="append")
    ice.add_equality_deletes(
        table, [{"conv_id": "c3"}, {"conv_id": "c17"}, {"conv_id": "nope"}],
        ["conv_id"])
    got = ice.read_table(spark, table)
    ids = {r.conv_id for r in got.collect()}
    assert "c3" not in ids and "c17" not in ids and got.count() == 21 - 2
    # multi-column key incl. a NULL value: deletes ONLY (cn, null)
    ice.add_equality_deletes(table, [{"conv_id": "cn", "text": None}],
                             ["conv_id", "text"])
    ids = {r.conv_id for r in ice.read_table(spark, table).collect()}
    assert "cn" not in ids and len(ids) == 21 - 3
    # rows appended at seq >= the delete's are immune even if key-matching
    ice.write_dataframe(_df(spark, [("c3", 3, "reborn")]), table, mode="append")
    again = ice.read_table(spark, table)
    assert {r.text for r in again.where("conv_id = 'c3'").collect()} == {"reborn"}
    # time travel: pre-delete snapshot untouched
    assert ice.read_table(spark, table, snapshot_id=pre).count() == 20
    # compaction physically erases equality-deleted rows as well
    stats = ice.compact_partitions(spark, table, min_files=1,
                                   small_file_bytes=1 << 30)
    assert stats["partitions"] >= 1
    ids2 = {r.conv_id for r in ice.read_table(spark, table).collect()}
    assert "c17" not in ids2 and "cn" not in ids2 and "c3" in ids2


def test_position_deletes_dropped_with_partition_overwrite(spark, table):
    """Overwriting a partition drops its position-delete manifest entries
    along with the data files (a stale delete must never survive to stab
    the partition's replacement rows)."""
    files = ice.plan_files(table, partition_filter={"bucket_id": 2})
    ice.add_position_deletes(table, [(files[0]["file_path"], 0)])
    n_after_del = ice.read_table(spark, table).count()
    assert n_after_del == 19
    ice.write_dataframe(_df(spark, [("r0", 2, "new"), ("r1", 2, "new")]),
                        table, mode="overwrite_partitions",
                        replaced=[{"bucket_id": 2}])
    # partition 2 had 5 rows (i=2,6,10,14,18): 20-5+2 = 17, and the delete
    # targeting the dropped file must not subtract anything
    assert ice.read_table(spark, table).count() == 17
    assert ice.read_table(spark, table, partition_filter={"bucket_id": 2}).count() == 2


def test_equality_delete_planning_carries_ids(spark, table):
    """plan_delete_files surfaces both delete kinds with their content and
    the equality_ids the read path dispatches on; unknown columns refuse
    loudly at write time."""
    files = ice.plan_files(table)
    ice.add_position_deletes(table, [(files[0]["file_path"], 0)])
    ice.add_equality_deletes(table, [{"conv_id": "c1"}], ["conv_id"])
    dels = ice.plan_delete_files(table)
    assert sorted(d.get("content", 1) for d in dels) == [1, 2]
    eq = next(d for d in dels if d.get("content") == 2)
    meta = ice.load_metadata(table)
    conv_fid = next(f["id"] for f in
                    meta["schemas"][meta["current-schema-id"]]["fields"]
                    if f["name"] == "conv_id")
    assert eq["equality_ids"] == [conv_fid]
    with pytest.raises(ValueError, match="not in table schema"):
        ice.add_equality_deletes(table, [{"ghost": 1}], ["ghost"])


def test_parquet_field_ids_stamped(spark, table):
    """Data files written through write_dataframe carry PARQUET:field_id
    matching spark_schema_to_iceberg's assignment -- a real Iceberg
    runtime reads them without the name-mapping fallback."""
    import pyarrow.parquet as pq
    meta = ice.load_metadata(table)
    want = {f["name"]: f["id"]
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]}
    files = ice.plan_files(table)
    assert files
    for f in files:
        asch = pq.read_schema(f["file_path"])
        got = {fld.name: int(fld.metadata[b"PARQUET:field_id"])
               for fld in asch if fld.metadata and b"PARQUET:field_id" in fld.metadata}
        # partition column lives in the directory, not the file
        for name, fid in got.items():
            assert want[name] == fid, (f["file_path"], name, fid, want)
        assert set(got) == set(want) - {"bucket_id"}


def test_racing_writers_stage_independently(spark, table):
    """Two writers staging from the same base metadata must never share a
    staging dir or collide on moved data-file names (Spark's overwrite
    mode would delete the other's staged files mid-move): both stagings
    complete with disjoint file sets, and only the metadata commit is the
    contention point."""
    meta = ice.load_metadata(table)
    seq_tag = f"{meta['last-sequence-number'] + 1:05d}"
    dfa = _df(spark, [("ra", 5, "writer a")])
    dfb = _df(spark, [("rb", 5, "writer b")])
    files_a = ice._stage_datafiles(dfa, table, ("bucket_id",), seq_tag)
    files_b = ice._stage_datafiles(dfb, table, ("bucket_id",), seq_tag)
    paths_a = {f["file_path"] for f in files_a}
    paths_b = {f["file_path"] for f in files_b}
    assert paths_a and paths_b and not (paths_a & paths_b)
    for p in paths_a | paths_b:
        assert os.path.isfile(p)    # neither staging clobbered the other
    # both commit as appends: version claims serialize them, rows add up
    ice.append_files(table, files_a)
    ice.append_files(table, files_b)
    got = ice.read_table(spark, table, partition_filter={"bucket_id": 5})
    assert {r.conv_id for r in got.collect()} == {"ra", "rb"}


def test_boolean_partition_values_roundtrip(spark, tmp_path):
    """Boolean identity partitions: directory values parse back to typed
    bools (a raw 'false' string would Avro-encode as TRUE and break
    overwrite matching)."""
    path = str(tmp_path / "btab")
    df = spark.createDataFrame(
        [(1, True, "t1"), (2, False, "f1"), (3, False, "f2")],
        "id bigint, flag boolean, text string")
    ice.create_table(path, df.schema, partition_cols=("flag",))
    ice.write_dataframe(df, path, mode="append")
    parts = {f["partition"]["flag"] for f in ice.plan_files(path)}
    assert parts == {True, False}
    assert ice.read_table(spark, path, partition_filter={"flag": False}).count() == 2
    # overwrite the False partition -- typed comparison must match it
    ice.write_dataframe(
        spark.createDataFrame([(9, False, "new")], df.schema),
        path, mode="overwrite_partitions", replaced=[{"flag": False}])
    assert ice.read_table(spark, path, partition_filter={"flag": False}).count() == 1
    assert ice.read_table(spark, path).count() == 2


def test_compact_partitions(spark, table):
    """Small-file compaction: accreted per-partition files collapse to one,
    rows are byte-identical, deleted rows are PHYSICALLY erased from the
    rewritten files, and pinned readers still see the pre-compaction
    snapshot."""
    # accrete small files: three extra appends into bucket 1
    for i in range(3):
        ice.write_dataframe(_df(spark, [(f"x{i}", 1, f"extra {i}")]),
                            table, mode="append")
    # and a position delete against one bucket-1 file
    f1 = [f for f in ice.plan_files(table) if "bucket_id=1" in f["file_path"]]
    assert len(f1) >= 4
    ice.add_position_deletes(table, [(f1[0]["file_path"], 0)])
    pre_snap = ice.load_metadata(table)["current-snapshot-id"]
    before = sorted(map(tuple, ice.read_table(spark, table).collect()))

    stats = ice.compact_partitions(spark, table, min_files=2)
    assert stats["partitions"] >= 1 and stats["files_after"] < stats["files_before"]
    after = sorted(map(tuple, ice.read_table(spark, table).collect()))
    assert after == before                      # logical rows unchanged
    f1b = [f for f in ice.plan_files(table) if "bucket_id=1" in f["file_path"]]
    assert len(f1b) == 1                        # one file per compacted partition
    # the deleted row is gone from the PHYSICAL file now
    import pyarrow.parquet as pq
    raw = pq.read_table(f1b[0]["file_path"])
    n_live = ice.read_table(spark, table, partition_filter={"bucket_id": 1}).count()
    assert raw.num_rows == n_live
    # time travel to the pre-compaction snapshot still works
    assert sorted(map(tuple, ice.read_table(
        spark, table, snapshot_id=pre_snap).collect())) == before


def test_bucket_transform_spec_vectors():
    """murmur3_x86_32 + bucket serialization must match the Iceberg spec's
    published appendix-B test vectors (int promotes to long, little-endian
    8 bytes; strings hash UTF-8 bytes)."""
    import struct

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x
    assert signed(ice.murmur3_32(struct.pack("<q", 34))) == 2017239379
    assert signed(ice.murmur3_32(b"iceberg")) == 1210000089
    assert ice.bucket_value(None, 8, "string") is None
    assert 0 <= ice.bucket_value("conv", 8, "string") < 8
    # int and long sources agree (promotion rule)
    assert ice.bucket_value(34, 16, "int") == ice.bucket_value(34, 16, "long")


def test_bucket_partitioned_table_write_read_prune_overwrite(spark, tmp_path):
    """Hidden bucket[N] partitioning: the source column stays a data
    column, the murmur3 bucket exists only as the directory layout; scans
    prune by bucket value; overwrite-partitions by bucket drops exactly
    that bucket's rows; compaction re-derives the hidden columns."""
    path = str(tmp_path / "btab")
    df = spark.createDataFrame([(f"conv{i}", i, f"t{i}") for i in range(40)],
                               "conv_id string, n bigint, text string")
    ice.create_table(path, df.schema, partition_cols=("bucket(conv_id, 8)",))
    ice.write_dataframe(df, path, mode="append")
    files = ice.plan_files(path)
    buckets = {f["partition"]["conv_id_bucket"] for f in files}
    assert buckets <= set(range(8)) and len(buckets) > 1
    got = ice.read_table(spark, path)
    assert got.columns == ["conv_id", "n", "text"]   # no hidden col leaks
    assert got.count() == 40
    # every file's dir bucket matches the spec function of its rows
    import pyarrow.parquet as pq
    for f in files[:6]:
        rows = pq.read_table(f["file_path"], columns=["conv_id"]).to_pylist()
        assert all(ice.bucket_value(r["conv_id"], 8, "string")
                   == f["partition"]["conv_id_bucket"] for r in rows)
    # scan pruning by bucket
    b = ice.bucket_value("conv7", 8, "string")
    pruned = ice.plan_files(path, partition_filter={"conv_id_bucket": b})
    assert 0 < len(pruned) < len(files)
    convs = {r.conv_id for r in ice.read_table(
        spark, path, partition_filter={"conv_id_bucket": b}).collect()}
    assert "conv7" in convs
    assert all(ice.bucket_value(c, 8, "string") == b for c in convs)
    # overwrite ONE bucket partition: exactly its old rows vanish
    bx = ice.bucket_value("convX", 8, "string")
    ice.write_dataframe(spark.createDataFrame([("convX", 99, "new")], df.schema),
                        path, mode="overwrite_partitions",
                        replaced=[{"conv_id_bucket": bx}])
    survivors = {r.conv_id for r in ice.read_table(spark, path).collect()}
    dropped = {f"conv{i}" for i in range(40)
               if ice.bucket_value(f"conv{i}", 8, "string") == bx}
    assert "convX" in survivors and not (dropped & survivors)
    # compaction re-derives the hidden bucket columns for its rewrite
    before = sorted(map(tuple, ice.read_table(spark, path).collect()))
    stats = ice.compact_partitions(spark, path, min_files=2,
                                   small_file_bytes=1 << 30)
    assert stats["partitions"] >= 1
    assert sorted(map(tuple, ice.read_table(spark, path).collect())) == before


def test_compact_null_partition_keeps_rows(spark, tmp_path):
    """A null-valued partition (__HIVE_DEFAULT_PARTITION__) must survive
    compaction with its rows intact: `col == None` evaluates to NULL and
    would rewrite the partition as EMPTY -- the filter must use null-safe
    equality."""
    path = str(tmp_path / "ntab")
    df_schema = "id bigint, grp string, text string"
    ice.create_table(path, spark.createDataFrame([], df_schema).schema,
                     partition_cols=("grp",))
    for i in range(3):          # accrete small files in the NULL partition
        ice.write_dataframe(
            spark.createDataFrame([(i, None, f"null part {i}"),
                                   (100 + i, "a", f"a part {i}")], df_schema),
            path, mode="append")
    before = sorted(map(tuple, ice.read_table(spark, path).collect()))
    assert sum(1 for r in ice.read_table(spark, path).collect()
               if r.grp is None) == 3
    stats = ice.compact_partitions(spark, path, min_files=2)
    assert stats["partitions"] == 2
    after = sorted(map(tuple, ice.read_table(spark, path).collect()))
    assert after == before      # null-partition rows NOT lost
    null_files = [f for f in ice.plan_files(path)
                  if f["partition"]["grp"] is None]
    assert len(null_files) == 1


def test_failed_write_leaves_nothing_behind(spark, table):
    """A write whose task raises commits no snapshot and leaves no data
    file and no staging directory under the table: the failing task
    deletes what it wrote, the driver every file of the write that other
    tasks finished, and a cancelled task still running deletes its own
    files once it finds the write's live marker gone."""
    import time

    from pyspark.sql import functions as F

    def files():
        return {os.path.join(r, n) for r, _d, names in os.walk(table) for n in names}

    before, snaps = files(), ice.snapshot_ids(table)
    df = (_df(spark, [(f"f{i}", i % 4, f"text {i}") for i in range(400)]).repartition(4)
          .withColumn("text", F.when(F.col("conv_id") == "f317", F.raise_error(F.lit("boom")))
                      .otherwise(F.col("text"))))
    with pytest.raises(Exception, match="boom"):
        ice.write_dataframe(df, table)
    deadline = time.time() + 30   # cancelled tasks finish in the background
    while files() != before and time.time() < deadline:
        time.sleep(0.1)
    assert files() == before
    assert ice.snapshot_ids(table) == snaps
    assert not [d for d in os.listdir(table) if d.startswith("_staging")]


def test_task_attempts_across_stage_attempts_keep_their_files(tmp_path, monkeypatch):
    """Spark restarts attemptNumber at 0 in each stage attempt, so a task
    still running from a failed stage attempt and its rerun share
    partitionId and attemptNumber.  Their files are named by the task
    attempt id: the names differ, and one attempt's abort deletes only
    its own files."""
    import pickle

    import pyarrow as pa
    from pyspark import TaskContext

    class Ctx:
        def __init__(self, tid):
            self.tid = tid

        def partitionId(self):
            return 3

        def attemptNumber(self):
            return 0

        def taskAttemptId(self):
            return self.tid

    data_dir, tag = str(tmp_path / "data"), "00001-abc"
    os.makedirs(data_dir)
    open(ice._live_marker(data_dir, tag), "w").close()
    fields = {"id": {"id": 1, "name": "id", "required": False, "type": "long"},
              "grp": {"id": 2, "name": "grp", "required": False, "type": "string"}}
    batch = pa.record_batch([pa.array([1, 2], pa.int64()), pa.array(["a", "a"])],
                            names=["id", "grp"])

    def run(tid, batches):
        monkeypatch.setattr(TaskContext, "get", staticmethod(lambda: Ctx(tid)))
        write = ice._task_writer(data_dir, tag, ("grp",), fields, {"grp": "string"})
        return {pickle.loads(d)["file_path"]
                for b in write(batches) for d in b.column(0).to_pylist()}

    def failing():
        yield batch
        raise RuntimeError("task killed")

    paths_a, paths_b = run(7, iter([batch])), run(9, iter([batch]))
    assert paths_a and paths_b and not (paths_a & paths_b)
    with pytest.raises(RuntimeError, match="task killed"):
        run(11, failing())
    left = {os.path.join(r, n) for r, _d, names in os.walk(data_dir)
            for n in names if n.endswith(".parquet")}
    assert left == paths_a | paths_b


def test_task_file_buffers_batches_into_one_row_group(tmp_path):
    """A file written from many Arrow batches holds them in one row group
    (up to _ROW_GROUP_BYTES), not one row group per batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    batches = [pa.record_batch([pa.array(range(i * 10, i * 10 + 10), pa.int64())], names=["id"])
               for i in range(5)]
    path = str(tmp_path / "f.parquet")
    d = ice._write_file(path, batches[0].schema, iter(batches),
                        {"id": {"id": 1, "name": "id", "required": False, "type": "long"}})
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    assert d["record_count"] == 50
    assert pq.read_table(path).column("id").to_pylist() == list(range(50))
    assert [ice.decode_bound(e["value"], "long") for e in d["lower_bounds"] + d["upper_bounds"]] \
        == [0, 49]


def _data_dirs(root):
    return {os.path.relpath(r, root) for r, _d, names in os.walk(root)
            if any(n.endswith(".parquet") for n in names)}


@pytest.mark.parametrize("ddl,partition,rows", [
    ("id bigint, grp string, text string", "grp",
     [(i, g, f"t{i}") for i, g in enumerate(["a/b", "k=v", "50%", "sp ace", "é", None, "x"])]),
    ("id bigint, flag boolean, text string", "flag",
     [(1, True, "t"), (2, False, "f"), (3, False, "g"), (4, None, "n")]),
    ("conv_id string, id bigint, text string", "bucket(conv_id, 4)",
     [(f"conv{i}", i, f"t{i}") for i in range(12)]),
], ids=["escaped_and_null", "boolean", "bucket"])
def test_partition_values_roundtrip(spark, tmp_path, ddl, partition, rows):
    """The tasks write the directories Spark's partitionBy writes for the
    same rows (escaping, NULL, booleans, hidden bucket values); read_table
    and overwrite_partitions see the typed values back."""
    df = spark.createDataFrame(rows, ddl)
    path = str(tmp_path / "t")
    ice.create_table(path, df.schema, partition_cols=(partition,))
    ice.write_dataframe(df, path)
    spark_df = ice._with_partition_cols(df, ice.load_metadata(path))
    part_col = spark_df.columns[-1] if partition.startswith("bucket(") else partition
    spark_df.write.partitionBy(part_col).parquet(str(tmp_path / "spark"))
    assert _data_dirs(os.path.join(path, "data")) == _data_dirs(str(tmp_path / "spark"))

    def read():
        return sorted(map(tuple, ice.read_table(spark, path).select(*df.columns).collect()),
                      key=repr)

    assert read() == sorted(rows, key=repr)
    # replace every partition with its own rows: the typed values must
    # match the committed ones, or the old files would survive beside the new
    replaced = [dict(t) for t in {tuple(f["partition"].items()) for f in ice.plan_files(path)}]
    assert len(replaced) > 1
    ice.write_dataframe(df, path, mode="overwrite_partitions", replaced=replaced)
    assert read() == sorted(rows, key=repr)


def test_long_string_column_gets_no_bound(spark, tmp_path):
    """A string column whose min and max together reach 4096 bytes gets
    no bounds (pyarrow's footer would report the 10000-byte max as '');
    a range filter over the long value still returns its row."""
    path = str(tmp_path / "long")
    df = spark.createDataFrame([(1, "z" * 10000), (2, "b")], "id bigint, text string").coalesce(1)
    ice.create_table(path, df.schema)
    ice.write_dataframe(df, path)
    [f] = ice.plan_files(path)
    assert f["record_count"] == 2
    assert [e["key"] for e in f["lower_bounds"]] == [e["key"] for e in f["upper_bounds"]] == [1]
    got = ice.read_table(spark, path, column_range_filter={"text": ("y", "zz")})
    assert 1 in {r.id for r in got.collect()}


def test_done_set_read_on_driver_honours_deletes(spark, tmp_path):
    """An Iceberg manifest without delete files is read on the driver; one
    with a position delete falls back to read_table, and the deleted
    manifest row's bucket is no longer done."""
    import pyarrow.parquet as pq

    from p_id_text_extraction_spark.plans.checkpoint import completed_buckets
    turns = transcripts_df(spark, gen_turns(20, max_turns=4, seed=2))
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    r = run_with_resume(spark, turns, out, man, n_buckets=8, bucket_filter=[0, 1, 2, 3],
                        catalog="iceberg")
    assert completed_buckets(spark, man, r["fingerprint"]) == {0, 1, 2, 3}
    assert completed_buckets(spark, man, "other") == set()
    [f] = ice.plan_files(man)
    pos = pq.read_table(f["file_path"]).column("bucket_id").to_pylist().index(2)
    ice.add_position_deletes(man, [(f["file_path"], pos)])
    assert completed_buckets(spark, man, r["fingerprint"]) == {0, 1, 3}
