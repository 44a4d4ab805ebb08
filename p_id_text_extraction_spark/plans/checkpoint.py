"""Checkpoint manifest + idempotent anti-join resume (SURVEY.md J7).

The reference restarts at stage granularity (`--start-at`,
run_pipeline.py:336-341,368-387).  At 10^12-turn scale the unit of restart
is an input *bucket*: ``bucket_id = pmod(xxhash64(conv_id), n_buckets)``
(deterministic across runs -- xxhash64 is seed-stable).  A manifest table
records each completed (bucket_id, job_fingerprint) with lineage counters
(FIXTURES.md section 3); resume re-processes only missing buckets.

The resume anti-join is evaluated on the driver: the done set holds at
most ``n_buckets`` ids, so it is collected (no Spark job when there is no
manifest yet), subtracted from ``range(n_buckets)``, and the remainder
reaches the scan as ONE ``bucket_id IN (...)`` predicate.  A Spark-side
left-anti join against the done set would add an exchange that shuffles
every todo turn's text before the kernel, for a table of <= n_buckets
rows.

Idempotence and isolation rules:
  * the fingerprint covers config AND n_buckets -- a manifest row can never
    satisfy a numerically-equal bucket id from a different bucketing;
  * output is partitioned by (job_fingerprint, bucket_id), so runs with
    different configs never share partition directories and a config change
    can never surface another config's stale rows;
  * the spans write replaces exactly the todo buckets' partitions, named
    explicitly -- a bucket that died mid-write is fully rewritten on retry,
    and a todo bucket that yields ZERO spans still ends up empty instead of
    retaining rows from an aborted earlier attempt;
  * counters are counted by the fused kernel while it extracts and ride
    an idempotent accumulator keyed by the kernel task's partition id, so
    they are exact under task retries and stage resubmission: the call
    caches nothing, runs no aggregate, never re-scans its input and never
    re-reads the output directory (at 100 TB a read-back is two extra full
    passes over everything ever written).

Both tables are partitioned parquet (``catalog='parquet'``) or
Iceberg-format tables (``catalog='iceberg'``, sources/iceberg_format.py),
with the same rows and the same retry semantics.
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.functions.udfs import FirstWinsParam, LineageCounts
from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
from p_id_text_extraction_spark.sources import iceberg as ice
from p_id_text_extraction_spark.sources.iceberg_format import bucket_transform_col, table_exists
from p_id_text_extraction_spark.util import has_file, make_dirs, replace_partitions

MANIFEST_COLUMNS = ["bucket_id", "job_fingerprint", "turns_in", "spans_out",
                    "classifier_drop_rate", "task_rows_max",
                    "task_rows_median", "input_probe", "completed_ts"]

MANIFEST_SCHEMA = ("bucket_id int, job_fingerprint string, turns_in long, "
                   "spans_out long, classifier_drop_rate double, "
                   "task_rows_max long, task_rows_median long, "
                   "input_probe string, completed_ts timestamp")

# input_probe values: an audit trail for zero-turn buckets.  'counted'
# means the bucket's rows were observed directly; 'hash_empty_verified'
# means the bucket saw zero rows but THIS run positively observed input
# elsewhere (the global probe) -- so a later audit can distinguish a
# legitimately hash-empty bucket from one recorded complete while an
# eventually-consistent listing was hiding its files.
PROBE_COUNTED = "counted"
PROBE_HASH_EMPTY = "hash_empty_verified"


def job_fingerprint(cfg: ExtractConfig, n_buckets: int,
                    bucket_fn: str = "xxhash") -> str:
    """Run-identity hash: a manifest row only skips work for the exact same
    parameters (config singleton analogue, config_manager.py:9-109).
    ``n_buckets`` is part of the identity -- bucket id 3 of a 16-bucketing
    and bucket id 3 of a 256-bucketing cover different conversations.
    ``bucket_fn`` likewise: xxhash and iceberg-murmur3 bucketings assign
    the same id to different conversation sets (folded into the blob only
    when non-default, so historical fingerprints stay valid)."""
    import hashlib
    import json
    d = {**asdict(cfg), "n_buckets": n_buckets}
    if bucket_fn != "xxhash":
        d["bucket_fn"] = bucket_fn
    blob = json.dumps(d, sort_keys=True)
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def with_bucket(turns: DataFrame, n_buckets: int,
                bucket_fn: str = "xxhash") -> DataFrame:
    """Deterministic restart bucket.  'xxhash' (default): JVM-side
    pmod(xxhash64(conv_id), n) -- the cheap codegen path.  'iceberg': the
    spec's bucket[n](conv_id) murmur3 (Arrow-batched kernel), so the
    restart unit IS the spans table's hidden bucket partition and a
    retried bucket maps to exactly one overwritten partition."""
    if bucket_fn == "iceberg":
        return turns.withColumn(
            "bucket_id", bucket_transform_col("conv_id", n_buckets, "string"))
    return turns.withColumn("bucket_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, manifest_dir: str, fingerprint: str) -> set[int]:
    """Bucket ids already done for this fingerprint, read from whatever the
    manifest path holds: an Iceberg-format table through
    sources/iceberg.read_table, else partitioned parquet; empty if there is
    no manifest yet.  The parquet probe goes through the Hadoop FileSystem
    API, so a file://, hdfs:// or s3a:// manifest is found like a plain
    path."""
    if table_exists(manifest_dir):
        manifest = ice.read_table(spark, manifest_dir)
    elif has_file(spark, manifest_dir, ".parquet"):
        # the declared schema spares a schema-inference job over the footers
        manifest = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    else:
        return set()
    # one row per completed bucket: a plain collect, no distinct shuffle
    return {r.bucket_id for r in manifest.filter(F.col("job_fingerprint") == fingerprint)
            .select("bucket_id").collect()}


def run_with_resume(
    spark: SparkSession,
    turns: DataFrame,
    output_dir: str,
    manifest_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    bucket_filter: list[int] | None = None,
    catalog: str = "parquet",
    spans_layout: str = "identity",
) -> dict:
    """Run the pipeline over not-yet-completed buckets; append manifest rows.

    ``bucket_filter`` (tests only) simulates a run killed after finishing a
    subset of buckets.  The final shuffle before the write spreads the
    spans over the session's ``spark.sql.shuffle.partitions`` by
    (bucket_id, conv_id), NOT just bucket_id, so output parallelism
    tracks the cluster instead of collapsing to n_buckets tasks.

    The extraction is the fused map-only kernel
    (plans/pipeline.extract_pipeline_fused).  It also counts every
    manifest counter (turns and spans per bucket, spans per write
    partition, detected candidates) into an exact
    `functions.udfs.LineageCounts` accumulator, so the spans write is the
    call's only pass over the data.  With no todo bucket the call returns
    after the done-set collect without building any plan: nothing is
    written or committed.

    ``catalog``: the kind of table a new spans or manifest table gets,
    and so the spans write and the manifest append.  'parquet':
    partitioned parquet, spans written by ``util.replace_partitions``
    and the manifest by a Spark append.  'iceberg': Iceberg-format tables
    via sources/iceberg.py, spans written as one atomic
    overwrite-partitions snapshot and the manifest appended as a
    snapshot commit with isolation.  Either way the write replaces
    exactly the todo partitions, and the done set is read from whatever
    the manifest path holds (``completed_buckets``).

    ``spans_layout`` (iceberg only): 'identity' (default -- explicit
    bucket_id column, identity-partitioned) or 'bucket' (the north_rule's
    natural layout: spans partitioned by the SPEC's hidden
    ``bucket(conv_id, n_buckets)`` transform, no bucket_id data column;
    the restart bucketing switches to the same murmur3 function so one
    todo bucket == one overwritten table partition, and downstream
    per-conversation scans prune by bucket without any column).

    Returns the counter dict for the run.
    """
    if catalog not in ("parquet", "iceberg"):
        raise ValueError(f"unknown catalog {catalog!r}: use 'parquet' or 'iceberg'")
    if spans_layout not in ("identity", "bucket"):
        raise ValueError(f"unknown spans_layout {spans_layout!r}: use 'identity' or 'bucket'")
    if spans_layout == "bucket" and catalog != "iceberg":
        raise ValueError("spans_layout='bucket' requires catalog='iceberg' "
                         "(hidden partition transforms are an Iceberg concept)")
    bucket_fn = "iceberg" if spans_layout == "bucket" else "xxhash"
    fingerprint = job_fingerprint(cfg, n_buckets, bucket_fn)

    done_ids = completed_buckets(spark, manifest_dir, fingerprint)
    todo_ids = [b for b in range(n_buckets)
                if b not in done_ids and (bucket_filter is None or b in bucket_filter)]
    if not todo_ids:
        # fully resumed: no plan, no scan, no kernel, no commit, no manifest row
        return {"fingerprint": fingerprint, "buckets_completed": 0,
                "task_rows_max": 0, "task_rows_median": 0}
    # J7: the resume anti-join, applied as one predicate on the scan (one
    # parsed expression: Column.isin costs a py4j call per literal)
    in_todo = F.expr(f"bucket_id IN ({', '.join(map(str, todo_ids))})")
    n_write = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # write_pid is the partition id the write's HashPartitioning(bucket_id,
    # conv_id) gives a turn's spans, so the kernel can count the write
    # stage's rows per task without a pass over the spans
    todo = (with_bucket(turns, n_buckets, bucket_fn).filter(in_todo)
            .withColumn("write_pid", F.pmod(F.hash("bucket_id", "conv_id"), F.lit(n_write))))

    counter = spark.sparkContext.accumulator(LineageCounts(), FirstWinsParam())
    spans = (
        extract_pipeline_fused(todo, cfg, counter=counter)
        .withColumn("job_fingerprint", F.lit(fingerprint))
        .repartition(n_write, "bucket_id", "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx", "span_rank")
    )
    # hidden partitioning (layout 'bucket'): no bucket_id data column --
    # the table's bucket(conv_id, n) transform IS the bucketing, and the
    # restart bucket ids align by construction (same murmur3 function on
    # both sides)
    if spans_layout == "bucket":
        spans = spans.drop("bucket_id")
        partition_cols = ("job_fingerprint", f"bucket(conv_id, {n_buckets})")
        bucket_key = "conv_id_bucket"
    else:
        partition_cols = ("job_fingerprint", "bucket_id")
        bucket_key = "bucket_id"
    # the todo partitions are replaced EXPLICITLY, so a bucket retried to
    # zero spans still drops an aborted attempt's rows
    replaced = [{"job_fingerprint": fingerprint, bucket_key: b} for b in todo_ids]
    if catalog == "iceberg":
        ice.ensure_table(spark, output_dir, spans.schema, partition_cols)
        # one atomic overwrite-partitions snapshot: a reader never
        # observes a half-written state
        write_spans = ice.overwrite_span_partitions
    else:
        make_dirs(spark, output_dir)
        write_spans = replace_partitions
    write_spans(spans, output_dir, partition_cols, replaced)

    # lineage counters per completed bucket (FIXTURES.md section 3), all
    # counted by the kernel during the write.  The WRITE-STAGE SKEW
    # COUNTERS are the rows per non-empty task of the (bucket_id, conv_id)
    # write partitioning (a hot conversation concentrates its spans in
    # one task).
    counts = counter.value
    turns_in, per_bucket = counts.turns, counts.spans
    import statistics
    pp = list(counts.write_rows.values())
    task_rows_max = max(pp) if pp else 0
    task_rows_median = int(statistics.median(pp)) if pp else 0
    # classifier_drop_rate (candidates dropped by suppress/merge/crop vs
    # candidates detected -- the boxes-before/after ratio of
    # grouping_logic.py:978-983) is a run-level rate stamped on each
    # bucket row of this run.
    candidates_in = counts.candidates
    spans_total = sum(per_bucket.values())
    drop_rate = (candidates_in - spans_total) / candidates_in if candidates_in else 0.0

    from datetime import datetime, timezone
    now = datetime.now(timezone.utc)
    # every todo bucket this run COVERED gets a manifest row -- including
    # buckets the hash left empty (turns_in 0), otherwise sparse buckets
    # are re-cleared and re-scanned on every resume forever.  The only
    # skip: an INPUT with zero rows overall -- marking all buckets
    # complete off a misconfigured (empty) input path would poison later
    # resumes.  (turns_in empty but input non-empty = a resume whose
    # remaining todo buckets are all legitimately hash-empty: record them,
    # or the run livelocks re-clearing them forever.)
    record = bool(turns_in) or bool(turns.limit(1).count())
    manifest_rows = [
        (b, fingerprint, int(turns_in.get(b, 0)), int(per_bucket.get(b, 0)), float(drop_rate),
         int(task_rows_max), int(task_rows_median),
         PROBE_COUNTED if turns_in.get(b, 0) else PROBE_HASH_EMPTY, now)
        for b in sorted(todo_ids)
    ] if record else []
    if manifest_rows:
        if catalog == "iceberg":
            # <= n_buckets rows already on the driver: a snapshot-isolated
            # append that runs no Spark job on a format table
            schema = StructType.fromDDL(MANIFEST_SCHEMA)
            ice.ensure_table(spark, manifest_dir, schema)
            ice.append_rows(spark, manifest_rows, schema, manifest_dir)
        else:
            # a Spark write, so any Hadoop URI works
            (spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA)
             .write.mode("append").parquet(manifest_dir))

    return {"fingerprint": fingerprint, "buckets_completed": len(manifest_rows),
            "task_rows_max": int(task_rows_max),
            "task_rows_median": int(task_rows_median)}
