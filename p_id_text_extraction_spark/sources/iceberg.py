"""Iceberg table source/sink (production path; SURVEY.md S1/S6).

The north_rule input is an Iceberg table partitioned by
``bucket(16, conv_id)``.  Three tiers, probed in order per call:

  1. a PATH holding an Iceberg-format table (metadata/version-hint.text
     present; a relative path counts and is made absolute):
     sources/iceberg_format.py -- a pure-Python implementation
     of table format v2 from the public spec (Avro manifests + manifest
     lists, snapshot commits via the Hadoop-catalog version-hint
     protocol, partition-pruned scan planning, overwrite-partitions
     retry semantics).  This branch EXECUTES end-to-end in the sandbox
     (tests/test_iceberg_format.py, incl. resume) and its Avro binaries
     are cross-verified against the JVM org.apache.avro implementation.
  2. Iceberg Spark runtime on the classpath + a catalog TABLE NAME (no
     '/'): the real ``writeTo().append() / overwritePartitions()`` and
     ``format('iceberg')`` reads.  The runtime jar is not bundled, so
     this branch is covered by mocked-classpath tests.
  3. plain parquet fallback with identical write semantics.

Production notes (the parts that matter at 10^12 turns):
  * reads prune on bucket(conv_id) + days(ts) partitions, plus column
    pruning and parquet row-group skipping -- Catalyst pushes our filters
    automatically because the pipeline is declarative;
  * retried buckets use overwrite-partitions, which drops a replaced
    partition's old files even when the retry lands ZERO rows -- the
    semantics plans/checkpoint.py needs for idempotent resume;
  * the checkpoint manifest is a normal (small) Iceberg table -- its
    snapshot isolation is what makes concurrent resume attempts safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from p_id_text_extraction_spark.sources import iceberg_format

_HAS_ICEBERG: bool | None = None


def has_iceberg(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    global _HAS_ICEBERG
    if _HAS_ICEBERG is None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            _HAS_ICEBERG = True
        except Exception:  # noqa: BLE001 - Py4J wraps ClassNotFound opaquely
            _HAS_ICEBERG = False
    return _HAS_ICEBERG


def _format_table(table_or_path: str) -> str | None:
    """The absolute path of the Iceberg-format table at ``table_or_path``,
    or None.  A relative path is a path like any other: the format layer
    resolves it in this process, and Spark gets it absolute."""
    if iceberg_format.table_exists(table_or_path):
        return os.path.abspath(table_or_path)
    return None


def ensure_table(spark: SparkSession, path: str, schema,
                 partition_cols: tuple[str, ...] = ()) -> None:
    """Create an Iceberg-format table at ``path`` if missing (idempotent)."""
    if not iceberg_format.table_exists(path):
        iceberg_format.create_table(os.path.abspath(path), schema, partition_cols)


def read_table(spark: SparkSession, table_or_path: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read an Iceberg table by catalog name (runtime), an Iceberg-format
    table by path (metadata-planned scan, optional time travel), or
    parquet by plain path."""
    if path := _format_table(table_or_path):
        return iceberg_format.read_table(spark, path, snapshot_id=snapshot_id)
    if has_iceberg(spark) and "/" not in table_or_path:
        return spark.read.format("iceberg").load(table_or_path)
    return spark.read.parquet(table_or_path)


def append_spans(df: DataFrame, table_or_path: str) -> None:
    """Append extracted spans (S6 sink): an atomic snapshot commit on the
    Iceberg paths, a parquet append otherwise."""
    if path := _format_table(table_or_path):
        iceberg_format.write_dataframe(df, path, mode="append")
    elif has_iceberg(df.sparkSession) and "/" not in table_or_path:
        df.writeTo(table_or_path).append()
    else:
        df.write.mode("append").parquet(table_or_path)


def append_rows(spark: SparkSession, rows: list[tuple], schema,
                table_or_path: str) -> None:
    """Append driver-side ``rows`` (tuples in ``schema`` column order): one
    pyarrow-written file and a snapshot commit, with no Spark job, on an
    Iceberg-format table path; ``append_spans`` over a DataFrame of the
    rows on a catalog table name or the parquet fallback."""
    if path := _format_table(table_or_path):
        iceberg_format.append_rows(path, rows)
    else:
        append_spans(spark.createDataFrame(rows, schema), table_or_path)


def overwrite_span_partitions(df: DataFrame, table_or_path: str,
                              partition_cols: tuple[str, ...] = ("bucket_id",),
                              replaced: list[dict] | None = None) -> None:
    """Idempotent bucket-retry sink: Iceberg overwrite-partitions (runtime
    ``overwritePartitions()`` or the format layer's snapshot commit) or the
    parquet fallback, ``util.replace_partitions``.

    ``replaced``: explicit partition-value dicts to drop -- pass the todo
    set so a retry that produces zero rows for a partition still clears
    it; defaults to the partitions present in ``df``.  The format layer
    and the parquet fallback honour it alike; the runtime branch replaces
    the partitions present in ``df``.

    The parquet fallback MUST partitionBy: dynamic overwrite is a no-op
    for unpartitioned writes, where mode('overwrite') truncates the whole
    directory -- the opposite of the per-partition semantics this sink
    promises."""
    if path := _format_table(table_or_path):
        iceberg_format.write_dataframe(df, path, mode="overwrite_partitions",
                                       replaced=replaced)
    elif has_iceberg(df.sparkSession) and "/" not in table_or_path:
        df.writeTo(table_or_path).overwritePartitions()
    else:
        from p_id_text_extraction_spark.util import replace_partitions
        replace_partitions(df, table_or_path, partition_cols, replaced)
