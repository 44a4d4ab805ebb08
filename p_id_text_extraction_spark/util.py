"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_OVERWRITE_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"

# Registry of operator-internal caches (multi-consumer intermediates like
# shingle arrays and quantized corpus projections).  Operators return LAZY
# plans that still reference their caches, so they cannot unpersist
# eagerly; a long-lived caller materializes results and then calls
# unpersist_tracked() -- without it, repeated invocations would pile up
# cached RDDs and lean on LRU eviction (the r2 behavior ADVICE flagged).
_TRACKED_CACHES: list[DataFrame] = []


def track_persist(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """persist() with a lifecycle: MEMORY_AND_DISK by default (an evicted
    hot block degrades to a disk read instead of a full subtree recompute)
    and registered for ``unpersist_tracked``."""
    out = df.persist(level)
    _TRACKED_CACHES.append(out)
    return out


def unpersist_tracked(blocking: bool = False) -> int:
    """Release every registered operator cache; returns how many were
    dropped.  Call after materializing query results (bench.py and
    tools/check_oracles.py do, per query)."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return n


def fan_out(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned over ``defaultParallelism`` when its
    scan would leave most cores idle (a single-file corpus reads as one task
    per row group); otherwise ``df`` unchanged.

    The scan's non-empty tasks are estimated over the parquet footers of
    ``df.inputFiles()`` as min(row groups, max(1, bytes //
    spark.sql.files.maxPartitionBytes)); the exchange is added iff that is
    below half of ``defaultParallelism``.  An input with at least that many
    files, with no files (an in-memory DataFrame) or whose footers pyarrow
    cannot open comes back unchanged.  No Spark job runs: the file list
    comes from the plan's file indexes, the footers are read on the driver."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) * 2 >= parallelism:
        return df
    row_groups = size = 0
    try:
        for uri in files:
            fs, path = pafs.FileSystem.from_uri(uri)
            with fs.open_input_file(path) as f:
                size += f.size()
                row_groups += pq.ParquetFile(f).num_row_groups
    except Exception:  # noqa: BLE001 - not parquet, or a scheme pyarrow lacks
        return df
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    scan_tasks = min(row_groups, max(1, size // max_split))
    return df.repartition(parallelism) if scan_tasks * 2 < parallelism else df


def replace_partitions(df: DataFrame, path: str, partition_cols,
                       replaced: list[dict] | None = None) -> None:
    """The parquet partition-replacing write: delete each ``replaced``
    partition directory (a dict holding a value for every partition
    column), then write ``df`` partitioned by ``partition_cols`` with
    dynamic partition overwrite.  Dynamic overwrite alone rewrites only the
    partitions ``df`` has rows for, so a retry that lands ZERO rows for a
    partition would keep an aborted attempt's files; the explicit deletes
    close that gap.  Deletion goes through the Hadoop FileSystem API, so
    file://, hdfs:// and s3a:// paths work like plain ones.  The caller's
    partition overwrite mode is restored afterwards: a writer must not
    leak a session-global semantics change into unrelated jobs sharing the
    session."""
    spark = df.sparkSession
    for part in replaced or ():
        delete_path(spark, "/".join(
            [path.rstrip("/"), *(f"{c}={part[c]}" for c in partition_cols)]))
    try:
        prev = spark.conf.get(_OVERWRITE_MODE_KEY)
    except Exception:  # noqa: BLE001 - unset => engine default ("static")
        prev = None
    spark.conf.set(_OVERWRITE_MODE_KEY, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(_OVERWRITE_MODE_KEY)
        else:
            spark.conf.set(_OVERWRITE_MODE_KEY, prev)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem API, so
    the same code works for local paths AND file://, hdfs://, s3a:// URIs
    (os / shutil calls silently miss anything with a scheme)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def delete_path(spark: SparkSession, path: str) -> None:
    """Delete a directory (recursively) through the Hadoop FileSystem API."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def make_dirs(spark: SparkSession, path: str) -> None:
    """Create a directory (and parents) through the Hadoop FileSystem API;
    a no-op when it already exists."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.mkdirs(hpath)


def has_file(spark: SparkSession, path: str, suffix: str) -> bool:
    """True iff ``path`` exists and holds a file named ``*suffix`` at any
    depth, probed through the Hadoop FileSystem API; stops at the first
    match."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        if files.next().getPath().getName().endswith(suffix):
            return True
    return False
