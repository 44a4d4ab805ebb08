"""SparkSession factory with the engine's required settings."""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from p_id_text_extraction_spark import worker_daemon

DAEMON_MODULE = "spark.python.daemon.module"
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the directory holding the package: Python workers import the daemon and
# the kernels (pickled by reference) from it
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "p_id_text_extraction_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # Scan-split sizing is scale-dependent (guide section 6): the bench
    # corpora are single files of MBs-to-hundreds-of-MBs, where the 128m
    # default packs a whole multi-row-group table into 1-2 tasks and
    # serializes every pre-exchange stage; 16m lets those scans fan out
    # (row-group granularity still bounds it).  A 100 TB deployment with
    # thousands of large files should raise this back up (512m-1g) via the
    # env var -- more, smaller map tasks would only bloat the shuffle
    # block count there (guide section 2.2).
    max_part = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": max_part,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        **(extra or {}),
    }
    # The gateway is launched here exactly as getOrCreate would launch it,
    # so the JVM's conf also holds spark-submit --conf and
    # spark-defaults.conf.  The worker daemon (worker_daemon.py) takes
    # ~0.12 s of fixed cost off every Python task; a daemon module the
    # submitter configured wins.
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    submitted = SparkConf()
    if DAEMON_MODULE not in conf and not submitted.contains(DAEMON_MODULE):
        conf[DAEMON_MODULE] = worker_daemon.__name__
    # A driver started outside the package's parent directory (a script
    # that put it on its own sys.path) would start workers that cannot
    # import the package: append it to the workers' PYTHONPATH, after any
    # value the caller or the submitter set.
    paths = [p for p in (conf.get(WORKER_PYTHONPATH) or submitted.get(WORKER_PYTHONPATH, ""))
             .split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        conf[WORKER_PYTHONPATH] = os.pathsep.join(paths + [PACKAGE_PARENT])
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
