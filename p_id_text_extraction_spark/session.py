"""SparkSession factory with the engine's required settings."""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from p_id_text_extraction_spark import worker_daemon

DAEMON_MODULE = "spark.python.daemon.module"
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the directory holding the package: Python workers import the daemon and
# the kernels (pickled by reference) from it
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")
FILE_IMPL = "spark.hadoop.fs.file.impl"
FILE_AFS_IMPL = "spark.hadoop.fs.AbstractFileSystem.file.impl"
# built from jvm/*.java by tools/build_jvm.py
NIO_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar")
NIO_FS_CLASS = "p_id_text_extraction_spark.jvm.NioLocalFileSystem"
NIO_AFS_CLASS = "p_id_text_extraction_spark.jvm.NioLocalFs"


def _appended(value: str | None, entry: str) -> str:
    """``entry`` appended to the path list ``value``, unless already in it."""
    paths = [p for p in (value or "").split(os.pathsep) if p]
    return os.pathsep.join(paths if entry in paths else paths + [entry])


def _has_class(name: str) -> bool:
    try:
        SparkContext._jvm.java.lang.Class.forName(name)
        return True
    except Py4JJavaError:
        return False


def get_spark(
    app: str = "p_id_text_extraction_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's local session: ``local[cores]`` with the settings below,
    then ``extra`` (which wins over them).

    Beyond plain settings it wires three things.  A module or impl that
    ``extra`` or spark-submit (``--conf``, spark-defaults.conf) set wins;
    a path list they set is kept and appended to.

    - The Python workers run under ``worker_daemon``
      (``spark.python.daemon.module``).
    - The package's parent directory is appended to the workers'
      ``PYTHONPATH``.
    - The ``file:`` FileSystem is ``jvm/NioLocalFileSystem``
      (``spark.hadoop.fs.file.impl``), whose ``setPermission`` is one
      java.nio call.  Without the Hadoop native library the stock one forks
      a ``chmod`` for every file, ``.crc`` sidecar and directory a write
      creates.  FileContext (a streaming checkpoint) gets the same through
      ``jvm/NioLocalFs`` (``spark.hadoop.fs.AbstractFileSystem.file.impl``).
      Their committed jar is appended to the driver and executor
      ``extraClassPath``; the impls are set only on a ``local[...]`` master,
      only when the launched JVM loads the class and never when the caller
      or the submitter set a ``file:`` FileSystem impl.
    """
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
    # spark-defaults.conf.  The driver's class path is fixed at launch.
    for key in CLASSPATH_KEYS:
        conf[key] = _appended(conf.get(key), NIO_JAR)
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    submitted = SparkConf()
    # The worker daemon (worker_daemon.py) takes ~0.12 s of fixed cost off
    # every Python task; a daemon module the submitter configured wins.
    if DAEMON_MODULE not in conf and not submitted.contains(DAEMON_MODULE):
        conf[DAEMON_MODULE] = worker_daemon.__name__
    # A driver started outside the package's parent directory (a script
    # that put it on its own sys.path) would start workers that cannot
    # import the package: append it to the workers' PYTHONPATH, after any
    # value the caller or the submitter set.
    conf[WORKER_PYTHONPATH] = _appended(
        conf.get(WORKER_PYTHONPATH) or submitted.get(WORKER_PYTHONPATH, ""), PACKAGE_PARENT)
    # spark-submit puts its own --conf after ours, so the launched JVM's
    # class path is the submitter's value when there is one: keep it.
    for key in CLASSPATH_KEYS:
        conf[key] = _appended(submitted.get(key, conf[key]), NIO_JAR)
    # Local writes fork no chmod: the file: FileSystem and AbstractFileSystem
    # set modes through java.nio.  Only where the class really loaded (a
    # gateway launched earlier without the jar must not get a dangling
    # impl), and never over a caller's or submitter's impl.
    if (conf["spark.master"].startswith("local[") and FILE_IMPL not in conf
            and not submitted.contains(FILE_IMPL) and _has_class(NIO_FS_CLASS)):
        conf[FILE_IMPL] = NIO_FS_CLASS
        if FILE_AFS_IMPL not in conf and not submitted.contains(FILE_AFS_IMPL):
            conf[FILE_AFS_IMPL] = NIO_AFS_CLASS
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
