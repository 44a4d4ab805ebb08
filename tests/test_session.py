"""The session's Python worker daemon (worker_daemon.py): archives added with
``addPyFile`` are still seen, the wrapper really runs, and a daemon module
the submitter configured wins.  The session's ``file:`` FileSystem
(jvm/NioLocalFileSystem.java): writes fork no ``chmod``, files and
directories get the stock impl's modes, sidecars and rename results, and a
submitted impl wins."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import stat
import subprocess
import sys
import uuid
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkFiles

from p_id_text_extraction_spark import worker_daemon
from p_id_text_extraction_spark.session import DAEMON_MODULE, FILE_IMPL, NIO_AFS_CLASS, NIO_FS_CLASS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_script(script: str, *args: str, submit_args: str = "pyspark-shell",
                path: str | None = None) -> list:
    """Run ``script`` in a fresh driver process (its own JVM); returns the
    JSON of its last stdout line."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", PYTHONPATH=REPO,
               PYSPARK_SUBMIT_ARGS=submit_args)
    if path:
        env["PATH"] = path + os.pathsep + env["PATH"]
    out = subprocess.run([sys.executable, "-c", script, *args], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def _import_values(sc, *modules: str, tasks: int = 8) -> set:
    """Each task imports ``modules`` afresh (dropping them from the reused
    worker's sys.modules) and returns their VALUEs."""

    def task(_):
        import importlib
        import sys
        values = []
        for name in modules:
            sys.modules.pop(name, None)
            values.append(importlib.import_module(name).VALUE)
        yield tuple(values)

    return set(sc.parallelize(range(tasks), tasks).mapPartitions(task).collect())


def _warm_workers(sc) -> None:
    assert sc.parallelize(range(8), 8).map(lambda x: x + 1).sum() == 36


def test_added_archive_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    _warm_workers(sc)
    mod = f"added_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {mod: "VALUE = 'added'\n"})
    sc.addPyFile(str(archive))
    assert _import_values(sc, mod) == {("added",)}


def test_rewritten_archive_is_reread(spark, tmp_path):
    sc = spark.sparkContext
    _warm_workers(sc)
    mod, new_mod = f"rewritten_{uuid.uuid4().hex}", f"appears_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {mod: "VALUE = 1\n"})
    sc.addPyFile(str(archive))
    assert _import_values(sc, mod) == {(1,)}  # every worker now caches its directory
    # A local-mode re-add does not fetch again, so the copy on the workers'
    # sys.path is rewritten in place too, as an executor's re-fetch would.
    new = {mod: "VALUE = 2  # a longer module\n", new_mod: "VALUE = 'new'\n"}
    for path in (archive, SparkFiles.get(archive.name)):
        _write_zip(path, new)
    sc.addPyFile(str(archive))
    assert _import_values(sc, mod, new_mod) == {(2, "new")}


def test_tasks_run_under_the_worker_daemon(spark):
    assert spark.sparkContext.getConf().get(DAEMON_MODULE) == worker_daemon.__name__

    def task(_):
        import zipimport
        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(4), 4).mapPartitions(task).collect()
    assert {os.path.realpath(f) for f in files} == {os.path.realpath(worker_daemon.__file__)}


_SUBMITTED = """
import json
from p_id_text_extraction_spark.session import DAEMON_MODULE, get_spark
spark = get_spark(app="submitted_daemon", cores=1)
def task(_):
    import zipimport
    yield zipimport.zipimporter.invalidate_caches.__qualname__
methods = spark.sparkContext.parallelize([0], 1).mapPartitions(task).collect()
print(json.dumps([spark.sparkContext.getConf().get(DAEMON_MODULE), methods]))
spark.stop()
"""


def test_submitted_daemon_module_wins():
    module, methods = _run_script(
        _SUBMITTED, submit_args=f"--conf {DAEMON_MODULE}=pyspark.daemon pyspark-shell")
    assert module == "pyspark.daemon"
    assert methods == ["zipimporter.invalidate_caches"]  # the stock method


STOCK_FS_CLASS = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"


_NO_CHMOD = """
import json, os, sys
from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
from p_id_text_extraction_spark.session import get_spark
from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df
tmp, log, stock_class = sys.argv[1:]
def forks():
    return len(open(log).readlines()) if os.path.exists(log) else 0
spark = get_spark(app="no_chmod", cores=2, shuffle_partitions=2)
jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
counts = [jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName()]
spark.range(64).selectExpr("id", "id % 8 AS p").write.partitionBy("p").parquet(tmp + "/pq")
counts.append(forks())
turns = transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))
r = run_with_resume(spark, turns, tmp + "/spans", tmp + "/man", n_buckets=8,
                    bucket_filter=[0, 1, 2, 3], catalog="iceberg")
counts += [r["buckets_completed"], forks()]
# the wrapper sees the stock impl's fork
stock = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
    jvm.java.lang.Class.forName(stock_class), conf)
stock.initialize(jvm.java.net.URI("file:///"), conf)
stock.setPermission(jvm.org.apache.hadoop.fs.Path(tmp + "/pq"),
                    jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf("drwxr-xr-x"))
counts.append(forks())
print(json.dumps(counts))
spark.stop()
"""


def test_local_writes_fork_no_chmod(tmp_path):
    """A partitioned parquet write and a killed Iceberg resume call start no
    ``chmod`` process (a logging ``chmod`` first on the PATH counts them);
    the stock impl's ``setPermission`` is seen forking one."""
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> "{log}"\nexec "{shutil.which("chmod")}" "$@"\n')
    wrapper.chmod(0o755)
    fs_class, after_write, buckets, after_resume, after_stock = _run_script(
        _NO_CHMOD, str(tmp_path), str(log), STOCK_FS_CLASS, path=str(bin_dir))
    assert fs_class == NIO_FS_CLASS
    assert buckets == 4
    assert (after_write, after_resume, after_stock) == (0, 0, 1)


_STREAM_NO_CHMOD = """
import json, os, sys
from p_id_text_extraction_spark.session import get_spark
from p_id_text_extraction_spark.sources.transcripts import (TRANSCRIPT_SCHEMA, gen_turns,
                                                            transcripts_df)
from p_id_text_extraction_spark.streaming.extract_stream import extract_stream
tmp, log = sys.argv[1:]
def forks():
    return len(open(log).readlines()) if os.path.exists(log) else 0
spark = get_spark(app="stream_no_chmod", cores=2, shuffle_partitions=2)
jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
afs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(jvm.java.net.URI("file:///"), conf)
turns = gen_turns(12, max_turns=4, seed=5)
for i in range(3):  # three files, one micro-batch each
    transcripts_df(spark, turns[i::3]).coalesce(1).write.mode("append").parquet(tmp + "/src")
stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(tmp + "/src")
q = extract_stream(stream, tmp + "/out", tmp + "/ckpt")
q.awaitTermination(120)
print(json.dumps([afs.getClass().getName(), sum(not f.startswith(".") for f in os.listdir(tmp + "/ckpt/commits")), forks()]))
spark.stop()
"""


def test_streaming_checkpoint_forks_no_chmod(tmp_path):
    """A three-micro-batch ``extract_stream`` starts no ``chmod``: the
    checkpoint's FileContext (``fs.AbstractFileSystem.file.impl``) is the
    shim's ``NioLocalFs``."""
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> "{log}"\nexec "{shutil.which("chmod")}" "$@"\n')
    wrapper.chmod(0o755)
    afs_class, batches, forks = _run_script(
        _STREAM_NO_CHMOD, str(tmp_path), str(log), path=str(bin_dir))
    assert afs_class == NIO_AFS_CLASS
    assert batches == 3
    assert forks == 0


def _local_fs(spark, cls: str):
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(jvm.java.lang.Class.forName(cls), conf)
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _exercise(spark, fs, root: str):
    """Creates, renames and mode changes through ``fs`` under ``root``;
    returns the rename results, whether a missing path's setPermission
    raised, and every entry's mode."""
    jvm = spark._jvm
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission

    def path(rel):
        return jvm.org.apache.hadoop.fs.Path(os.path.join(root, rel))

    fs.mkdirs(path("a/b/c"))
    for name in ("a/f1", "a/f2", "a/f3"):
        out = fs.create(path(name))
        out.write(bytearray(name.encode()))
        out.close()
    renames = [fs.rename(path("a/f1"), path("a/new")),  # onto a new path
               fs.rename(path("a/f2"), path("a/f3")),   # onto an existing file
               fs.rename(path("a/new"), path("a/b"))]   # onto an existing directory
    fs.setPermission(path("a/f3"), FsPermission.valueOf("-rw-r-----"))
    fs.setPermission(path("a/b/c"), FsPermission.valueOf("drwxrwxrwt"))  # sticky bit
    try:
        fs.setPermission(path("missing"), FsPermission.valueOf("-rw-r--r--"))
        missing_raises = False
    except Py4JJavaError:
        missing_raises = True
    modes = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            full = os.path.join(dirpath, name)
            modes[os.path.relpath(full, root)] = oct(stat.S_IMODE(os.stat(full).st_mode))
    return renames, missing_raises, modes


def test_nio_fs_matches_stock_impl(spark, tmp_path):
    """The session's ``file:`` impl is the shim, and it behaves as the
    stock impl: the same modes on created files and directories, the same
    ``.crc`` sidecars, the same rename results and the sticky-bit
    fallback."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName() == NIO_FS_CLASS
    stock = _exercise(spark, _local_fs(spark, STOCK_FS_CLASS), str(tmp_path / "stock"))
    nio = _exercise(spark, _local_fs(spark, NIO_FS_CLASS), str(tmp_path / "nio"))
    assert nio == stock
    renames, missing_raises, modes = nio
    assert renames == [True, False, True] and missing_raises
    assert modes["a/b/c"] == "0o1777" and modes["a/f3"] == "0o640"
    assert modes["a/b/new"] == "0o644" and modes["a/b"] == "0o755"
    assert {".f3.crc", ".new.crc"} <= {os.path.basename(p) for p in modes}


_FILE_IMPL = """
import json, sys
from pyspark import SparkContext
from p_id_text_extraction_spark.session import FILE_IMPL, get_spark
if sys.argv[1] == "launched":
    SparkContext._ensure_initialized()  # a gateway launched without the jar
spark = get_spark(app="file_impl", cores=1)
jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
print(json.dumps([spark.sparkContext.getConf().get(FILE_IMPL, None),
                  jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName()]))
spark.stop()
"""


def test_submitted_file_impl_wins():
    submitted = "org.apache.hadoop.fs.LocalFileSystem"
    assert _run_script(_FILE_IMPL, "fresh",
                       submit_args=f"--conf {FILE_IMPL}={submitted} pyspark-shell") == [
        submitted, submitted]


def test_no_file_impl_on_a_gateway_without_the_jar():
    assert _run_script(_FILE_IMPL, "launched") == [None, STOCK_FS_CLASS]


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on the PATH")
def test_committed_jar_is_built_from_source():
    spec = importlib.util.spec_from_file_location(
        "build_jvm", os.path.join(REPO, "tools", "build_jvm.py"))
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    assert build.jar_classes() == build.compile_classes()
