"""The session's Python worker daemon (worker_daemon.py): archives added with
``addPyFile`` are still seen, the wrapper really runs, and a daemon module
the submitter configured wins."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

from pyspark import SparkFiles

from p_id_text_extraction_spark import worker_daemon
from p_id_text_extraction_spark.session import DAEMON_MODULE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", PYTHONPATH=REPO,
               PYSPARK_SUBMIT_ARGS=f"--conf {DAEMON_MODULE}=pyspark.daemon pyspark-shell")
    out = subprocess.run([sys.executable, "-c", _SUBMITTED], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    module, methods = json.loads(out.stdout.strip().splitlines()[-1])
    assert module == "pyspark.daemon"
    assert methods == ["zipimporter.invalidate_caches"]  # the stock method
