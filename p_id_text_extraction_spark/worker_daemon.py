"""Python worker daemon that pays the zip-directory reads once per worker.

Spark starts its Python workers from a daemon module
(``spark.python.daemon.module``, default ``pyspark.daemon``).  Before every
task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that an archive added with
``sc.addPyFile`` (or replaced in place) is seen.  On Python 3.11 that makes
every cached ``zipimporter`` re-read its whole archive directory, and a
reused worker caches about sixteen of them (pyspark.zip once per imported
sub-package, the spark-core jar, py4j): ~0.15 s of every task, whatever
the task does.

This module wraps ``zipimport.zipimporter.invalidate_caches`` once, at
daemon start-up, before any worker is forked.  Each importer remembers the
stat of its archive at its last read and reads the directory again only
when that stat changed or cannot be taken, so a new or rewritten archive is
still picked up by the next task.  Everything else is ``pyspark.daemon``.

Run by Spark as ``python -m p_id_text_extraction_spark.worker_daemon``, so
the package must be importable where the daemon starts (the working
directory or ``PYTHONPATH``).
"""

from __future__ import annotations

import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    # the inode catches a replace-by-rename inside one mtime tick
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only if the archive changed since this
    importer last read it (always when it cannot be stat'ed)."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        # stat before the read: a change racing the read forces another one
        _read_directory(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
