"""Layer probe for the local write path: what a ``file:`` write pays in
forked ``chmod`` processes, stock FileSystem vs the session's java.nio one.

Each child process starts ``get_spark(cores=4)`` and writes one
spans-shaped table (``--rows`` rows over ``--buckets`` buckets,
partitioned by (job_fingerprint, bucket_id), 4 write tasks) with
``util.replace_partitions``: one warm write, then ``--writes`` timed ones.
The stock child gets Hive's ``ProxyLocalFileSystem`` (the ``file:`` impl
the Spark distribution loads) through a submitted
``spark.hadoop.fs.file.impl``, which ``get_spark`` leaves alone.  The
children alternate stock/nio over ``--rounds`` rounds; then one more child
per impl runs one write into an empty directory with a logging ``chmod``
first on its PATH and counts its forks (kept out of the timed rounds: the
wrapper is one more exec per fork).  Prints one JSON line: per impl the
median wall of a write, every child's median, and the ``chmod`` forks per
write.

    python tools/write_toll.py [--rounds 3] [--writes 5] [--rows 6000] [--buckets 128]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from p_id_text_extraction_spark.session import FILE_IMPL  # noqa: E402

STOCK_FS_CLASS = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
IMPLS = ("stock", "nio")


def child(args) -> None:
    from pyspark.sql import functions as F

    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.util import replace_partitions

    spark = get_spark(app="write_toll", cores=4, shuffle_partitions=4)
    fp = "0123456789abcdef"
    spans = (spark.range(args.rows)
             .select(F.lit(fp).alias("job_fingerprint"),
                     (F.col("id") % args.buckets).cast("int").alias("bucket_id"),
                     F.concat(F.lit("c"), (F.col("id") % 997).cast("string")).alias("conv_id"),
                     (F.col("id") % 50).cast("int").alias("turn_idx"),
                     (F.col("id") % 7).cast("int").alias("span_rank"),
                     F.repeat(F.lit("x"), 200).alias("text"))
             .repartition(4, "bucket_id", "conv_id")
             .sortWithinPartitions("conv_id", "turn_idx", "span_rank"))
    cols = ("job_fingerprint", "bucket_id")
    replaced = [{"job_fingerprint": fp, "bucket_id": b} for b in range(args.buckets)]
    walls = []
    for i in range(args.writes + 1):  # the first write warms the plan and the workers
        t0 = time.perf_counter()
        replace_partitions(spans, os.path.join(args.child_dir, "spans"), cols, replaced)
        if i:
            walls.append(time.perf_counter() - t0)
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    impl = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName()
    spark.stop()
    print(json.dumps({"impl": impl, "wall_s": statistics.median(walls) if walls else None}))


def _run_child(args, impl: str, work: str, chmod_log: str | None = None) -> dict:
    child_dir = tempfile.mkdtemp(dir=work)
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g",
               PYSPARK_SUBMIT_ARGS=(f"--conf {FILE_IMPL}={STOCK_FS_CLASS} " if impl == "stock"
                                    else "") + "pyspark-shell")
    writes = args.writes
    if chmod_log:
        bin_dir = os.path.join(child_dir, "bin")
        os.makedirs(bin_dir)
        wrapper = os.path.join(bin_dir, "chmod")
        with open(wrapper, "w") as f:
            f.write(f'#!/bin/sh\necho "$*" >> "{chmod_log}"\nexec "{shutil.which("chmod")}" "$@"\n')
        os.chmod(wrapper, 0o755)
        env["PATH"] = bin_dir + os.pathsep + env["PATH"]
        writes = 0
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child-dir", child_dir,
         "--writes", str(writes), "--rows", str(args.rows), "--buckets", str(args.buckets)],
        env=env, capture_output=True, text=True, timeout=600)
    if out.returncode:
        raise RuntimeError(out.stderr[-2000:])
    shutil.rmtree(child_dir, ignore_errors=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _count_forks(args, impl: str, work: str) -> int:
    """chmod forks of one write into an empty directory."""
    log = os.path.join(work, f"chmod-{impl}.log")
    open(log, "w").close()
    _run_child(args, impl, work, chmod_log=log)
    with open(log) as f:
        return len(f.readlines())


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--writes", type=int, default=5)
    p.add_argument("--rows", type=int, default=6000)
    p.add_argument("--buckets", type=int, default=128)
    p.add_argument("--child-dir", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.child_dir:
        child(args)
        return

    work = tempfile.mkdtemp(prefix="write_toll-")
    try:
        walls: dict[str, list[float]] = {impl: [] for impl in IMPLS}
        classes = {}
        for r in range(args.rounds):
            for impl in IMPLS if r % 2 == 0 else IMPLS[::-1]:
                res = _run_child(args, impl, work)
                walls[impl].append(round(res["wall_s"], 4))
                classes[impl] = res["impl"]
        forks = {impl: _count_forks(args, impl, work) for impl in IMPLS}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {impl: {"class": classes[impl], "wall_s": round(statistics.median(walls[impl]), 4),
                  "child_walls_s": walls[impl], "chmod_per_write": forks[impl]}
           for impl in IMPLS}
    out["stock_over_nio"] = round(out["stock"]["wall_s"] / out["nio"]["wall_s"], 3)
    out.update(rows=args.rows, buckets=args.buckets, writes=args.writes, rounds=args.rounds)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
