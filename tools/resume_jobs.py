"""Layer ledger for the resume protocol: the Spark jobs of each call.

Runs one job life cycle of ``run_with_resume`` per catalog, Iceberg first
and then parquet, over an Iceberg-format input of ``gen_skew_turns(seed)``
(bucket(conv_id, 16) partitions): a killed call (the first half of the
buckets), the resume and a no-op resume.  A first, unprinted Iceberg life
cycle warms the JVM and the workers.  For each call it prints the call's
wall and, from the application status store, every job it launched: id,
wall, task count and call site.  The last line is one JSON object with the
jobs and the wall per call of each catalog.

    python tools/resume_jobs.py [--buckets 256] [--seed 1] [--cores 4]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p_id_text_extraction_spark.plans.checkpoint import run_with_resume  # noqa: E402
from p_id_text_extraction_spark.session import get_spark  # noqa: E402
from p_id_text_extraction_spark.sources import iceberg_format  # noqa: E402
from p_id_text_extraction_spark.sources.transcripts import (  # noqa: E402
    TRANSCRIPT_SCHEMA,
    gen_skew_turns,
    read_transcripts,
    transcripts_df,
)

PHASES = ("killed", "resume", "noop")
CATALOGS = ("iceberg", "parquet")


def _job_rows(sc, group: str) -> list[dict]:
    """The group's jobs as the status store recorded them."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store = sc._jsc.sc().statusStore()
    rows = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        wall = (end.get().getTime() - start.get().getTime()
                if start.isDefined() and end.isDefined() else None)
        rows.append({"job": jid, "wall_ms": wall, "tasks": job.numTasks(), "name": job.name()})
    return rows


def life_cycle(spark, src: str, base: str, n_buckets: int, catalog: str,
               tag: str) -> dict:
    """killed, resume and no-op calls; returns {phase: (wall_s, jobs)}."""
    sc = spark.sparkContext
    out, man = os.path.join(base, "spans"), os.path.join(base, "manifest")
    kws = ({"bucket_filter": list(range(n_buckets // 2))}, {}, {})
    ledger = {}
    for phase, kw in zip(PHASES, kws):
        group = f"{tag}-{phase}"
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        try:
            run_with_resume(spark, read_transcripts(spark, src), out, man,
                            n_buckets=n_buckets, catalog=catalog, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        ledger[phase] = (time.perf_counter() - t, _job_rows(sc, group))
    return ledger


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--cores", type=int, default=4)
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="resume_jobs_")
    spark = get_spark(app="resume_jobs", cores=args.cores)
    try:
        src = os.path.join(work, "transcripts_ice")
        iceberg_format.create_table(src, TRANSCRIPT_SCHEMA, ("bucket(conv_id, 16)",))
        iceberg_format.write_dataframe(transcripts_df(spark, gen_skew_turns(args.seed)), src)
        life_cycle(spark, src, os.path.join(work, "warm"), args.buckets, "iceberg", "warm")
        ledgers = {cat: life_cycle(spark, src, os.path.join(work, cat), args.buckets, cat, cat)
                   for cat in CATALOGS}
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    for cat, ledger in ledgers.items():
        for phase, (wall, jobs) in ledger.items():
            print(f"{cat} {phase}: {len(jobs)} jobs, call {wall:.2f} s")
            for j in jobs:
                print(f"  job {j['job']:>4}  {j['wall_ms']:>6} ms  {j['tasks']:>4} tasks  {j['name']}")
    print(json.dumps({
        "buckets": args.buckets, "seed": args.seed,
        "jobs_per_call": {cat: {ph: len(jobs) for ph, (_, jobs) in ledger.items()}
                          for cat, ledger in ledgers.items()},
        "call_s": {cat: {ph: round(wall, 3) for ph, (wall, _) in ledger.items()}
                   for cat, ledger in ledgers.items()}}))


if __name__ == "__main__":
    main()
