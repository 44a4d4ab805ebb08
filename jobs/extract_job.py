"""spark-submit driver for the extraction pipeline (north_rule run mode).

Cluster:
    spark-submit --py-files p_id_text_extraction_spark.zip \
        --conf spark.python.daemon.module=p_id_text_extraction_spark.worker_daemon \
        jobs/extract_job.py \
        --input <transcripts table/path> --output <spans path> \
        --manifest <checkpoint manifest path> --buckets 4096

The worker daemon (p_id_text_extraction_spark/worker_daemon.py) takes the
Python worker's fixed per-task cost off every task.  Spark starts it with
the executors' PYTHONPATH; a --py-files archive reaches a worker's sys.path
only per task, after the daemon has started.  So the package must be on the
executors' PYTHONPATH when the daemon starts (an image with the package
installed, or spark.executorEnv.PYTHONPATH); otherwise leave the --conf
line out.  The session also appends the package's parent directory to
spark.executorEnv.PYTHONPATH, so in local mode the script runs from any
working directory.

Sandbox (local mode):
    python jobs/extract_job.py --input /tmp/in.parquet --output /tmp/out \
        --manifest /tmp/manifest --buckets 16 --cores 32

The job is idempotent: rerunning after any failure resumes from the
checkpoint manifest (the done buckets of this config fingerprint are
subtracted on the driver and the rest reach the scan as one
``bucket_id IN (...)`` predicate) and replaces exactly the unfinished
bucket partitions -- the `--start-at` restart analogue
(run_pipeline.py:336-341) at bucket granularity.  The extraction is the
fused map-only kernel, and it counts the manifest's per-bucket counters
(turns_in, spans_out, classifier_drop_rate, task_rows_max/median) while it
extracts: they are exact under task retries, and the spans write is the
run's only pass over the data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="transcript main-content extraction")
    p.add_argument("--input", required=True, help="transcripts parquet/Iceberg path")
    p.add_argument("--output", required=True, help="extracted-spans output path")
    p.add_argument("--manifest", required=True, help="checkpoint manifest path")
    p.add_argument("--buckets", type=int, default=256, help="restart granularity")
    p.add_argument("--catalog", choices=["parquet", "iceberg"], default="parquet",
                   help="sink format: partitioned parquet, or Iceberg tables "
                        "(snapshot-committed spans + manifest; the input path "
                        "may also be an Iceberg table in either mode)")
    p.add_argument("--spans-layout", choices=["identity", "bucket"],
                   default="identity",
                   help="iceberg only: 'bucket' partitions the spans table by "
                        "the spec's hidden bucket(conv_id, N) transform (no "
                        "bucket_id data column; scans prune by bucket)")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox only)")
    p.add_argument("--block-size", type=int, default=256)
    p.add_argument("--overlap", type=float, default=0.1)
    p.add_argument("--pad", type=int, default=8)
    p.add_argument("--conf-threshold-milli", type=int, default=950)
    return p.parse_args(argv)


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry.  ``spark`` may be injected (tests); when the job creates
    its own session it also owns shutting it down."""
    args = parse_args(argv)
    from p_id_text_extraction_spark.config import ExtractConfig
    from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts

    cfg = ExtractConfig(
        block_size=args.block_size,
        overlap=args.overlap,
        pad=args.pad,
        conf_threshold_milli=args.conf_threshold_milli,
    )
    cfg.validate()  # F9 driver-side parameter validation before job submit

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app="extract_job", cores=args.cores)
    try:
        turns = read_transcripts(spark, args.input)
        result = run_with_resume(
            spark, turns, args.output, args.manifest, cfg=cfg, n_buckets=args.buckets,
            catalog=args.catalog,
            spans_layout=args.spans_layout,
        )
        print(json.dumps(result))
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
