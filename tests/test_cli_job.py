"""CLI job end-to-end: jobs/extract_job.py over real parquet in/out, output
byte-identical to the relational plan, idempotent reruns."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jobs.extract_job import main, parse_args
from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df


def test_cli_args_defaults():
    a = parse_args(["--input", "i", "--output", "o", "--manifest", "m"])
    assert a.buckets == 256 and not hasattr(a, "strategy")
    with pytest.raises(SystemExit):     # one production path: no --strategy
        parse_args(["--input", "i", "--output", "o", "--manifest", "m",
                    "--strategy", "fused"])


def test_cli_end_to_end_matches_relational_plan(spark, tmp_path):
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts
    src = str(tmp_path / "in")
    transcripts_df(spark, gen_turns(30, max_turns=8, seed=9)).write.parquet(src)

    rc = main(["--input", src, "--output", str(tmp_path / "o_rel"),
               "--manifest", str(tmp_path / "m_rel"), "--buckets", "4"], spark=spark)
    assert rc == 0

    key = ["conv_id", "turn_idx", "span_rank"]
    got = [tuple(r) for r in spark.read.parquet(str(tmp_path / "o_rel"))
           .drop("bucket_id", "job_fingerprint").orderBy(*key).collect()]
    want = [tuple(r) for r in extract_pipeline(read_transcripts(spark, src))
            .orderBy(*key).collect()]
    assert got == want and len(got) > 0

    # rerun = no-op (resume protocol through the CLI)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["--input", src, "--output", str(tmp_path / "o_rel"),
              "--manifest", str(tmp_path / "m_rel"), "--buckets", "4"], spark=spark)
    assert '"buckets_completed": 0' in buf.getvalue()


def test_cli_iceberg_catalog_end_to_end(spark, tmp_path):
    """Iceberg in, Iceberg out, through the CLI: the input transcripts are
    an Iceberg-format table (snapshot-planned scan), both sinks are
    Iceberg tables, rerun is a no-op, and the spans equal the parquet
    catalog's byte-for-byte."""
    import io
    from contextlib import redirect_stdout

    from p_id_text_extraction_spark.sources import iceberg_format as ice

    turns = transcripts_df(spark, gen_turns(30, max_turns=8, seed=9))
    src = str(tmp_path / "in_ice")
    ice.create_table(src, turns.schema)
    ice.write_dataframe(turns, src, mode="append")

    rc = main(["--input", src, "--output", str(tmp_path / "o_ice"),
               "--manifest", str(tmp_path / "m_ice"), "--buckets", "4",
               "--catalog", "iceberg"], spark=spark)
    assert rc == 0
    rc = main(["--input", src, "--output", str(tmp_path / "o_pq"),
               "--manifest", str(tmp_path / "m_pq"), "--buckets", "4"], spark=spark)
    assert rc == 0

    key = ["conv_id", "turn_idx", "span_rank"]
    got = [tuple(r) for r in ice.read_table(spark, str(tmp_path / "o_ice"))
           .drop("bucket_id", "job_fingerprint").orderBy(*key).collect()]
    want = [tuple(r) for r in spark.read.parquet(str(tmp_path / "o_pq"))
            .drop("bucket_id", "job_fingerprint").orderBy(*key).collect()]
    assert got == want and len(got) > 0

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["--input", src, "--output", str(tmp_path / "o_ice"),
              "--manifest", str(tmp_path / "m_ice"), "--buckets", "4",
              "--catalog", "iceberg"], spark=spark)
    assert '"buckets_completed": 0' in buf.getvalue()
    # the no-op rerun committed no extra snapshot to the spans table
    assert len(ice.snapshot_ids(str(tmp_path / "o_ice"))) == 1


def test_cli_runs_outside_the_repo_root(spark, tmp_path):
    """Started from another directory with no PYTHONPATH, the script puts
    the package on the driver's sys.path only; its Python workers (the
    daemon, the kernels pickled by reference) must import it too.  The
    run succeeds and its manifest equals an in-process run's."""
    import subprocess
    src = str(tmp_path / "in")
    transcripts_df(spark, gen_turns(30, max_turns=8, seed=9)).write.parquet(src)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "extract_job.py"), "--input", src,
         "--output", str(tmp_path / "o_cli"), "--manifest", str(tmp_path / "m_cli"),
         "--buckets", "4", "--cores", spark.conf.get("spark.sql.shuffle.partitions")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]

    assert main(["--input", src, "--output", str(tmp_path / "o"),
                 "--manifest", str(tmp_path / "m"), "--buckets", "4"], spark=spark) == 0

    def manifest(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).drop("completed_ts").collect())

    assert manifest(str(tmp_path / "m_cli")) == manifest(str(tmp_path / "m"))
