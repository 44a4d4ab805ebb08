"""Benchmark-local tests: seeded generators, tracer arithmetic, smoke runs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.trace import Tracer, spark_counters

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _parquet(table: pa.Table) -> bytes:
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return buf.getvalue().to_pybytes()


INPUTS = {
    "batch": lambda s: _parquet(gen.transcripts_table(gen.batch_turns(s))),
    "skew": lambda s: _ipc(gen.transcripts_table(gen.skew_turns(s))),
    "stream": lambda s: _parquet(gen.transcripts_table(gen.stream_file_turns(s, 3))),
    "docs": lambda s: _parquet(gen.docs_table(s)),
}


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_same_seed_same_bytes_other_seed_other_bytes(name):
    make = INPUTS[name]
    a = make(7)
    assert a == make(7)
    assert a != make(8)


def _pairs(seed: int, tmp_path) -> dict[str, list[tuple[int, int, int]]]:
    """(doc_a, doc_b, jaccard_milli) of both dedup oracles on the seed's corpus."""
    from p_id_text_extraction_spark.plans.queries import ORACLES
    path = str(tmp_path / f"documents-{seed}.parquet")
    pq.write_table(gen.docs_table(seed), path)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        return {q: sorted(map(tuple, con.execute(ORACLES[q]).df()[
                    ["doc_a", "doc_b", "jaccard_milli"]].values.tolist()))
                for q in ("dedup_minhash_lsh", "dedup_ngram_jaccard")}
    finally:
        con.close()


def test_vocabulary_translation_keeps_duplicate_pairs(tmp_path):
    """The translation is injective, so exact n-gram Jaccard -- and with it
    every n-gram pair -- is the same for every seed.  MinHash LSH finds a
    pair with a probability set by the hash values, which the translation
    changes, so its low-similarity pairs may differ by seed; the pairs it
    finds are a subset of the n-gram pairs, and those with Jaccard >= 0.95
    (missed with probability ~1e-6 each) are the same."""
    a, b = _pairs(1, tmp_path), _pairs(2, tmp_path)
    ngram = a["dedup_ngram_jaccard"]
    assert ngram and ngram == b["dedup_ngram_jaccard"]
    for mh in (a["dedup_minhash_lsh"], b["dedup_minhash_lsh"]):
        assert set(mh) <= set(ngram)
        assert [p for p in mh if p[2] >= 950] == [p for p in ngram if p[2] >= 950]


def test_docs_shard_has_the_base_corpus_shape():
    """Translation changes words, never token counts, line breaks or ids."""
    base = pq.read_table(gen.DOCS_BASE)
    docs = gen.docs_table(5)
    assert docs.num_rows == gen.DOC_SHARDS * base.num_rows
    shard = docs.slice(0, base.num_rows)
    assert shard.column("doc_id").to_pylist() == base.column("doc_id").to_pylist()
    for x, y in zip(shard.column("text").to_pylist(), base.column("text").to_pylist()):
        assert [len(ln.split(" ")) for ln in x.split("\n")] == [len(ln.split(" ")) for ln in y.split("\n")]
    assert shard.column("n_chars").to_pylist() == [len(t) for t in shard.column("text").to_pylist()]


def test_self_time_subtracts_children():
    t = Tracer("r")
    t.active, t.op = True, 0
    with t.span("outer"):
        with t.span("inner"):
            sum(range(20000))
        with t.span("inner"):
            sum(range(20000))
    s = t.summary({0})
    assert s["inner"]["calls"] == 2
    assert abs(s["outer"]["self_s"] - (s["outer"]["total_s"] - s["inner"]["total_s"])) < 1e-6


def test_spark_counters_window_and_plan_nodes():
    plan = {"nodeName": "Sort", "children": [{"nodeName": "Exchange", "children": [
        {"nodeName": "MapInPandas", "children": []}]}]}
    task = lambda t, run: {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,  # noqa: E731
                           "Task Info": {"Launch Time": t, "Finish Time": t + run},
                           "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": 10**9}}
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 150},
        {"Event": "SparkListenerJobStart", "Submission Time": 50},
        task(150, 10), task(160, 10), task(170, 40), task(20, 10),
        # a longer single-task stage: no skew to read, so it is passed over
        {**task(120, 70), "Stage ID": 2},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 150, "sparkPlanInfo": plan},
    ]
    c = spark_counters(events, 100, 200)
    assert (c["jobs"], c["tasks"], c["stages"]) == (1, 4, 2)
    assert (c["exchanges"], c["sorts"], c["python_nodes"]) == (1, 1, 1)
    assert c["executor_cpu_s"] == 4.0
    assert c["task_skew"] == 4.0


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", ["extract_batch", "resume_iceberg", "dedup_docs"])
def test_smoke_run_passes_its_gate(workload):
    """A tiny traced run of each workload (extract_batch's includes the
    stream probe): every output gate holds and every per-layer metric is
    printed."""
    from perfbench.run import metric_units
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(metric_units("per_layer"))


def test_untraced_run_prints_end_to_end_metrics():
    from perfbench.run import metric_units
    p = _run(["--workload", "extract_batch", "--seed", "4", "--seconds", "1", "--trace", "0"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and set(res["metrics"]) == set(metric_units("end_to_end"))
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "extract_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
