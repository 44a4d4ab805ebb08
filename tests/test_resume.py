"""Checkpoint/resume property tests (SURVEY.md section 5 strategy #3,
FIXTURES.md section 3): kill-and-resume must be byte-identical to an
uninterrupted run; a completed manifest must skip all work."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from p_id_text_extraction_spark.config import ExtractConfig
from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples
from p_id_text_extraction_spark.plans.checkpoint import job_fingerprint, run_with_resume
from p_id_text_extraction_spark.sources.transcripts import gen_skew_turns, gen_turns, transcripts_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEY = ["conv_id", "turn_idx", "span_rank"]


@pytest.fixture(scope="module")
def turns_df(spark):
    return transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))


def _rows(spark, path):
    return [tuple(r) for r in spark.read.parquet(path)
            .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]


def test_kill_and_resume_identical(spark, turns_df, tmp_path):
    full_out, full_man = str(tmp_path / "of"), str(tmp_path / "mf")
    res_out, res_man = str(tmp_path / "or"), str(tmp_path / "mr")

    run_with_resume(spark, turns_df, full_out, full_man, n_buckets=8)

    r1 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8, bucket_filter=[0, 1, 2, 3])
    assert r1["buckets_completed"] == 4
    r2 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8)
    assert r2["buckets_completed"] == 4

    assert _rows(spark, res_out) == _rows(spark, full_out)

    # idempotent no-op on a complete manifest
    r3 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8)
    assert r3["buckets_completed"] == 0


def test_manifest_lineage_counters(spark, turns_df, tmp_path):
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=4)
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 4
    assert sum(r.turns_in for r in rows) == turns_df.count()
    assert sum(r.spans_out for r in rows) == spark.read.parquet(out).count()
    for r in rows:
        assert r.spans_out >= 0 and r.turns_in > 0
        # boxes-before/after ratio analogue (grouping_logic.py:978-983)
        assert 0.0 <= r.classifier_drop_rate < 1.0
        assert r.input_probe == "counted"
    # write-stage skew counters: run-level, stamped on every bucket row;
    # plan arithmetic -- max covers the pigeonhole bound of the total over
    # the write partitioning, median never exceeds max
    import math
    total = sum(r.spans_out for r in rows)
    n_write = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for r in rows:
        assert 0 < r.task_rows_median <= r.task_rows_max <= total
        assert r.task_rows_max >= math.ceil(total / n_write)


def test_manifest_skew_counters_flag_hot_conversation(spark, tmp_path):
    """A hot conversation (5000 turns vs max-20 elsewhere) concentrates
    its spans in one write task -- the manifest's task_rows_max/median
    ratio must surface it, which is the production observability the
    skew story promises."""
    turns = transcripts_df(spark, gen_skew_turns())
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    r = run_with_resume(spark, turns, out, man, n_buckets=4)
    assert r["task_rows_max"] / max(1, r["task_rows_median"]) > 2
    rows = spark.read.parquet(man).collect()
    assert all(row.task_rows_max == r["task_rows_max"] for row in rows)


def test_manifest_flags_hash_empty_buckets(spark, turns_df, tmp_path):
    """A todo bucket the conv-id hash leaves empty is recorded complete,
    but with input_probe='hash_empty_verified' -- the audit trail that
    distinguishes 'legitimately empty under a healthy input' from 'input
    listing was missing files' (ADVICE round 2)."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    # 256 buckets over 40 convs guarantees many hash-empty buckets
    run_with_resume(spark, turns_df, out, man, n_buckets=256)
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 256
    probes = {r.input_probe for r in rows if r.turns_in == 0}
    assert probes == {"hash_empty_verified"}
    assert all(r.input_probe == "counted" for r in rows if r.turns_in > 0)


def test_fingerprint_isolation(spark, turns_df, tmp_path):
    """A manifest row from one config never satisfies another config,
    and a bucketing change is a config change (ADVICE round 1)."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=4)
    cfg2 = ExtractConfig(pad=4)
    assert job_fingerprint(cfg2, 4) != job_fingerprint(ExtractConfig(), 4)
    assert job_fingerprint(ExtractConfig(), 4) != job_fingerprint(ExtractConfig(), 16)
    r = run_with_resume(spark, turns_df, str(tmp_path / "o2"), man, cfg=cfg2, n_buckets=4)
    assert r["buckets_completed"] == 4  # nothing skipped


def _relational(turns):
    """The relational plan's spans, and classifier_drop_rate as its
    observe() lineage gives it: (candidates_in - spans) / candidates_in."""
    from pyspark.sql import Observation

    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
    obs = Observation("lineage")
    # one action, no orderBy: a range-partition sample job would re-run the
    # observed node and inflate the metric
    rows = sorted((tuple(r) for r in extract_pipeline(turns, observation=obs).collect()),
                  key=lambda t: t[:3])
    candidates_in = obs.get["candidates_in"]
    return rows, (candidates_in - len(rows)) / candidates_in


def test_resume_equals_relational_plan_and_drop_rate(spark, turns_df, tmp_path):
    """run_with_resume (the fused kernel) writes exactly the relational
    plan's spans, and its accumulator-fed manifest drop rate equals the
    relational observe() value -- on the golden corpus and the skew
    fixture."""
    skew = transcripts_df(spark, gen_skew_turns(1))
    for i, turns in enumerate((turns_df, skew)):
        out, man = str(tmp_path / f"o{i}"), str(tmp_path / f"m{i}")
        run_with_resume(spark, turns, out, man, n_buckets=4)
        want, drop_rate = _relational(turns)
        assert _rows(spark, out) == want and want
        assert 0.0 < drop_rate < 1.0
        rates = {r.classifier_drop_rate for r in spark.read.parquet(man).collect()}
        assert rates == {drop_rate}


def _jobs(spark, group, call):
    """Run ``call`` under a Spark job group; return (its result, the
    number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("catalog", ["parquet", "iceberg"])
def test_noop_resume_runs_no_pipeline(spark, turns_df, tmp_path, catalog):
    """A resume over a complete manifest reads the done set and stops: no
    Spark job on the Iceberg catalog (the driver reads the manifest's
    files), one on parquet, no Iceberg snapshot, same return value as
    ever."""
    from p_id_text_extraction_spark.sources import iceberg_format as ice
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=8, catalog=catalog)
    snaps = ((ice.snapshot_ids(out), ice.snapshot_ids(man))
             if catalog == "iceberg" else None)
    r, jobs = _jobs(spark, f"noop-resume-{catalog}", lambda: run_with_resume(
        spark, turns_df, out, man, n_buckets=8, catalog=catalog))
    assert jobs <= (0 if catalog == "iceberg" else 1)
    assert {k: v for k, v in r.items() if k != "fingerprint"} == \
        {"buckets_completed": 0, "task_rows_max": 0, "task_rows_median": 0}
    if catalog == "iceberg":
        assert (ice.snapshot_ids(out), ice.snapshot_ids(man)) == snaps


@pytest.mark.parametrize("catalog", ["parquet", "iceberg"])
def test_noop_resume_builds_no_plan(spark, turns_df, tmp_path, monkeypatch, catalog):
    """A resume over a complete manifest returns before it builds the
    extraction plan."""
    from p_id_text_extraction_spark.plans import checkpoint
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=8, catalog=catalog)

    def no_plan(*args, **kwargs):
        raise AssertionError("a no-op resume built the extraction plan")

    monkeypatch.setattr(checkpoint, "extract_pipeline_fused", no_plan)
    r = run_with_resume(spark, turns_df, out, man, n_buckets=8, catalog=catalog)
    assert r["buckets_completed"] == 0


# Spark jobs a killed call (fresh manifest) and its resume launch on this
# fixture, as measured: the shuffle and result stages of the spans write
# (the kernel counts every manifest counter on the way); the parquet
# catalog adds its manifest write, and its resume adds the done-set
# collect (the Iceberg done set is read on the driver).
JOBS_PER_CALL = {"parquet": (3, 4), "iceberg": (2, 2)}


def _sql_plans_since(spark, last_id):
    """Physical plan texts of the SQL executions with id > ``last_id``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= last_id:
            break
        plans.append(e.physicalPlanDescription())
    return plans


def _last_sql_id(spark):
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


@pytest.mark.parametrize("catalog", ["parquet", "iceberg"])
def test_resume_plan_has_no_join(spark, turns_df, tmp_path, catalog):
    """The resume anti-join is evaluated on the driver: a killed call on a
    fresh manifest plans no Join, its kernel (MapInPandas) sits below the
    write's single Exchange, and the killed and resume calls stay within
    their measured Spark job counts."""
    import re
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    last_id = _last_sql_id(spark)
    r1, killed_jobs = _jobs(spark, f"killed-{catalog}", lambda: run_with_resume(
        spark, turns_df, out, man, n_buckets=8, bucket_filter=[0, 1, 2, 3], catalog=catalog))
    plans = _sql_plans_since(spark, last_id)
    assert r1["buckets_completed"] == 4
    assert plans and not any("Join" in p for p in plans)
    # the parquet write is Spark's file command; the Iceberg-format tasks
    # write their own files from a MapInArrow
    writer = "InsertIntoHadoopFsRelationCommand" if catalog == "parquet" else "MapInArrow"
    write = [p for p in plans if writer in p and "MapInPandas" in p]
    assert len(write) == 1
    # each exchange shows up in the initial and the final AQE plan: compare
    # partitionings, not nodes
    parts = {re.sub(r"#\d+", "", m) for m in
             re.findall(r"Arguments: (hashpartitioning\([^)]*\))", write[0])}
    assert parts == {"hashpartitioning(bucket_id, conv_id, 4)"}
    tree = write[0].split("\n\n")[0]
    assert tree.index("Exchange") < tree.index("MapInPandas")

    r2, resume_jobs = _jobs(spark, f"resume-{catalog}", lambda: run_with_resume(
        spark, turns_df, out, man, n_buckets=8, catalog=catalog))
    assert r2["buckets_completed"] == 4
    assert killed_jobs <= JOBS_PER_CALL[catalog][0]
    assert resume_jobs <= JOBS_PER_CALL[catalog][1]


def test_kill_and_resume_over_file_uri(spark, turns_df, tmp_path):
    """A file:// manifest and output resume like plain paths: the resume
    finds the killed call's manifest rows (the probe goes through the
    Hadoop FileSystem API), redoes only the missing buckets, and a third
    call is a no-op."""
    out, man = (tmp_path / "o").as_uri(), (tmp_path / "m").as_uri()
    done = [run_with_resume(spark, turns_df, out, man, n_buckets=4, **kw)["buckets_completed"]
            for kw in ({"bucket_filter": [0, 1]}, {}, {})]
    assert done == [2, 2, 0]
    assert sorted(r.bucket_id for r in spark.read.parquet(man).collect()) == [0, 1, 2, 3]
    run_with_resume(spark, turns_df, str(tmp_path / "pq"), str(tmp_path / "pqm"), n_buckets=4)
    assert _rows(spark, out) == _rows(spark, str(tmp_path / "pq"))


def test_zero_span_todo_bucket_cleared(spark, tmp_path):
    """A todo bucket that yields zero spans must still clear its partition:
    dynamic overwrite alone rewrites nothing for it, silently keeping rows
    from an aborted earlier attempt (ADVICE round 1)."""
    out = str(tmp_path / "o")
    turns_a = transcripts_df(spark, [
        {"conv_id": "k", "turn_idx": 0, "role": "user",
         "text": "Seventeen engineers review pipeline design documents today.",
         "tool": None, "ts": None},
    ])
    # attempt 1 writes spans but "dies" before its manifest append lands
    run_with_resume(spark, turns_a, out, str(tmp_path / "m1"), n_buckets=1)
    fp = job_fingerprint(ExtractConfig(), 1)
    part = os.path.join(out, f"job_fingerprint={fp}", "bucket_id=0")
    assert any(f.endswith(".parquet") for f in os.listdir(part))
    # retry with the same fingerprint: the conv's text now yields ZERO spans
    turns_b = transcripts_df(spark, [
        {"conv_id": "k", "turn_idx": 0, "role": "user", "text": "", "tool": None, "ts": None},
    ])
    run_with_resume(spark, turns_b, out, str(tmp_path / "m2"), n_buckets=1)
    assert not os.path.isdir(part) or not any(f.endswith(".parquet") for f in os.listdir(part))


def test_replace_partitions_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """With the session in static overwrite mode, replace_partitions still
    replaces only its partitions (k=2, neither listed nor written,
    survives a rewrite of k=1), and no conf call names the session's
    partition overwrite mode: the dynamic mode is a write option."""
    from pyspark.sql.conf import RuntimeConfig

    from p_id_text_extraction_spark.util import replace_partitions
    key = "spark.sql.sources.partitionOverwriteMode"
    out = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.partitionBy("k").parquet(out)
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    named = []
    set_ = RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set",
                        lambda self, k, v: (named.append(k), set_(self, k, v))[1])
    monkeypatch.setattr(RuntimeConfig, "unset", lambda self, k: named.append(k))
    try:
        replace_partitions(spark.createDataFrame([(1, "c")], "k int, v string"),
                           out, ("k",), [{"k": 1}])
        mode = spark.conf.get(key)
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
    assert sorted(map(tuple, spark.read.parquet(out).select("k", "v").collect())) == [
        (1, "c"), (2, "b")]
    assert key not in named
    assert mode.lower() == "static"


def test_resume_churn_matrix_isolation(spark, turns_df, tmp_path):
    """Interleaved config AND bucketing churn over SHARED output/manifest
    dirs (VERDICT r2 item 7): A-run (killed half-way), B-run (different
    config and n_buckets, uninterrupted), then A-resume.  Each
    fingerprint's rows must be byte-equal to its own isolated
    uninterrupted run -- zero cross-contamination in either direction,
    and neither run may satisfy or clear the other's buckets."""
    out, man = str(tmp_path / "shared_out"), str(tmp_path / "shared_man")
    cfg_a, nb_a = ExtractConfig(), 8
    cfg_b, nb_b = ExtractConfig(pad=4), 4

    ra1 = run_with_resume(spark, turns_df, out, man, cfg=cfg_a, n_buckets=nb_a,
                          bucket_filter=[0, 1, 2, 3])
    rb = run_with_resume(spark, turns_df, out, man, cfg=cfg_b, n_buckets=nb_b)
    ra2 = run_with_resume(spark, turns_df, out, man, cfg=cfg_a, n_buckets=nb_a)
    assert (ra1["buckets_completed"], rb["buckets_completed"], ra2["buckets_completed"]) \
        == (4, 4, 4)

    # isolated uninterrupted baselines
    run_with_resume(spark, turns_df, str(tmp_path / "ia"), str(tmp_path / "iam"),
                    cfg=cfg_a, n_buckets=nb_a)
    run_with_resume(spark, turns_df, str(tmp_path / "ib"), str(tmp_path / "ibm"),
                    cfg=cfg_b, n_buckets=nb_b)

    fp_a, fp_b = job_fingerprint(cfg_a, nb_a), job_fingerprint(cfg_b, nb_b)
    shared = spark.read.parquet(out)
    assert set(r.job_fingerprint for r in shared.select("job_fingerprint").distinct().collect()) \
        == {fp_a, fp_b}

    def rows(df):
        return [tuple(r) for r in df.drop("bucket_id", "job_fingerprint")
                .orderBy(*KEY).collect()]

    assert rows(shared.filter(shared.job_fingerprint == fp_a)) \
        == _rows(spark, str(tmp_path / "ia"))
    assert rows(shared.filter(shared.job_fingerprint == fp_b)) \
        == _rows(spark, str(tmp_path / "ib"))

    # manifest isolation: exactly one row per (fingerprint, bucket), no leaks
    man_rows = spark.read.parquet(man).collect()
    per_fp = {}
    for r in man_rows:
        per_fp.setdefault(r.job_fingerprint, []).append(r.bucket_id)
    assert sorted(per_fp[fp_a]) == list(range(nb_a))
    assert sorted(per_fp[fp_b]) == list(range(nb_b))
    assert set(per_fp) == {fp_a, fp_b}

    # a FOURTH run of either config is a no-op: churn never un-completes work
    assert run_with_resume(spark, turns_df, out, man, cfg=cfg_a,
                           n_buckets=nb_a)["buckets_completed"] == 0
    assert run_with_resume(spark, turns_df, out, man, cfg=cfg_b,
                           n_buckets=nb_b)["buckets_completed"] == 0


def _counting_plan(turns, counter, n_buckets=8, n_write=4):
    """The fused plan as run_with_resume counts it: the kernel's turns
    carry their bucket and the write partition of their spans."""
    from p_id_text_extraction_spark.plans.checkpoint import with_bucket
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
    todo = with_bucket(turns, n_buckets).withColumn(
        "write_pid", F.pmod(F.hash("bucket_id", "conv_id"), F.lit(n_write)))
    return extract_pipeline_fused(todo, counter=counter)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _lineage(spark):
    from p_id_text_extraction_spark.functions.udfs import FirstWinsParam, LineageCounts
    return spark.sparkContext.accumulator(LineageCounts(), FirstWinsParam())


def test_lineage_counts_exact_over_repeated_actions(spark, turns_df):
    """Every action re-runs the kernel; one accumulator over two actions
    (and a third, collecting one) holds exactly one pass's counts, and
    they equal an independent recount of the plan's input and output."""
    from p_id_text_extraction_spark.plans.checkpoint import with_bucket
    once, repeated = _lineage(spark), _lineage(spark)
    _noop(_counting_plan(turns_df, once))
    plan = _counting_plan(turns_df, repeated)
    _noop(plan)
    _noop(plan)
    spans = plan.collect()
    a, b = once.value, repeated.value
    assert (b.seen, b.turns, b.spans, b.write_rows, b.candidates) == \
        (a.seen, a.turns, a.spans, a.write_rows, a.candidates)

    assert a.turns == {r.bucket_id: r["count"]
                       for r in with_bucket(turns_df, 8).groupBy("bucket_id").count().collect()}
    per_bucket: dict[int, int] = {}
    for r in spans:
        per_bucket[r.bucket_id] = per_bucket.get(r.bucket_id, 0) + 1
    assert a.spans == per_bucket and spans
    out = spark.createDataFrame(spans, plan.schema)
    assert a.write_rows == {
        r.pid: r["count"] for r in out.repartition(4, "bucket_id", "conv_id")
        .groupBy(F.spark_partition_id().alias("pid")).count().collect()}
    stats = {"candidates_in": 0}
    for t in turns_df.collect():
        extract_turn_tuples(t.conv_id, t.turn_idx, t.text, stats=stats)
    assert a.candidates == stats["candidates_in"]


def test_lineage_counts_merge_first_wins():
    from p_id_text_extraction_spark.functions.udfs import FirstWinsParam, LineageCounts
    param = FirstWinsParam()

    def task(pid, bucket, n):
        c = LineageCounts()
        c.seen, c.turns, c.spans, c.write_rows, c.candidates = {pid}, {bucket: n}, {bucket: n}, {0: n}, n
        return c

    total = param.zero(None)
    for t in (task(0, 3, 2), task(1, 3, 5), task(0, 3, 2), param.zero(None)):
        total = param.addInPlace(total, t)
    assert (total.seen, total.turns, total.write_rows, total.candidates) == ({0, 1}, {3: 7}, {0: 7}, 7)
    both = param.addInPlace(task(0, 3, 2), task(1, 3, 5))
    with pytest.raises(ValueError):
        param.addInPlace(task(1, 3, 5), both)


_RETRIED_RUN = """
import json, os, sys
from pyspark import TaskContext
from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
from p_id_text_extraction_spark.session import get_spark
src, marks, out, man = sys.argv[1:5]
spark = get_spark(app="retried_resume", cores=4, shuffle_partitions=4,
                  extra={"spark.master": "local[4,2]"})

def fail_once(batches):
    # every input partition fails its first attempt, after the kernel
    # downstream has taken all of its batches
    yield from batches
    mark = os.path.join(marks, str(TaskContext.get().partitionId()))
    if not os.path.exists(mark):
        open(mark, "w").close()
        raise RuntimeError("injected input failure")

turns = spark.read.parquet(src)
print(json.dumps(run_with_resume(spark, turns.mapInPandas(fail_once, turns.schema), out, man,
                                 n_buckets=8)))
spark.stop()
"""


def test_counters_exact_under_task_retries(spark, turns_df, tmp_path):
    """local[4,2]: each input partition's first task attempt fails after
    feeding the kernel, so every kernel task runs twice; the manifest
    still equals an unfailed run's on every column but completed_ts."""
    import json
    import subprocess
    import sys
    src, marks = str(tmp_path / "in"), tmp_path / "marks"
    marks.mkdir()
    turns_df.repartition(3).write.parquet(src)
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    run = subprocess.run([sys.executable, "-c", _RETRIED_RUN, src, str(marks), out, man],
                         cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert json.loads(run.stdout.strip().splitlines()[-1])["buckets_completed"] == 8
    assert len(os.listdir(marks)) == spark.read.parquet(src).rdd.getNumPartitions() > 1

    want_out, want_man = str(tmp_path / "wo"), str(tmp_path / "wm")
    run_with_resume(spark, spark.read.parquet(src), want_out, want_man, n_buckets=8)
    assert _manifest(spark.read.parquet(man)) == _manifest(spark.read.parquet(want_man))
    assert _rows(spark, out) == _rows(spark, want_out)


def _manifest(df):
    return sorted(tuple(r) for r in df.drop("completed_ts").collect())


RECOUNT_FIXTURES = {
    "golden": lambda: gen_turns(40, max_turns=10, seed=3),
    "skew": lambda: gen_skew_turns(1),
    "hash_empty": lambda: gen_turns(3, seed=5),
}


@pytest.mark.parametrize("catalog,layout",
                         [("parquet", "identity"), ("iceberg", "identity"), ("iceberg", "bucket")])
@pytest.mark.parametrize("fixture", sorted(RECOUNT_FIXTURES))
def test_manifest_counters_equal_recount(spark, tmp_path, fixture, catalog, layout):
    """Every manifest counter of a killed call and its resume equals a
    recount: turns_in from the bucketed input, spans_out from the spans
    read back, task_rows_* from the read-back under the write's
    (bucket_id, conv_id) partitioning, the drop rate from the oracle's
    candidate count.  No plan of either call caches anything."""
    import statistics

    from p_id_text_extraction_spark.plans.checkpoint import with_bucket
    from p_id_text_extraction_spark.sources import iceberg as ice
    n_buckets, n_write = 8, int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = RECOUNT_FIXTURES[fixture]()
    turns = transcripts_df(spark, rows)
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    calls = [list(range(n_buckets // 2)), list(range(n_buckets // 2, n_buckets))]
    last_id = _last_sql_id(spark)
    for kw in ({"bucket_filter": calls[0]}, {}):
        run_with_resume(spark, turns, out, man, n_buckets=n_buckets, catalog=catalog,
                        spans_layout=layout, **kw)
    plans = _sql_plans_since(spark, last_id)
    assert plans and not any("InMemoryRelation" in p for p in plans)

    read = (lambda p: ice.read_table(spark, p)) if catalog == "iceberg" else spark.read.parquet
    bucket_fn = "iceberg" if layout == "bucket" else "xxhash"
    spans = read(out).drop("job_fingerprint")
    if layout == "bucket":
        spans = with_bucket(spans, n_buckets, bucket_fn)
    bucketed = with_bucket(turns, n_buckets, bucket_fn)
    turns_in = {r.bucket_id: r["count"] for r in bucketed.groupBy("bucket_id").count().collect()}
    spans_out = {r.bucket_id: r["count"] for r in spans.groupBy("bucket_id").count().collect()}
    bucket_of = {r.conv_id: r.bucket_id for r in bucketed.select("conv_id", "bucket_id").collect()}
    manifest = {r.bucket_id: r for r in read(man).collect()}
    assert sorted(manifest) == list(range(n_buckets))

    for call in calls:
        per_task = [r["count"] for r in spans.filter(F.col("bucket_id").isin(call))
                    .repartition(n_write, "bucket_id", "conv_id")
                    .groupBy(F.spark_partition_id()).count().collect()]
        stats = {"candidates_in": 0}
        for t in rows:
            if bucket_of[t["conv_id"]] in call:
                extract_turn_tuples(t["conv_id"], t["turn_idx"], t["text"], stats=stats)
        cands, n_spans = stats["candidates_in"], sum(spans_out.get(b, 0) for b in call)
        want = (max(per_task, default=0),
                int(statistics.median(per_task)) if per_task else 0,
                (cands - n_spans) / cands if cands else 0.0)
        for b in call:
            r = manifest[b]
            assert (r.turns_in, r.spans_out) == (turns_in.get(b, 0), spans_out.get(b, 0))
            assert (r.task_rows_max, r.task_rows_median, r.classifier_drop_rate) == want
            assert r.input_probe == ("counted" if turns_in.get(b) else "hash_empty_verified")
