"""Pipeline assembly: one lazy DataFrame chain, one shuffle, plus metrics.

The Spark equivalent of `run_pipeline.py:331-395`'s nine sequential stages:
``read -> [anti-join checkpoint] -> repartition(conv_id, turn_idx) ->
detect_udf+explode -> window sweep (suppress) -> window (cluster) ->
groupBy agg (merge) -> substring (crop) -> normalize_udf -> coord ->
row_number (rank) -> write`` (SURVEY.md section 3.1).  Catalyst sees a
single declarative plan; the only exchange is the upfront repartition --
the suppress/cluster windows, the merge aggregate and the rank window all
declare (a superset of) the same clustering keys.
"""

from __future__ import annotations

from pyspark.accumulators import Accumulator
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.functions.udfs import make_detect_udf
from p_id_text_extraction_spark.operators import extract as ops


def extract_pipeline(
    turns: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Full extraction plan over a transcripts DataFrame.

    Output schema per FIXTURES.md section 2 (the `extracted_spans` table).
    Pass an `Observation` to collect lineage counters (turns in, candidate
    spans, the analogue of grouping_logic.py:966-989's printed metrics)
    without a second pass over the data.
    """
    cfg.validate()
    detect_udf = make_detect_udf(cfg)

    det = ops.detect(turns, detect_udf, num_partitions)
    cands = ops.candidates(det)
    if observation is not None:
        # counters ride the candidate scan -- no extra job.  DISTINCT is
        # not allowed in observed metrics; the canvas sentinel (exactly one
        # per non-empty turn) doubles as the turn counter.
        cands = cands.observe(
            observation,
            F.sum(F.when(F.col("block_idx") == -1, 1).otherwise(0)).alias("turns_with_candidates"),
            F.sum(F.when(F.col("block_idx") >= 0, 1).otherwise(0)).alias("candidates_in"),
        )
    kept = ops.suppress(cands, cfg)
    merged = ops.merge(ops.cluster(kept, cfg))
    final = ops.normalize(ops.rank(ops.coord(ops.crop(merged, cfg), cfg)), cfg)
    return final.select(*ops.OUTPUT_COLUMNS)


def extract_pipeline_fused(
    turns: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    counter: Accumulator | None = None,
) -> DataFrame:
    """FUSED strategy: the entire per-turn pipeline inside one Arrow kernel.

    Plan = Scan -> MapInPandas.  Zero exchanges, zero sorts: every stage
    after detect is local to (conv_id, turn_idx) and the kernel sees each
    turn whole, so there is nothing to shuffle -- the map-only shape is the
    minimal-communication plan for this computation and scales linearly
    with executors (the north_rule two-cluster-size criterion).  Same
    output schema and bytes as `extract_pipeline` (golden-tested).  This
    is the production path; the relational plan stays as the extract_full
    query and the golden cross-check.

    ``counter``: optional `functions.udfs.LineageCounts` accumulator.
    ``turns`` must then carry ``bucket_id`` and ``write_pid``; the spans
    carry ``bucket_id`` and the kernel's counts are exact (see
    `functions.udfs.make_extract_rows_kernel`).
    """
    cfg.validate()
    from p_id_text_extraction_spark.functions import udfs
    cols, schema = ["conv_id", "turn_idx", "text"], udfs.SPAN_ROW_SCHEMA
    if counter is not None:
        cols, schema = cols + ["bucket_id", "write_pid"], udfs.COUNTED_SPAN_ROW_SCHEMA
    return turns.select(*cols).mapInPandas(udfs.make_extract_rows_kernel(cfg, counter), schema)
