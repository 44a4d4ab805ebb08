"""Streaming wrapper (SURVEY.md section 2.9).

The reference is pure batch and so is the north_rule target; per the survey
note, the per-turn pipeline needs nothing stateful across micro-batches --
every operator keys on (conv_id, turn_idx) within the batch.  So streaming
support is exactly `foreachBatch` over the SAME batch plan: late-arriving
turns simply land in a later micro-batch and produce their spans then.
Checkpointing is Structured Streaming's own WAL; the batch engine's
manifest-based resume (plans/checkpoint.py) is for spark-submit batch jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
from p_id_text_extraction_spark.util import replace_partitions


def extract_stream(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    trigger_available_now: bool = True,
    catalog: str = "parquet",
) -> StreamingQuery:
    """Run the extraction pipeline over a streaming transcripts source.

    ``stream`` must be a readStream DataFrame with the transcript schema.
    Each micro-batch runs the batch production plan (the fused map-only
    kernel, plans/pipeline.extract_pipeline_fused) and replaces its own
    ``batch_id=N`` partition (util.replace_partitions), mirroring
    plans/checkpoint.py's bucket protocol: foreachBatch is at-least-once
    (a micro-batch retried after a mid-write failure re-executes), so the
    write must be idempotent PER BATCH -- a retry fully rewrites its own
    partition instead of appending a second copy of the spans.

    ``catalog='iceberg'`` lands each micro-batch as an atomic
    overwrite-partitions snapshot on an Iceberg-format table (replaced =
    this batch_id), so a retried batch replaces itself atomically and
    concurrent readers never observe a half-written batch.
    """
    if catalog not in ("parquet", "iceberg"):
        raise ValueError(f"unknown catalog {catalog!r}: use 'parquet' or 'iceberg'")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spans = extract_pipeline_fused(batch_df, cfg).withColumn("batch_id", F.lit(batch_id))
        replaced = [{"batch_id": int(batch_id)}]
        if catalog == "iceberg":
            from p_id_text_extraction_spark.sources import iceberg as icemod
            icemod.ensure_table(batch_df.sparkSession, output_dir,
                                spans.schema, ("batch_id",))
            icemod.overwrite_span_partitions(spans, output_dir, ("batch_id",), replaced)
        else:
            replace_partitions(spans, output_dir, ("batch_id",), replaced)

    writer = stream.writeStream.foreachBatch(process_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
