"""Custom stateful streaming operator via applyInPandasWithState.

Per-conversation progress tracking across micro-batches: the state store
carries (turns_seen, max_turn_idx, emits) per conv_id, surviving both
micro-batch boundaries and full query restarts (the state lives in the
checkpoint).  This is the engine's `applyInPandasWithState` surface -- the
API a heavier custom operator (e.g. a cross-batch dedup cache or a
conversation-completion detector) would use; the tracker keeps the state
schema small and the semantics testable.

Sink: parquet doesn't accept update mode, so each batch's updated rows land
through foreachBatch into a batch_id partition that replaces itself
(util.replace_partitions) -- the same replay-idempotent protocol as
extract_stream.py.  The LATEST state of a conversation is the row with its
highest batch_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from p_id_text_extraction_spark.util import replace_partitions

OUTPUT_SCHEMA = "conv_id string, turns_seen long, max_turn_idx int, emits int"
STATE_SCHEMA = "turns_seen long, max_turn_idx int, emits int"


def _track(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    turns = 0
    mx = -1
    for pdf in pdfs:
        turns += len(pdf)
        if len(pdf):
            mx = max(mx, int(pdf["turn_idx"].max()))
    if state.exists:
        ts, m, e = state.get
    else:
        ts, m, e = 0, -1, 0
    ts += turns
    m = max(m, mx)
    e += 1
    state.update((ts, m, e))
    yield pd.DataFrame([{"conv_id": key[0], "turns_seen": ts, "max_turn_idx": m, "emits": e}])


def conv_progress_stream(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Track per-conversation progress over a streaming transcripts source.

    ``stream`` must carry (conv_id string, turn_idx int, ...).  Returns the
    started query; callers awaitTermination().
    """
    updates = (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _track, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout,
        )
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        replace_partitions(batch_df.withColumn("batch_id", F.lit(batch_id)), output_dir,
                           ("batch_id",), [{"batch_id": int(batch_id)}])

    writer = (updates.writeStream.outputMode("update")
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
