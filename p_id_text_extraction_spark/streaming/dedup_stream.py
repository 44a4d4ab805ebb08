"""Streaming exact dedup: emit each document fingerprint's FIRST-SEEN row.

The cross-batch dedup cache `state_stream.py`'s docstring promises: a
training-data ingest stream must admit a document only if no earlier
micro-batch (or an earlier row of the same batch) already carried the
same canonical content.  State is keyed BY THE FINGERPRINT itself, so
the state store shards with the fingerprint hash exactly like the batch
operator's groupBy -- per-group state is one tiny (first_doc_id,
n_seen, last_seen_ms) tuple, and a hot fingerprint (a viral boilerplate
document) concentrates state reads, not state size.

Semantics (mirrors `operators/dedup.exact_dups`' canonicalization):
  * fingerprint = md5 of the canonical normalization
    (`textstats.norm_text_col`), the SAME derivation the batch exact
    dedup and corpus_split use -- stream and batch agree on what "the
    same document" means;
  * the canonical row is the minimum doc_id within the fingerprint's
    FIRST batch; later batches never re-admit (stream order wins);
  * every batch re-emits the fingerprint's running n_seen with
    ``is_new=False``, so dup counts stay auditable; the state survives
    query restarts via the checkpoint;
  * rows with NULL doc_id or NULL text are dropped BEFORE the stateful
    operator (the batch operator's NULL-text contract) -- a NaN doc_id
    reaching the kernel would kill the query inside
    applyInPandasWithState, far too late to recover.

State retention (opt-in ``state_ttl_ms``): an infinite stream cannot
carry an ever-growing fingerprint map -- at 100-TB ingest the state
store IS the bottleneck.  With a TTL the contract weakens from
admit-once-ever to ADMIT-ONCE-WITHIN-HORIZON: a fingerprint unseen for
``state_ttl_ms`` of processing time is evicted (its counts reset) and
the next occurrence is re-admitted as a fresh canonical row.  Two
mechanisms cooperate: (a) a ProcessingTimeTimeout physically removes
idle keys' state at the next micro-batch, and (b) the kernel itself
checks the stored last-seen stamp so a key whose data arrives AFTER the
horizon -- before the timeout callback got a chance to run -- is also
re-admitted (Spark delivers data in preference to the timeout, so the
callback alone would under-evict).  Within the horizon the semantics
are byte-identical to the unbounded default.

Sink protocol: applyInPandasWithState requires update mode, so batches
land through foreachBatch into a batch_id partition that replaces itself
(util.replace_partitions) -- replay of a failed batch overwrites its own
partition, the same idempotence contract as extract_stream.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from p_id_text_extraction_spark.util import replace_partitions

OUTPUT_SCHEMA = "fingerprint string, doc_id bigint, n_seen bigint, is_new boolean"
STATE_SCHEMA = "first_doc_id bigint, n_seen bigint, last_seen_ms bigint"

_EMPTY = pd.DataFrame({"fingerprint": pd.Series([], dtype="object"),
                       "doc_id": pd.Series([], dtype="int64"),
                       "n_seen": pd.Series([], dtype="int64"),
                       "is_new": pd.Series([], dtype="bool")})


def _make_first_seen(ttl_ms: int | None):
    def _first_seen(key: tuple, pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past the horizon with no new data: physically evict
            state.remove()
            yield _EMPTY
            return
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        now_ms = int(time.time() * 1000)
        if state.exists:
            first, seen, last_seen = state.get
            if ttl_ms is not None and now_ms - last_seen > ttl_ms:
                # data arrived after the horizon but before the timeout
                # callback ran: expired state must not suppress re-admission
                first, seen, is_new = min(ids), len(ids), True
            else:
                seen += len(ids)
                is_new = False
        else:
            first, seen = min(ids), len(ids)
            is_new = True
        state.update((first, seen, now_ms))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        # first batch emits the ADMITTED row (is_new); later batches emit
        # count updates so the dup tally stays auditable downstream
        yield pd.DataFrame({"fingerprint": [key[0]], "doc_id": [first],
                            "n_seen": [seen], "is_new": [is_new]})

    return _first_seen


def dedup_stream(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """First-seen exact dedup over a streaming documents source.

    ``stream`` must carry (doc_id bigint, text string).  Emits one row
    per touched fingerprint per batch: the first carries ``is_new=True``
    (the admitted canonical doc), later ones are running-count updates
    (``is_new=False``) -- consumers filter on is_new, auditors read each
    fingerprint's latest row.  ``state_ttl_ms`` bounds the state store:
    fingerprints idle that long are evicted and later occurrences
    re-admitted (admit-once-within-horizon; see module docstring).
    Returns the started query; callers awaitTermination().  NOTE: with a
    TTL set, Spark schedules no-data micro-batches to fire pending state
    timeouts, so even an availableNow query does not self-terminate --
    drive it with processAllAvailable()/stop() or run it continuous."""
    from p_id_text_extraction_spark.operators.textstats import norm_text_col
    fp = F.md5(norm_text_col())
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    admitted = (
        stream.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _make_first_seen(state_ttl_ms), OUTPUT_SCHEMA, STATE_SCHEMA,
            "update", timeout,
        )
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        replace_partitions(batch_df.filter(F.col("doc_id").isNotNull())
                           .withColumn("batch_id", F.lit(batch_id)),
                           output_dir, ("batch_id",), [{"batch_id": int(batch_id)}])

    writer = (admitted.writeStream.outputMode("update")
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
