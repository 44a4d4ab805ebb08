"""Relational extraction operators: each a DataFrame -> DataFrame function.

All of these are pure Catalyst column/window/aggregate logic -- zero Python,
zero custom rules (SURVEY.md section 7.2).  They share ONE partitioning,
``hash(conv_id, turn_idx)``, established once upstream; every window below
declares exactly that partitioning, so Spark inserts sorts but no further
exchanges.  Keying on the *turn* (not the conversation) is the skew answer:
a hot conversation with 10^5 turns spreads over the cluster, while a single
turn (<=~MBs) is always one task's worth of work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig

TURN_KEYS = ["conv_id", "turn_idx"]

def _cand_order():
    """Total order within a turn -- the tie-break that makes output stable
    under any partitioning/retry (SURVEY.md 7.3 hard part #2)."""
    return [F.col("start").asc(), F.col("end").desc(), F.col("kind").asc(), F.col("block_idx").asc()]


def detect(turns: DataFrame, detect_udf, num_partitions: int | None = None) -> DataFrame:
    """parse+segment+detect -> one row per turn: (keys, norm_text, cands CSV).

    Order matters for the shuffle count: Spark's EvalPythonExec does not
    propagate output partitioning, so the detect kernel runs BEFORE the
    pipeline's single repartition (on whatever partitioning the scan
    produced -- the kernel is per-row, placement-free), and only the
    compact (norm_text, cands-CSV) pair crosses the wire, text exactly
    once.  Both downstream branches (slim candidates; canvas join-back)
    read THIS exchange -- ReuseExchange dedups it, so the UDF runs once
    and the pipeline keeps a single shuffle.
    """
    det = turns.select(
        "conv_id", "turn_idx",
        detect_udf("text").alias("det"),
    )
    if num_partitions:
        det = det.repartition(num_partitions, *TURN_KEYS)
    else:
        det = det.repartition(*TURN_KEYS)
    return det.select("conv_id", "turn_idx", F.col("det.norm_text").alias("norm_text"),
                      F.col("det.cands").alias("cands"))


def candidates(det: DataFrame) -> DataFrame:
    """Unpack the candidate CSV JVM-side: explode rows, split fields -- all
    whole-stage codegen.  The canvas travels on ONLY the first candidate
    row of each turn (posexplode pos==0), so the suppress/cluster window
    sorts and the merge aggregate move slim int rows; `merge` re-broadcasts
    it per turn with an unordered window max.  (Measured alternatives: the
    canvas on EVERY row inflates sort/agg memory traffic ~3x; a slim-rows +
    join-canvas-back plan cannot share the exchange -- column pruning
    diverges the subtrees, ReuseExchange never fires, the detect kernel
    runs twice.)  Empty cands -> empty array -> the turn drops, matching
    the reference's empty-detection skip (run_pipeline.py:187).
    """
    exploded = det.select(
        "conv_id", "turn_idx", "norm_text",
        F.explode(
            F.when(F.col("cands") == "", F.array().cast("array<string>"))
             .otherwise(F.split("cands", ";"))
        ).alias("cs"),
    ).withColumn("p", F.split("cs", ","))
    return exploded.select(
        "conv_id", "turn_idx",
        F.when(F.col("p")[0] == "-1", F.col("norm_text")).alias("norm_text"),
        F.col("p")[0].cast("int").alias("block_idx"),
        F.col("p")[1].cast("int").alias("start"),
        F.col("p")[2].cast("int").alias("end"),
        F.when(F.col("p")[3] == "0", F.lit("code")).otherwise(F.lit("content")).alias("kind"),
        F.col("p")[4].cast("int").alias("conf_milli"),
        F.col("p")[5].cast("int").alias("line_start"),
        F.col("p")[6].cast("int").alias("line_end"),
    )


def suppress(cands: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Containment suppression as a running-max sweep.

    Replaces the reference's O(n^2) greedy pairwise loop
    (grouping_logic.py:190-255) with an O(n log n) window: sorted by
    (start asc, end desc), a span covered >= contain_threshold by
    ``max(end) over preceding rows`` is dropped.  In 1-D the covering
    overlap with the best predecessor is exactly ``min(end, runmax) - start``
    because every predecessor starts at or before us.
    """
    w = Window.partitionBy(*TURN_KEYS).orderBy(*_cand_order())
    runmax = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    covered = F.least(F.col("end"), runmax) - F.col("start")
    suppressed = (
        runmax.isNotNull()
        & (runmax > F.col("start"))
        & (covered * 1000 >= F.lit(cfg.contain_threshold_milli) * (F.col("end") - F.col("start")))
    )
    return cands.withColumn("_sup", suppressed).filter(~F.col("_sup")).drop("_sup")


def cluster(kept: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Interval-union clustering via two window functions.

    The 1-D replacement for proximity-graph DFS
    (grouping_logic.py:438-532): ``is_new = start > max(end) over preceding
    + gap``; ``cluster_id = sum(is_new) over unbounded-preceding..current``.
    Same sort order as `suppress`, so the physical plan reuses one sort.
    """
    w = Window.partitionBy(*TURN_KEYS).orderBy(*_cand_order())
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    # prev_max < 0 <=> only the canvas sentinel precedes: a real span always
    # starts its own cluster so the sentinel's cluster stays singleton
    is_new = F.when(
        prev_max.isNull() | (prev_max < 0) | (F.col("start") > prev_max + cfg.proximity_gap), 1
    ).otherwise(0)
    return kept.withColumn(
        "cluster_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def merge(clustered: DataFrame) -> DataFrame:
    """Per-cluster interval union + provenance set union
    (grouping_logic.py:266-322): a plain hash aggregate -- partial+final
    map-side combine for free.  Order-free aggregates only (min/max/set),
    so results are bit-stable under any task ordering.
    """
    agged = clustered.groupBy(*TURN_KEYS, "cluster_id").agg(
        F.min("start").alias("m_start"),
        F.max("end").alias("m_end"),
        F.min("kind").alias("kind"),                      # 'code' < 'content': code wins
        F.min("conf_milli").alias("conf_milli"),
        F.min("line_start").alias("line_start"),
        F.max("line_end").alias("line_end"),
        # collect block INDEXES (ints: cheap object agg), mint the id
        # strings only on the ~1 merged row per turn below
        F.array_sort(F.collect_set("block_idx")).alias("block_idxs"),
        # the canvas rode in on the sentinel row only; max(string) ignores
        # nulls, then the unordered window below re-broadcasts it to the
        # turn's real clusters and the sentinel cluster is dropped
        F.max("norm_text").alias("norm_text"),
    )
    w = Window.partitionBy(*TURN_KEYS)
    return (
        agged
        .withColumn("norm_text", F.max("norm_text").over(w))
        .filter(F.col("m_start") >= 0)
        .withColumn(
            "provenance",
            F.transform("block_idxs", lambda i: F.format_string("%s_%d_B%04d", "conv_id", "turn_idx", i)),
        )
        .withColumn("is_grouped", F.size("provenance") > 1)
        .drop("block_idxs")
    )


def crop(merged: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Padded, clamped substring extraction (cropping_Images.py:41-53).

    Zero-size crops are dropped (F7).  `substr` is 1-based:
    ``text[c_start:c_end] == substr(c_start+1, c_end-c_start)``.
    """
    n = F.length("norm_text")
    # pad, clamped at canvas bounds AND the span's own line boundaries
    # (spec.line_bounds -- keeps adjacent-line boilerplate bytes out)
    c_start = F.greatest(F.lit(0), F.col("m_start") - cfg.pad, F.col("line_start"))
    c_end = F.least(n, F.col("m_end") + cfg.pad, F.col("line_end"))
    return (
        merged
        .withColumn("start", c_start)
        .withColumn("end", c_end)
        .filter(F.col("end") > F.col("start"))
        .withColumn("cropped", F.col("norm_text").substr(F.col("start") + 1, F.col("end") - F.col("start")))
        # F6 empty-text drop, JVM-side: both normalizers return '' iff the
        # crop is all ASCII whitespace, so this predicate is byte-equivalent
        # to filtering on the normalizer output -- and it runs BEFORE the
        # rank window, keeping span_rank identical to the oracle's.
        # rlike short-circuits on the first non-whitespace char (vs a full
        # regexp_replace pass over every crop).
        .filter(F.col("cropped").rlike(r"[^ \t\r\n\f\x0b]"))
    )


_WS = r" \t\r\n\f\x0b"


def normalize(cropped: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Confidence-gated normalizer (text_recognition.py:111-131 analogue).

    Pure JVM: the spec normalizers are exact ASCII-whitespace regex
    rewrites -- primary = strip ends, fallback = strip + collapse runs to
    one space ('  '.join(split()) equivalence) -- so whole-stage codegen
    handles them and the expensive path keeps exactly ONE Python kernel
    (detect).  The empty-text drop (F6) already happened JVM-side in
    `crop`.
    """
    trimmed = F.regexp_replace("cropped", f"^[{_WS}]+|[{_WS}]+$", "")
    collapsed = F.regexp_replace(trimmed, f"[{_WS}]+", " ")
    is_primary = F.col("conf_milli") >= cfg.conf_threshold_milli
    return (
        cropped
        .withColumn("text", F.when(is_primary, trimmed).otherwise(collapsed))
        .withColumn("method", F.when(is_primary, F.lit("primary")).otherwise(F.lit("fallback")))
        .drop("cropped")
    )


def coord(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Offset conversions (convert_coord.py:17-23 + bbox_normalized,
    grouping_logic.py:886-893): fraction of canvas + scaled-and-rounded
    point offsets.  Integer inputs, single division/multiplication each --
    bit-identical across engines."""
    n = F.length("norm_text")
    return (
        df
        .withColumn("start_frac", F.col("start").cast("double") / n)
        .withColumn("end_frac", F.col("end").cast("double") / n)
        .withColumn("start_norm", F.round(F.col("start") * F.lit(cfg.coord_scale), cfg.coord_round))
        .withColumn("end_norm", F.round(F.col("end") * F.lit(cfg.coord_scale), cfg.coord_round))
        .withColumn("confidence", F.col("conf_milli").cast("double") / 1000.0)
    )


def rank(df: DataFrame) -> DataFrame:
    """Stable span numbering (crop_{i:04d} analogue, cropping_Images.py:55):
    row_number over the turn partition, total-ordered by (start, end, kind)."""
    w = Window.partitionBy(*TURN_KEYS).orderBy("start", "end", "kind")
    return df.withColumn("span_rank", F.row_number().over(w))


OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "span_rank", "start", "end",
    "start_frac", "end_frac", "start_norm", "end_norm",
    "kind", "text", "confidence", "method", "provenance", "is_grouped",
]
