"""Arrow-batched pandas UDF kernels -- the only Python in the hot path.

Two kernels: the relational plan's detect UDF (where the reference *has*
to run a model, text_detection.py:72-81) and the fused strategy's
whole-turn rows kernel.  Both call the shared `oracle.spec` functions, so
distributed output is byte-identical to the pure-Python oracle by
construction.

Batches arrive via Arrow (`spark.sql.execution.arrow.pyspark.enabled`);
regexes compile once per executor process at import time -- the analogue of
loading TrOCR once per process (text_recognition.py:37-51).
"""

from __future__ import annotations

import pandas as pd
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.oracle import spec

# Candidates travel Python->JVM as ONE compact CSV string per turn
# ("idx,start,end,kindflag,conf,linestart,lineend;..."): Arrow's string
# fast path is ~10x cheaper than converting a list of Python dicts to
# array<struct>, and the JVM explode+split that unpacks it is whole-stage
# codegen.  Measured: the nested-struct variant spent ~7s/task in
# conversion at 310k turns; this one is I/O-shaped.
DETECT_RESULT = T.StructType([
    T.StructField("norm_text", T.StringType(), False),
    T.StructField("cands", T.StringType(), False),
])


def make_detect_udf(cfg: ExtractConfig = DEFAULT_CONFIG):
    """parse + segment + detect in one kernel.

    Runs BEFORE the pipeline's single repartition (EvalPythonExec drops
    partitioning info, so placement before the exchange costs nothing), and
    only (norm_text, cands-CSV) strings cross the Python/JVM boundary --
    the raw payload never ships again and Arrow stays on its string fast
    path.  The JVM unpacks the CSV with codegen'd explode+split
    (operators/extract.candidates).
    """

    @pandas_udf(DETECT_RESULT)
    def detect(text: pd.Series) -> pd.DataFrame:
        KIND_CODE = spec.KIND_CODE
        norm_texts: list[str] = []
        cands_col: list[str] = []
        for txt in text.tolist():  # plain-list iteration beats Series iteration
            norm_text = spec.parse_canvas(txt if isinstance(txt, str) else None)
            # one-pass segment+detect+line_bounds (same order as the staged
            # nested loops: block-major, position-minor)
            parts = [
                f"{idx},{g_start},{g_end},{'0' if kind == KIND_CODE else '1'},"
                f"{conf},{ls},{le}"
                for idx, g_start, g_end, kind, conf, ls, le
                in spec.detect_all_spans(norm_text, cfg)
            ]
            if parts:
                # sentinel entry (block -1, span [-1,-1)): sorts first, can
                # never be suppressed or absorb a real cluster, and is the
                # row that carries the canvas text through the slim
                # windows; merge re-broadcasts and drops it (operators/
                # extract.merge)
                parts.insert(0, "-1,-1,-1,1,0,0,0")
            norm_texts.append(norm_text)
            cands_col.append(";".join(parts))
        return pd.DataFrame({"norm_text": norm_texts, "cands": cands_col})

    return detect


SPAN_ROW_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("span_rank", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("start_frac", T.DoubleType(), False),
    T.StructField("end_frac", T.DoubleType(), False),
    T.StructField("start_norm", T.DoubleType(), False),
    T.StructField("end_norm", T.DoubleType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("method", T.StringType(), False),
    T.StructField("provenance", T.ArrayType(T.StringType(), False), False),
    T.StructField("is_grouped", T.BooleanType(), False),
])

_SPAN_COLS = [f.name for f in SPAN_ROW_SCHEMA.fields]


class LineageCounts:
    """Lineage counters of the fused kernel's tasks, folded into running
    sums: ``turns`` and ``spans`` per restart bucket, ``write_rows`` (spans)
    per hash partition of the write, and the detected ``candidates``.

    ``seen`` holds the partition ids of the kernel tasks counted so far.  A
    task's counts enter the sums the first time its partition id arrives
    and are dropped after that: the kernel is deterministic, so a
    re-executed stage, a second action or a recomputed partition re-sends
    the same counts and the sums stay exact.  The state is
    O(kernel tasks + buckets + write partitions)."""

    def __init__(self) -> None:
        self.seen: set[int] = set()
        self.turns: dict[int, int] = {}
        self.spans: dict[int, int] = {}
        self.write_rows: dict[int, int] = {}
        self.candidates = 0

    def merge(self, other: LineageCounts) -> LineageCounts:
        if other.seen <= self.seen:
            return self
        if not other.seen.isdisjoint(self.seen):
            # one task sends one partition id, so this cannot happen
            raise ValueError("lineage counts of overlapping task sets cannot be merged exactly")
        self.seen |= other.seen
        for mine, theirs in ((self.turns, other.turns), (self.spans, other.spans),
                             (self.write_rows, other.write_rows)):
            _add_counts(mine, theirs.items())
        self.candidates += other.candidates
        return self

    def count_batch(self, pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        """Count one batch's turns and spans; return ``out`` with the
        turns' ``bucket_id``.  Both keys are functions of conv_id, so the
        spans are attributed through a per-conversation lookup, outside
        the per-turn loop."""
        keys = pdf[["conv_id", "bucket_id", "write_pid"]].drop_duplicates("conv_id").set_index("conv_id")
        buckets = out["conv_id"].map(keys["bucket_id"])
        _add_counts(self.turns, pdf["bucket_id"].value_counts().items())
        _add_counts(self.spans, buckets.value_counts().items())
        _add_counts(self.write_rows, out["conv_id"].map(keys["write_pid"]).value_counts().items())
        return out.assign(bucket_id=buckets.astype("int32"))


def _add_counts(into: dict[int, int], items) -> None:
    for k, v in items:
        into[int(k)] = into.get(int(k), 0) + int(v)


class FirstWinsParam(AccumulatorParam):
    """Accumulator merge for `LineageCounts`: first value per partition id
    wins, never an add over a re-sent one."""

    def zero(self, value: LineageCounts) -> LineageCounts:
        return LineageCounts()

    def addInPlace(self, value1: LineageCounts, value2: LineageCounts) -> LineageCounts:
        return value1.merge(value2)


COUNTED_SPAN_ROW_SCHEMA = T.StructType(
    SPAN_ROW_SCHEMA.fields + [T.StructField("bucket_id", T.IntegerType(), True)])


def make_extract_rows_kernel(cfg: ExtractConfig = DEFAULT_CONFIG,
                             counter: Accumulator | None = None):
    """mapInPandas kernel for the FUSED strategy: the whole per-turn oracle
    (parse -> segment -> detect -> suppress -> cluster -> merge -> crop ->
    normalize -> coord -> rank) in one Arrow-batched pass, emitting final
    span rows directly.

    Every post-detect stage keys on (conv_id, turn_idx) and the kernel sees
    each turn whole, so nothing relational remains between the scan and the
    sink: the physical plan is Scan -> MapInPandas -- ZERO exchanges, zero
    sorts, embarrassingly parallel at any cluster size.  Byte-equality with
    the oracle is structural (the kernel IS oracle.pipeline.extract_turn_tuples).
    The relational strategy (plans/pipeline.extract_pipeline) keeps the
    declarative window/aggregate algebra as the golden cross-check; both
    are tested against the same oracle.

    ``counter``: a Spark accumulator of `LineageCounts` (merged with
    `FirstWinsParam`).  The batches then also carry ``bucket_id`` (passed
    through to the spans, `COUNTED_SPAN_ROW_SCHEMA`) and ``write_pid``, the
    partition id the write's hash partitioning gives the turn's spans.  The
    kernel counts turns and spans per bucket, spans per write partition
    and the detected candidates of the sweep it already runs
    (``extract_turn_tuples(stats=...)``), and sends them once per task,
    after its last batch, keyed by the task's partition id: the counts are
    exact under task retries, stage resubmission and repeated actions.
    """
    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples

    def kernel(batches):
        counts = LineageCounts() if counter is not None else None
        stats = {"candidates_in": 0} if counter is not None else None
        for pdf in batches:
            rows: list[tuple] = []
            for conv_id, turn_idx, txt in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()
            ):
                rows.extend(extract_turn_tuples(
                    conv_id, int(turn_idx), txt if isinstance(txt, str) else None, cfg=cfg,
                    stats=stats,
                ))
            out = pd.DataFrame(rows, columns=_SPAN_COLS)
            yield out if counts is None else counts.count_batch(pdf, out)
        if counts is not None:
            from pyspark import TaskContext
            counts.seen.add(TaskContext.get().partitionId())
            counts.candidates = stats["candidates_in"]
            counter.add(counts)

    return kernel
