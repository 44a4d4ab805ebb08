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
from pyspark.accumulators import Accumulator
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


def make_extract_rows_kernel(cfg: ExtractConfig = DEFAULT_CONFIG,
                             candidates: Accumulator | None = None):
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

    ``candidates``: a Spark accumulator that receives, once per Arrow
    batch, the detected candidate count of the sweep the kernel already
    runs (``extract_turn_tuples(stats=...)``).  Accumulators updated in a
    transformation OVER-COUNT when a task is retried, a stage resubmitted
    or a cached partition recomputed: read the value once, right after the
    first action that materializes the plan, and treat it as telemetry --
    never gate correctness on it.
    """
    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples

    def kernel(batches):
        for pdf in batches:
            rows: list[tuple] = []
            stats = {"candidates_in": 0} if candidates is not None else None
            for conv_id, turn_idx, txt in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()
            ):
                rows.extend(extract_turn_tuples(
                    conv_id, int(turn_idx), txt if isinstance(txt, str) else None, cfg=cfg,
                    stats=stats,
                ))
            if stats is not None:
                candidates.add(stats["candidates_in"])
            yield pd.DataFrame(rows, columns=_SPAN_COLS)

    return kernel

