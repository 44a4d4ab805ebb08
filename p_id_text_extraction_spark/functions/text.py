"""Scalar column helpers (SURVEY.md section 2.2 projections)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def block_number(block_id: Column | str) -> Column:
    """P6: parse the trailing block index from '{conv}_{turn}_B0021' -> 21;
    0 on malformed input (grouping_logic.py:257-264 analogue)."""
    return F.coalesce(
        F.nullif(F.regexp_extract(block_id, r"_B(\d+)$", 1), F.lit("")).cast("int"),
        F.lit(0),
    )


def mint_block_id(conv_id: Column | str, turn_idx: Column | str, idx: Column | str) -> Column:
    """Block-id mint, '%s_%d_B%04d' (sahi_slicer.py:106 analogue) --
    JVM-side twin of oracle.spec.block_id."""
    return F.format_string("%s_%d_B%04d", F.col(conv_id) if isinstance(conv_id, str) else conv_id,
                           F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx,
                           F.col(idx) if isinstance(idx, str) else idx)

