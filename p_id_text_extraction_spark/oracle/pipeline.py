"""Pure-Python oracle: the full extraction pipeline on one turn at a time.

This is the executable spec for the *relational* stages -- suppression,
clustering, merge, crop, coord, ordering -- mirroring the reference logic
(grouping_logic.py:190-532, cropping_Images.py:41-68, convert_coord.py:17-23)
in <=40-line functions (SURVEY.md section 7.1 step 1).  pytest compares the
distributed Spark pipeline's output against this per turn, byte-equal.

Spec deviations from the reference, fixed deliberately (SURVEY 7.3 #3):
  * suppression is a deterministic forward sweep over spans sorted by
    (start asc, end desc): a span covered >= contain_threshold by the
    running max end of ALL preceding spans (kept or not) is dropped.  The
    reference's greedy pairwise loop skips already-suppressed boxes
    (grouping_logic.py:213-214); the all-rows running max is used here
    because it is order-free and window-expressible.  The oracle defines
    truth.
  * merged-span kind is the lexicographic MIN of member kinds ('code' wins),
    not first-box inheritance (grouping_logic.py:316-320) -- order-free.
  * merged confidence is the MIN of member confidences (integer milli),
    not the mean (text_recognition.py:93) -- order-free, exact.
"""

from __future__ import annotations

from typing import Any

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.oracle import spec


def candidates_for_turn(
    conv_id: str, turn_idx: int, text: str | None, role: str | None, tool: str | None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> tuple[str, list[dict[str, Any]]]:
    """parse -> segment -> detect -> globalize.  Returns (norm_text, candidates)."""
    norm_text, _kind = spec.parse_payload(text, role, tool)
    cands: list[dict[str, Any]] = []
    for idx, b_start, b_end in spec.segment_offsets(len(norm_text), cfg):
        for s, e, kind, conf in spec.detect_spans(norm_text, b_start, b_end, cfg):
            g_start, g_end = b_start + s, b_start + e  # local -> global shift (grouping_logic.py:94-116)
            ls, le = spec.line_bounds(norm_text, g_start, g_end)
            cands.append({
                "block_idx": idx,
                "block_id": spec.block_id(conv_id, turn_idx, idx),
                "start": g_start,
                "end": g_end,
                "kind": kind,
                "conf_milli": conf,
                "line_start": ls,
                "line_end": le,
            })
    return norm_text, cands


def suppress(cands: list[dict], cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Containment sweep (grouping_logic.py:190-255 as a running-max window)."""
    ordered = sorted(cands, key=lambda c: (c["start"], -c["end"], c["kind"], c["block_idx"]))
    kept: list[dict] = []
    runmax = None
    for c in ordered:
        if runmax is not None and runmax > c["start"]:
            cov = min(c["end"], runmax) - c["start"]
            if 1000 * cov >= cfg.contain_threshold_milli * (c["end"] - c["start"]):
                runmax = max(runmax, c["end"])
                continue
        kept.append(c)
        runmax = c["end"] if runmax is None else max(runmax, c["end"])
    return kept


def cluster(kept: list[dict], cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Interval-union clustering: cumulative-sum-of-gaps cluster ids
    (the 1-D replacement for graph DFS, grouping_logic.py:438-532)."""
    out: list[dict] = []
    runmax = None
    cid = 0
    for c in sorted(kept, key=lambda c: (c["start"], -c["end"], c["kind"], c["block_idx"])):
        if runmax is None or c["start"] > runmax + cfg.proximity_gap:
            cid += 1
        runmax = c["end"] if runmax is None else max(runmax, c["end"])
        out.append({**c, "cluster_id": cid})
    return out


def merge(clustered: list[dict]) -> list[dict]:
    """Per-cluster fold: interval union + provenance set union
    (grouping_logic.py:266-322)."""
    groups: dict[int, list[dict]] = {}
    for c in clustered:
        groups.setdefault(c["cluster_id"], []).append(c)
    merged: list[dict] = []
    for cid in sorted(groups):
        ms = groups[cid]
        # numeric sort by block index (not lexicographic id sort): keeps
        # provenance order stable past 9999 blocks per turn
        block_ids = sorted({m["block_id"] for m in ms},
                           key=lambda b: int(b.rsplit("_B", 1)[1]))
        merged.append({
            "start": min(m["start"] for m in ms),
            "end": max(m["end"] for m in ms),
            "kind": min(m["kind"] for m in ms),
            "conf_milli": min(m["conf_milli"] for m in ms),
            "line_start": min(m["line_start"] for m in ms),
            "line_end": max(m["line_end"] for m in ms),
            "provenance": block_ids,
            "is_grouped": len(block_ids) > 1,
        })
    return merged


def finalize(
    conv_id: str, turn_idx: int, norm_text: str, merged: list[dict],
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> list[dict]:
    """crop -> normalize -> coord -> stable rank.  One output row per span."""
    n = len(norm_text)
    rows: list[dict] = []
    for m in merged:
        # cropping_Images.py:44-47 + line-boundary clamp (spec.line_bounds)
        c_start = max(0, m["start"] - cfg.pad, m["line_start"])
        c_end = min(n, m["end"] + cfg.pad, m["line_end"])
        if c_end <= c_start:                              # zero-size crop skip (F7)
            continue
        out_text, method = spec.normalize_text(norm_text[c_start:c_end], m["conf_milli"], cfg)
        if not out_text:                                  # empty-text drop (F6)
            continue
        rows.append({
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "start": c_start,
            "end": c_end,
            "start_frac": c_start / n,
            "end_frac": c_end / n,
            "start_norm": round(c_start * cfg.coord_scale, cfg.coord_round),
            "end_norm": round(c_end * cfg.coord_scale, cfg.coord_round),
            "kind": m["kind"],
            "text": out_text,
            "confidence": m["conf_milli"] / 1000.0,
            "method": method,
            "provenance": m["provenance"],
            "is_grouped": m["is_grouped"],
        })
    rows.sort(key=lambda r: (r["start"], r["end"], r["kind"]))
    for rank, r in enumerate(rows, start=1):
        r["span_rank"] = rank
    return rows


OUTPUT_FIELDS = (
    "conv_id", "turn_idx", "span_rank", "start", "end",
    "start_frac", "end_frac", "start_norm", "end_norm",
    "kind", "text", "confidence", "method", "provenance", "is_grouped",
)


def extract_turn_tuples(
    conv_id: str, turn_idx: int, text: str | None, role: str | None = None,
    tool: str | None = None, cfg: ExtractConfig = DEFAULT_CONFIG,
    stats: dict[str, int] | None = None,
) -> list[tuple]:
    """Full oracle pipeline for one turn, fused into a single sorted sweep.

    This is the HOT implementation (the distributed kernel in
    functions/udfs.py calls it per turn): suppress, cluster and merge all
    consume the same (start asc, end desc, kind, block_idx) order, so one
    sort + one pass computes them together -- suppress tracks its running
    max over ALL rows, cluster over KEPT rows, merge folds the open
    cluster's accumulators (exactly the staged semantics; the
    tests/test_spec.py property pins `extract_turn` == staged composition).
    Returns tuples in OUTPUT_FIELDS order.

    ``stats``: when given, ``stats["candidates_in"]`` grows by this turn's
    detected candidate count (the same sweep input, no second detect pass)
    -- the lineage counter the relational plan observes as candidates_in.
    """
    norm_text = spec.parse_canvas(text)
    n = len(norm_text)
    # one-pass segment+detect+line_bounds (spec.detect_all_spans is
    # property-pinned against the staged composition)
    cands = [(g_start, -g_end, kind, idx, conf, ls, le)
             for idx, g_start, g_end, kind, conf, ls, le
             in spec.detect_all_spans(norm_text, cfg)]
    if stats is not None:
        stats["candidates_in"] += len(cands)
    if not cands:
        return []
    cands.sort()

    thresh = cfg.contain_threshold_milli
    gap = cfg.proximity_gap
    pad = cfg.pad
    coord_scale = cfg.coord_scale
    coord_round = cfg.coord_round
    sup_runmax = None          # suppress: running max over ALL rows
    cl_runmax = None           # cluster: running max over KEPT rows
    clusters: list[list] = []  # [m_start, m_end, kind, conf, ls, le, {idx}]
    cur: list | None = None
    for g_start, neg_end, kind, idx, conf, ls, le in cands:
        g_end = -neg_end
        if sup_runmax is not None:
            if sup_runmax > g_start and \
               1000 * (min(g_end, sup_runmax) - g_start) >= thresh * (g_end - g_start):
                if g_end > sup_runmax:
                    sup_runmax = g_end
                continue
            if g_end > sup_runmax:
                sup_runmax = g_end
        else:
            sup_runmax = g_end
        if cl_runmax is None or g_start > cl_runmax + gap:
            cur = [g_start, g_end, kind, conf, ls, le, {idx}]
            clusters.append(cur)
        else:
            if g_end > cur[1]:
                cur[1] = g_end
            if kind < cur[2]:
                cur[2] = kind
            if conf < cur[3]:
                cur[3] = conf
            if ls < cur[4]:
                cur[4] = ls
            if le > cur[5]:
                cur[5] = le
            cur[6].add(idx)
        cl_runmax = g_end if cl_runmax is None or g_end > cl_runmax else cl_runmax

    rows: list[tuple] = []
    pref = f"{conv_id}_{turn_idx}_B"   # hoisted: one interpolation per turn
    for m_start, m_end, kind, conf, ls, le, idxs in clusters:
        c_start = max(0, m_start - pad, ls)
        c_end = min(n, m_end + pad, le)
        if c_end <= c_start:                              # zero-size crop skip (F7)
            continue
        out_text, method = spec.normalize_text(norm_text[c_start:c_end], conf, cfg)
        if not out_text:                                  # empty-text drop (F6)
            continue
        rows.append((
            c_start, c_end, kind, out_text, method,
            [pref + "%04d" % i for i in sorted(idxs)],
            len(idxs) > 1, conf,
        ))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    return [
        (conv_id, turn_idx, rank, c_start, c_end,
         c_start / n, c_end / n,
         round(c_start * coord_scale, coord_round),
         round(c_end * coord_scale, coord_round),
         kind, out_text, conf / 1000.0, method, provenance, grouped)
        for rank, (c_start, c_end, kind, out_text, method, provenance, grouped, conf)
        in enumerate(rows, start=1)
    ]


def extract_turn(
    conv_id: str, turn_idx: int, text: str | None, role: str | None = None,
    tool: str | None = None, cfg: ExtractConfig = DEFAULT_CONFIG,
) -> list[dict]:
    """Full oracle pipeline for one turn (dict rows)."""
    return [dict(zip(OUTPUT_FIELDS, t))
            for t in extract_turn_tuples(conv_id, turn_idx, text, role, tool, cfg)]


def extract_turn_staged(
    conv_id: str, turn_idx: int, text: str | None, role: str | None = None,
    tool: str | None = None, cfg: ExtractConfig = DEFAULT_CONFIG,
) -> list[dict]:
    """The stage-by-stage composition -- the readable reference decomposition
    the fused sweep must match (property-tested in tests/test_spec.py)."""
    norm_text, cands = candidates_for_turn(conv_id, turn_idx, text, role, tool, cfg)
    return finalize(conv_id, turn_idx, norm_text, merge(cluster(suppress(cands, cfg), cfg)), cfg)


def extract_table(turns: list[dict], cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Oracle over a list of turn dicts; stable (conv_id, turn_idx, span_rank) order."""
    rows: list[dict] = []
    for t in sorted(turns, key=lambda t: (t["conv_id"], t["turn_idx"])):
        rows.extend(extract_turn(t["conv_id"], t["turn_idx"], t.get("text"),
                                 t.get("role"), t.get("tool"), cfg))
    return rows
