"""Seeded input generators for the three workloads and the stream probe.

Everything here is a pure function of the seed: the same seed gives
byte-identical files.  Transcript text comes only from the engine's public
generators (``gen_conv``, ``gen_skew_turns``); the seed salts the
conversation ids or is the generator's own seed.  Documents come from the
committed sf0.1-derived corpus under a seed-salted vocabulary translation.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from p_id_text_extraction_spark.sources.transcripts import gen_conv, gen_skew_turns
from tools.gen_sf1 import KEEP

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

DOCS_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

# extract_batch: bench-generator conversations (1-50 turns each, the
# FIXTURES payload mix), spread over several files so local[4] fans out
BATCH_CONVS = 640
BATCH_FILES = 8

# stream probe: turns per dropped file, fixed so the offered load is the
# same for every seed
STREAM_TURNS_PER_FILE = 80

# dedup_docs: the committed sf0.1-derived corpus (make_docs_base.py),
# translated per shard as tools/gen_sf1.py does
DOCS_BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_base.parquet")
# one shard: at tools/gen_sf1.py's 10 an operation takes ~14 s and the
# DuckDB reference ~10x longer, beyond a run's time budget (README.md)
DOC_SHARDS = 1


def batch_turns(seed: int) -> list[dict]:
    rows: list[dict] = []
    for i in range(BATCH_CONVS):
        rows.extend(gen_conv(f"b{seed}-{i:06d}", 50))
    return rows


def skew_turns(seed: int) -> list[dict]:
    """The engine's skew fixture: 50 seeded normal conversations plus one
    hot conversation of 5000 turns with a ~200 KB mega-turn every 250."""
    return gen_skew_turns(seed)


def stream_file_turns(seed: int, i: int) -> list[dict]:
    rows: list[dict] = []
    c = 0
    while len(rows) < STREAM_TURNS_PER_FILE:
        rows.extend(gen_conv(f"s{seed}-{i:05d}-{c}", 50))
        c += 1
    return rows[:STREAM_TURNS_PER_FILE]


def transcripts_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=TRANSCRIPT_ARROW)


def write_parquet_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for j in range(n_files):
        pq.write_table(table.slice(j * step, step), os.path.join(out_dir, f"part-{j:03d}.parquet"))


# --------------------------------------------------------------------------
# documents (dedup_docs)
# --------------------------------------------------------------------------

_LETTERS = str.maketrans("0123456789", "ghijklmnop")


def translate_text(text: str | None, salt: str, memo: dict[str, str] | None = None) -> str | None:
    """``tools/gen_sf1.translate_tokens`` with a free-form salt: every token
    maps to an 8-letter pseudo-word keyed by ``salt``; language-marker
    stopwords, empty tokens and line breaks stay, so the lang-id mix and the
    exact-dup, near-dup and n-gram-overlap structure of a document set
    survive bit for bit."""
    if text is None:
        return None
    memo = {} if memo is None else memo
    key = f"|{salt}".encode()

    def tr(t: str) -> str:
        if "\n" in t:
            return "\n".join(tr(p) for p in t.split("\n"))
        if t in KEEP or t == "":
            return t
        w = memo.get(t)
        if w is None:
            w = memo[t] = hashlib.md5(t.encode() + key).hexdigest()[:8].translate(_LETTERS)
        return w

    return " ".join(tr(t) for t in text.split(" "))


def docs_table(seed: int) -> pa.Table:
    """``DOC_SHARDS`` shards of the committed sf0.1-derived base corpus,
    each under the translation salted with (seed, shard), doc ids offset per
    shard as ``tools/gen_sf1.py`` does: within a shard the structure is
    sf0.1's, across shards the vocabularies are disjoint, and the bytes
    change with the seed."""
    base = pq.read_table(DOCS_BASE)
    texts = base.column("text").to_pylist()
    n_base = max(base.column("doc_id").to_pylist()) + 1
    ids, out, n_chars = [], [], []
    for shard in range(DOC_SHARDS):
        memo: dict[str, str] = {}
        out.extend(translate_text(t, f"{seed}|{shard}", memo) for t in texts)
        if len(set(memo.values())) != len(memo):
            raise RuntimeError(f"vocabulary translation not injective for seed {seed} shard {shard}")
        ids.extend(d + shard * n_base for d in base.column("doc_id").to_pylist())
    n_chars = [len(t) for t in out]
    return pa.Table.from_pydict(
        {"doc_id": ids, "text": out,
         "lang": base.column("lang").to_pylist() * DOC_SHARDS,
         "source": base.column("source").to_pylist() * DOC_SHARDS,
         "n_chars": n_chars},
        schema=DOCS_ARROW)
