"""Rebuild ``perfbench/data/documents_base.parquet`` from an sf0.1 directory.

    python3 perfbench/make_docs_base.py <sf0.1 dir>

The base corpus of ``dedup_docs`` is the sf0.1 ``documents.parquet`` under
one fixed vocabulary translation (``gen.translate_text`` with the salt
``base``), so the committed file carries sf0.1's document count, token
lengths, near-duplicate pairs and background n-gram overlap but not its
words.  A run never reads the sf0.1 directory; it translates this file
again per (seed, shard).
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = pq.read_table(os.path.join(argv[0], "documents.parquet"),
                        columns=["doc_id", "text", "lang", "source"]).sort_by("doc_id")
    texts = [gen.translate_text(t, "base") for t in src.column("text").to_pylist()]
    out = pa.table({"doc_id": src.column("doc_id"), "text": pa.array(texts, pa.string()),
                    "lang": src.column("lang"), "source": src.column("source")})
    os.makedirs(os.path.dirname(gen.DOCS_BASE), exist_ok=True)
    pq.write_table(out, gen.DOCS_BASE, compression="zstd", compression_level=19)
    print(f"{out.num_rows} documents -> {gen.DOCS_BASE}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
