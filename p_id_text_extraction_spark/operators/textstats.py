"""Text-analysis operators over a documents table (training-data pipeline ops).

Every score is either an integer milli-unit or a single IEEE-double op on
integers, so the DuckDB oracle reproduces values bit-for-bit.  All logic is
JVM-side `pyspark.sql.functions` -- whole-stage codegen -- except winnowing,
a per-document Arrow kernel (``winnow_fingerprints_kernel``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p_id_text_extraction_spark.util import fan_out

# stopword markers for the n-gram-free language-ID heuristic.  The SQL
# twins spell the word boundary \b, and RE2 (DuckDB) counts only ASCII
# characters as word characters: it finds "and" inside "ñandú", where
# Java's Unicode-aware \b finds none.  Explicit ASCII lookarounds give
# Spark RE2's boundary.
_ASCII_WORD = "[a-zA-Z0-9_]"
LANG_MARKERS = [
    (code, f"(?<!{_ASCII_WORD})({words})(?!{_ASCII_WORD})")
    for code, words in [("en", "the|and|of|to"), ("es", "el|la|de|que"),
                        ("fr", "le|la|et|les"), ("de", "der|die|und|das")]
]


def n_tokens_col() -> F.Column:
    """THE whitespace token count (never fork: corpus gates and the stats
    rollup must count the same tokens).  NULL text counts as empty -- the
    SQL twins coalesce the same way; without the guard Spark's size() of a
    null split yields -1 while DuckDB's len() yields NULL."""
    trimmed = F.trim(F.coalesce(F.col("text"), F.lit("")))
    return (F.when(F.length(trimmed) == 0, F.lit(0))
            .otherwise(F.size(F.split(trimmed, " +"))))


_ALPHA_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_DIGIT_CHARS = "0123456789"


def _count_of(chars: str) -> F.Column:
    """Count of ``chars`` occurrences in `text` as length minus the length
    after translate-deleting them -- a single char-map pass instead of a
    regex scan (translate(text, chars, '') deletes exactly that set, so
    n - len(result) == len(regexp_replace(text, '[^chars]', '')) for any
    input including non-ASCII; the regexp twin counts the same chars)."""
    return F.length("text") - F.length(F.translate("text", chars, ""))


def quality_milli_col() -> F.Column:
    """THE quality score (alpha density minus half the digit density, in
    milli-units; never fork -- corpus_clean's gate and corpus_stats'
    dashboard must agree)."""
    n = F.length("text")
    return (F.floor(F.lit(1000) * _count_of(_ALPHA_CHARS) / n).cast("int")
            - F.floor(F.lit(500) * _count_of(_DIGIT_CHARS) / n).cast("int"))


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token counting + a BPE-ish subword estimate.

    ``n_tokens``: split on space runs.  ``n_subwords``: every run of <=4
    chars of the same class (alpha / digit / other) counts one -- a cheap
    deterministic proxy for BPE piece counts.
    """
    trimmed = F.trim(F.col("text"))
    return docs.select(
        "doc_id",
        n_tokens_col().alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        (F.length(trimmed) - F.length(F.regexp_replace(trimmed, r"[a-zA-Z0-9]{1,4}", ""))).alias("subword_chars"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics: length, alpha/space/punct density (milli-units).

    The documents-table analogue of the boilerplate classifier's density
    features (text_detection.py:72-99 analogue; same integer-milli scheme
    as oracle/spec.line_features).
    """
    n = F.length("text")
    alpha = _count_of(_ALPHA_CHARS)
    digit = _count_of(_DIGIT_CHARS)
    space = _count_of(" ")
    return docs.select(
        "doc_id",
        n.alias("n_chars_actual"),
        F.floor(F.lit(1000) * alpha / n).cast("int").alias("alpha_milli"),
        F.floor(F.lit(1000) * digit / n).cast("int").alias("digit_milli"),
        F.floor(F.lit(1000) * space / n).cast("int").alias("space_milli"),
        quality_milli_col().alias("quality_milli"),
    ).filter(n > 0)


def pred_lang_col() -> F.Column:
    """The language-ID expression alone (usable on any table with `text`)."""
    pred = F.lit("unk")
    # build reversed so earlier markers take precedence
    for code, pattern in reversed(LANG_MARKERS):
        pred = F.when(F.regexp_like(F.lower("text"), F.lit(pattern)), F.lit(code)).otherwise(pred)
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic, deterministic),
    alongside the table's ground-truth `lang` column for accuracy joins."""
    return docs.select("doc_id", "lang", pred_lang_col().alias("pred_lang"))


def norm_text_col() -> F.Column:
    """THE canonical text normalization (casefold + collapse space runs +
    trim).  fingerprint, corpus_split, the winnow kernel and the dedup
    operators all derive from this one expression -- corpus_split's
    leakage guarantee (exact dups never straddle the split) is DEFINED by
    staying bit-identical to fingerprint's normalization, so never fork
    it."""
    return F.trim(F.regexp_replace(F.lower("text"), " +", " "))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the casefolded, space-collapsed text
    (rolling-hash analogue; exact-dedup key)."""
    return docs.select("doc_id", F.md5(norm_text_col()).alias("fp"))


def corpus_split(docs: DataFrame, val_permille: int = 100, seed: str = "split-v1") -> DataFrame:
    """Deterministic train/validation split by content hash: a doc lands in
    'val' iff md5_hash60(seed || fingerprint) mod 1000 < val_permille.

    Hashing the CONTENT fingerprint (not the id) keeps exact duplicates on
    the same side of the split -- the leakage rule a real corpus split must
    obey; the seed string versions the split without touching the data.
    Pure codegen, reproducible on any engine, no sampling state.
    """
    from p_id_text_extraction_spark.operators.dedup import md5_hash60
    bucket = F.pmod(md5_hash60(F.concat(F.lit(seed + "|"), F.md5(norm_text_col()))), F.lit(1000))
    return docs.select(
        "doc_id",
        bucket.cast("int").alias("split_bucket"),
        F.when(bucket < val_permille, "val").otherwise("train").alias("split"),
    )


# PII patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# treat identically: explicit character classes, no backrefs, no lookaround
PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^ \t\n]+", "<URL>"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}", "<PHONE>"),
]


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing pass: emails, URLs, phone-shaped numbers replaced by
    placeholder tokens, applied in PII_PATTERNS order (earlier passes can't
    create later matches -- placeholders contain no pattern characters).

    Emits per-doc counts plus the md5 of the redacted text, so the whole
    transformation -- not just the counts -- is value-hash-verified against
    the SQL twin.  All codegen regex, no Python.
    """
    # NULL text redacts as empty (matching the twins' coalesce): size() of
    # a null regexp_extract_all is -1 in Spark but NULL in DuckDB
    red = F.coalesce(F.col("text"), F.lit(""))
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(red, F.lit(pattern), F.lit(0)))
                      .cast("int").alias(f"n_{name}"))
        red = F.regexp_replace(red, pattern, token)
    return docs.select("doc_id", *counts, F.md5(red).alias("redacted_fp"))


def repetition_score(docs: DataFrame) -> DataFrame:
    """Within-document repetition: the line-duplication ratio boilerplate
    and degenerate generations exhibit (a standard corpus-quality gate).

    dup_line_milli = 1000 * (lines - distinct lines) // lines over
    non-empty trimmed lines; 0 for docs without newlines.
    """
    # NULL text scores as zero lines (matching the twin's coalesce)
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    dup = F.when(n > 0, F.floor((F.lit(1000) * (n - nd)) / n)).otherwise(F.lit(0))
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_lines"),
        nd.cast("int").alias("n_distinct_lines"),
        dup.cast("int").alias("dup_line_milli"),
    )


WINNOW_SCHEMA = "doc_id bigint, fp_csv string, n_fps int"


def winnow_fingerprints_kernel(docs: DataFrame, k: int = 8, w: int = 16) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.'s rolling-hash
    scheme, the standard plagiarism/near-dup fingerprint): hash every
    char ``k``-gram, slide a window of ``w`` consecutive hashes, keep each
    window's minimum -- a document pair sharing any sufficiently long run
    of text shares a fingerprint.  Emits (doc_id, fp_csv, n_fps): the
    distinct selected hashes as a CSV sorted AS STRINGS.

    The per-k-gram hash is the engine-portable md5-60bit
    (``dedup.char_gram_digests``; a true rolling polynomial would be cheaper
    per gram but has no DuckDB twin -- the selection logic, the part
    winnowing actually defines, is identical).  The reference is the
    DuckDB twin (``queries._WINNOW_SQL``).

    A ZERO-SHUFFLE Arrow kernel: winnowing is per-document, so the
    relational shape (an interpreted ``transform(sequence, substr)`` gram
    lambda, the exploded grams across an exchange, an O(n*w) sliding-min
    window) paid for communication it never needed -- sf10: 234 s -> 75 s.
    Normalize JVM-side, then hash grams and take window minima via a
    numpy sliding view (C speed).  Like the dedup kernels, the slim
    (doc_id, t) rows go through ``util.fan_out`` first: a single-file
    corpus would otherwise run one Python worker."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from p_id_text_extraction_spark.operators.dedup import char_gram_digests

    norm = norm_text_col()
    pruned = fan_out(docs.select("doc_id", norm.alias("t")).filter(F.length(norm) >= k))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, csvs, counts = [], [], []
            for doc_id, t in zip(pdf["doc_id"].tolist(), pdf["t"].tolist()):
                if len(t) - (k - 1) < w:   # no FULL window -> no row (as SQL)
                    continue
                hs = char_gram_digests(t, k)
                mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
                # the twin sorts the CSV as STRINGS (list_sort over VARCHAR)
                # -- numeric order would diverge ("100" < "2" < "20")
                uniq = sorted({str(x) for x in np.unique(mins).tolist()})
                ids.append(doc_id)
                csvs.append(",".join(uniq))
                counts.append(len(uniq))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "fp_csv": pd.Series(csvs, dtype="object"),
                                "n_fps": pd.Series(counts, dtype="int32")})

    return pruned.mapInPandas(kernel, WINNOW_SCHEMA)


def corpus_clean(docs: DataFrame, min_quality_milli: int = 200,
                 min_tokens: int = 5, langs: tuple[str, ...] = ("en",)) -> DataFrame:
    """The canonical training-data curation pass, composed from the ops
    above: exact-dedup to canonical docs (min doc_id per fingerprint
    group), then gate on quality score, token count, and language.

    Scale shape: ONE pass computes fingerprint + every gate metric, and
    canonical selection is `doc_id == min(doc_id) over (partition by fp)`
    -- a single fingerprint-keyed exchange instead of the previous
    fingerprint hash-agg plus three doc_id equi-joins, each of which
    re-scanned and re-derived the documents table (4 scans, 8 exchanges
    -> 1 scan, 1 exchange; sf1 noop wall 3.6s -> measured below).  Same
    rows by construction: the min-doc_id representative of a fingerprint
    group evaluates the same gates on its own row either way."""
    base = docs.select(
        "doc_id",
        F.md5(norm_text_col()).alias("fp"),
        # guarded in place: the twin's q CTE drops zero-length text, so its
        # quality is NULL here and fails the gate below.  A filter could
        # not do it -- canonical selection runs over ALL documents, and the
        # window keeps Catalyst from pushing a filter below the division
        F.when(F.length("text") > 0, quality_milli_col()).alias("quality_milli"),
        # pred_lang_col directly: corpus_clean must not require the
        # documents table's ground-truth `lang` column it never reads
        pred_lang_col().alias("pred_lang"),
        n_tokens_col().alias("n_tokens"),
    )
    w = Window.partitionBy("fp")
    return (
        base
        .withColumn("_min_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("_min_id"))
            & (F.col("quality_milli") >= min_quality_milli)
            & (F.col("n_tokens") >= min_tokens)
            & F.col("pred_lang").isin(*langs)
        )
        .select("doc_id", "pred_lang", "quality_milli", "n_tokens")
    )
