"""extract_full on the driver's documents-derived transcripts must match
the oracle byte-for-byte (the driver only rows-only-checks this query, so
the equality evidence lives here) -- plus unicode offset consistency."""

from __future__ import annotations

from p_id_text_extraction_spark.oracle.pipeline import extract_table
from p_id_text_extraction_spark.plans.pipeline import extract_pipeline, extract_pipeline_fused
from p_id_text_extraction_spark.sources.transcripts import derive_transcripts_from_documents, transcripts_df

KEY = ["conv_id", "turn_idx", "span_rank"]


def test_documents_derived_byte_equality(spark):
    turns_df = derive_transcripts_from_documents(spark, "/root/testdata/sf0.001")
    turns = [r.asDict() for r in turns_df.collect()]
    got = [
        (r.conv_id, r.turn_idx, r.span_rank, r.start, r.end, r.text, r.kind,
         r.method, r.confidence, list(r.provenance), r.is_grouped)
        for r in extract_pipeline(turns_df).orderBy(*KEY).collect()
    ]
    want = [
        (r["conv_id"], r["turn_idx"], r["span_rank"], r["start"], r["end"], r["text"],
         r["kind"], r["method"], r["confidence"], r["provenance"], r["is_grouped"])
        for r in extract_table(turns)
    ]
    assert len(got) == len(want) > 400
    assert got == want


def test_unicode_offsets_consistent(spark):
    """JVM substr/length index by code points, Python by code points --
    emoji (supplementary plane) and CJK must produce identical spans."""
    turns = [
        {"conv_id": "u", "turn_idx": 0, "role": "user",
         "text": "Grinning face 😀 emoji and 中文文本 inside an ordinary sentence here.",
         "tool": None, "ts": None},
        {"conv_id": "u", "turn_idx": 1, "role": "user",
         "text": "<div><p>café naïve über 😺😸 content paragraph with words</p>"
                 "<nav><a href='/a'>A</a> | <a href='/b'>B</a> | <a href='/c'>C</a></nav></div>",
         "tool": None, "ts": None},
    ]
    got = [
        (r.conv_id, r.turn_idx, r.span_rank, r.start, r.end, r.text)
        for r in extract_pipeline(transcripts_df(spark, turns)).orderBy(*KEY).collect()
    ]
    want = [
        (r["conv_id"], r["turn_idx"], r["span_rank"], r["start"], r["end"], r["text"])
        for r in extract_table(turns)
    ]
    assert got == want
    assert any("😀" in t[5] for t in got)

    # the fused kernel indexes in Python code points end-to-end; its output
    # must carry the identical supplementary-plane offsets
    fused = [
        (r.conv_id, r.turn_idx, r.span_rank, r.start, r.end, r.text)
        for r in extract_pipeline_fused(transcripts_df(spark, turns)).orderBy(*KEY).collect()
    ]
    assert fused == want


# ---------------------------------------------------------------------------
# the full-pipeline DuckDB twin (plans/queries._EXTRACT_FULL_SQL)
# ---------------------------------------------------------------------------

def _canon(df):
    import math
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(
            f"{v!r}" if isinstance(v, float) and not math.isnan(v) else str(v)
            for v in tup))
    return sorted(rows)


def test_corpus_payload_profile_pins_twin_scope():
    r"""The extract_full SQL twin now mirrors parse_payload for all four
    payload classes; the residual out-of-scope shapes are field-less JSON
    envelopes (Python re-serializes compact+sorted -- no DuckDB mirror),
    payloads containing \x00 (the spec's slow path), and non-ASCII text
    (line features define alnum via ASCII \w).  Pin that the driver
    corpora contain none -- drift fails here with a readable message
    instead of a silent oracle hash mismatch."""
    import duckdb

    from p_id_text_extraction_spark.oracle import spec
    for sf in ("sf0.001", "sf0.01"):
        rows = duckdb.sql(
            f"SELECT text FROM '/root/testdata/{sf}/documents.parquet'").fetchall()
        for (t,) in rows:
            norm, kind = spec.parse_payload(t, None, None)
            assert t is None or "\x00" not in t, f"{sf}: NUL payload"
            assert t is None or t.isascii(), f"{sf}: non-ASCII text"
            if kind == "tool_json":
                # twin scope: envelope must carry a string field
                assert norm != t.strip() or norm == "", (
                    f"{sf}: field-less JSON envelope is outside the twin's scope")


def test_parse_twin_fuzz_all_payload_classes():
    """The twin's parse stage (json unwrap + html block pipeline) must
    equal spec.parse_payload on the transcript generator's full payload
    mix -- 1000 payloads across plain/markdown/html/tool_json, including
    non-ASCII ones (parse itself is unicode-safe; only line FEATURES
    require ASCII)."""
    import duckdb

    from p_id_text_extraction_spark.oracle import spec
    from p_id_text_extraction_spark.plans.queries import _PARSE_HTML_SQL, _WSN_SET
    from p_id_text_extraction_spark.sources.transcripts import gen_text
    payloads = [gen_text(f"conv-{c:04d}", t) for c in range(200) for t in range(5)]
    kinds = {spec.parse_payload(p, None, None)[1] for p in payloads}
    assert kinds == {"plain", "markdown", "html", "tool_json"}
    sql = f"""
      SELECT doc_id,
        CASE
          WHEN starts_with(s0, '{{') AND ends_with(s0, '}}') AND json_valid(s0) AND json_type(s0) = 'OBJECT'
          THEN CASE WHEN json_type(s0, '$.text') = 'VARCHAR' THEN s0 ->> '$.text'
                    WHEN json_type(s0, '$.output') = 'VARCHAR' THEN s0 ->> '$.output'
                    WHEN json_type(s0, '$.content') = 'VARCHAR' THEN s0 ->> '$.content'
                    WHEN json_type(s0, '$.result') = 'VARCHAR' THEN s0 ->> '$.result'
                    ELSE raw_text END
          WHEN regexp_matches(raw_text, '(?i)<(?:p|div|a|li|ul|ol|nav|footer|header|h[1-6]|span|body|html|br|td|tr|table|article|section|main|aside)\\b')
          THEN {_PARSE_HTML_SQL}
          ELSE raw_text
        END AS norm_text
      FROM (SELECT doc_id, text AS raw_text, trim(text, {_WSN_SET}) AS s0 FROM docs
            WHERE text IS NOT NULL AND length(trim(text, {_WSN_SET})) > 0)
    """
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(payloads)))
    got = dict(con.execute(sql).fetchall())
    for i, t in enumerate(payloads):
        want, _kind = spec.parse_payload(t, None, None)
        if want == "":
            assert got.get(i) is None, i
        else:
            assert got.get(i) == want, (i, t[:120])


def test_extract_full_sql_twin_on_adversarial_corpus(spark, tmp_path):
    """The twin's line-feature/run logic must hold beyond the driver's
    trivial single-line corpus: multi-line docs with boilerplate (links,
    separator runs, low-density lines), code blocks, blank lines, leading/
    trailing whitespace, and block-boundary cuts."""
    import duckdb
    import pandas as pd

    texts = [
        # multi-line with boiler separators and a link line
        "A normal content line with plenty of words here\n"
        "home | products | about | contact\n"
        "Another run of genuine prose follows the nav row\n"
        "see https://example.com/page for details\n"
        "and the closing paragraph wraps things up nicely",
        # code block (indented) isolated by blank lines -> its own run,
        # majority code chars -> kind='code'
        "Intro paragraph explaining the function below\n\n"
        "    def add(a, b):\n"
        "        return a + b\n\n"
        "Outro paragraph after the code sample ends",
        # blank lines + trailing spaces + tabs
        "First paragraph line one   \nFirst paragraph line two\n\n"
        "\tSecond paragraph opens after a blank line\n"
        "short low density ~~~ ### !!! ???\n"
        "Final paragraph with ordinary words in it",
        # long single line forcing multiple overlapping blocks
        ("word" + "x y z contentful words repeated here ") * 30,
        # markdown-class payload (parse identity)
        "# Heading line for the doc\n- bullet one with words\n- bullet two with words\n"
        "Plain closing sentence after the list ends",
        # low-density / empty-after-strip edge
        "   \n===\n| a | b |\nReal sentence sits between boiler rows\n(c) 2024 footer-ish | row | here",
    ]
    # html + tool_json payloads: the parse STAGE of the twin feeds the
    # same detect/suppress/merge chain end to end
    texts += [
        "<div><p>A substantial paragraph of readable prose sits here</p>"
        "<nav>home | products | about | contact | legal</nav>"
        "<p>Another paragraph with enough words to clear the density gate</p>"
        "<script>var hidden = '<p>never shown</p>';</script></div>",
        '{"text": "An unwrapped tool payload with a sentence of content\\n'
        'and a second line of ordinary words after a newline"}',
        '{"output": "short tool result text with several plain words", "code": 0}',
        "<p>Entities &amp; escapes &lt;kept&gt; &quot;verbatim&quot; here"
        " with plenty of surrounding prose to stay content</p>",
    ]
    # widen: block-cut sweep around the 256/230 boundaries
    for ln in (255, 256, 257, 485, 486, 487, 600):
        base = ("alpha beta gamma delta epsilon zeta eta theta " * 20)[:ln]
        texts.append(base)
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts,
                        "lang": "en", "source": "t",
                        "n_chars": [len(t) for t in texts]})
    ddir = tmp_path / "docs"
    ddir.mkdir()
    pdf.to_parquet(ddir / "documents.parquet", index=False)

    from p_id_text_extraction_spark.plans.queries import ORACLES, QUERIES
    sdf = QUERIES["extract_full"](spark, str(ddir)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{ddir}/documents.parquet'")
    odf = con.execute(ORACLES["extract_full"]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf) > len(texts)  # multi-span docs exist
    assert set(sdf["kind"]) == {"content", "code"}
    assert set(sdf["method"]) == {"primary", "fallback"}
    assert _canon(sdf) == _canon(odf)
