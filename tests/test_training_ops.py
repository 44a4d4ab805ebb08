"""Property tests for the training-data operators (dedup sketches,
similarity search, multimodal plumbing), and the DuckDB-twin checks on an
adversarial corpus that pin the dedup and winnow Arrow kernels (the twins
are their reference decomposition)."""

from __future__ import annotations

import pytest

from p_id_text_extraction_spark.operators import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),      # near dup of 0
    (3, "distributed query engines shuffle data between executors during wide stages"),
    (4, "completely different content about gardening tomatoes in summer heat waves"),
    (5, "x"),                                                                              # degenerate short
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_finds_identical(spark, docs_df):
    groups = dedup.exact_dedup(docs_df).collect()
    assert len(groups) == 1
    assert groups[0].canonical_doc_id == 0
    assert groups[0].group_size == 2


def test_ngram_jaccard_ranks_near_dups(spark, docs_df):
    pairs = {(r.doc_a, r.doc_b): r.jaccard_milli for r in dedup.ngram_jaccard_pairs(docs_df).collect()}
    assert pairs[(0, 1)] == 1000          # identical -> jaccard 1.0
    assert pairs.get((0, 2), 0) >= 500    # near dup: one token differs
    assert (0, 3) not in pairs            # unrelated
    assert (3, 4) not in pairs


def test_dup_components_chain_and_island(spark):
    """A chain (10-20-30) must collapse to one component even though 10 and
    30 never share an edge; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (50, 60)], "doc_a long, doc_b long")
    got = {r.doc_id: (r.component_id, r.component_size)
           for r in dedup.dup_components(pairs).collect()}
    assert got == {10: (10, 3), 20: (10, 3), 30: (10, 3), 50: (50, 2), 60: (50, 2)}


def test_dup_components_raises_on_nonconvergence(spark):
    """A diameter beyond max_iter must fail loudly, never emit a split
    component with wrong canonical ids."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(10, 30)], "doc_a long, doc_b long")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(chain, max_iter=2).collect()
    # and with a sufficient bound the same chain is ONE component
    out = dedup.dup_components(chain, max_iter=25).collect()
    assert {r.component_id for r in out} == {10}
    assert all(r.component_size == 21 for r in out)


def test_dup_components_jump_collapses_long_chains(spark):
    """algorithm='jump' (pointer-jumping shortcut) must solve a chain far
    deeper than its round budget: 501 vertices in <=12 rounds, where
    min-label propagation alone needs 500.  The large-diameter escape
    hatch for pathological dup graphs."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(500)], "doc_a long, doc_b long")
    out = dedup.dup_components(chain, max_iter=12, algorithm="jump").collect()
    assert len(out) == 501
    assert {r.component_id for r in out} == {0}
    assert all(r.component_size == 501 for r in out)


def test_dup_components_one_action_per_iteration(spark):
    """The convergence check must ride the SAME action that materializes
    each round's checkpoint, not run a second label-diff job.  A triangle
    clique converges in exactly 2 iterations; with the fused convergence
    count the whole loop (init checkpoint + 2 rounds, AQE stage jobs
    included) stays within 15 Spark jobs (measured 12; the bound leaves
    AQE-under-load headroom) -- the split-action shape of the same loop
    measures 18 on this session config, so a regression that
    reintroduces a per-round second action still trips this bound."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "doc_a long, doc_b long")
    pairs.collect()   # materialize input outside the measured group
    sc.setJobGroup("cc-loop-jobs", "dup_components iteration loop")
    try:
        df = dedup.dup_components(pairs)   # loop jobs run inside the call
    finally:
        sc.setJobGroup("cc-after", "")
    got = {r.doc_id: r.component_id for r in df.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    loop_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-loop-jobs"))
    assert 0 < loop_jobs <= 15, f"iteration loop ran {loop_jobs} jobs"


def test_lsh_rejects_dim_mismatch(spark):
    """A dim mismatch must fail fast, not silently collapse every vector
    into bucket 0 (zip_with null-pads length mismatches)."""
    emb = spark.createDataFrame([(0, [0.1] * 32), (1, [0.2] * 32)],
                                "vec_id long, embedding array<float>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="dim 32"):
        dedup.embedding_cosine_dups(emb)  # default dim=64
    with _pytest.raises(ValueError, match="dim 32"):
        similarity.lsh_ann_topk(emb)


def test_corpus_clean_needs_only_text(spark):
    """corpus_clean must not require the documents table's ground-truth
    lang column (round-2 review finding)."""
    from p_id_text_extraction_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog of the morning went to town")],
        "doc_id long, text string")
    rows = textstats.corpus_clean(docs).collect()
    assert len(rows) == 1 and rows[0].pred_lang == "en"


def test_corpus_split_leakage_safe_and_deterministic(spark):
    from p_id_text_extraction_spark.operators import textstats
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(200)]
        + [(1000, "document number 7 with some words")],   # exact dup of doc 7
        "doc_id long, text string")
    rows = {r.doc_id: (r.split_bucket, r.split) for r in textstats.corpus_split(docs).collect()}
    assert rows[1000] == rows[7]                     # dups never straddle the split
    n_val = sum(1 for b, s in rows.values() if s == "val")
    assert 5 <= n_val <= 45                          # ~10% of 201, loose bound
    again = {r.doc_id: (r.split_bucket, r.split) for r in textstats.corpus_split(docs).collect()}
    assert again == rows


def test_redact_pii_counts_and_scrubs(spark):
    from p_id_text_extraction_spark.operators import textstats
    docs = spark.createDataFrame([
        (1, "mail me at jane.doe+x@example.org or see https://ex.com/a?b=1 call +1 555 123 4567"),
        (2, "no pii in this perfectly ordinary sentence"),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in textstats.redact_pii(docs).collect()}
    assert (rows[1].n_email, rows[1].n_url, rows[1].n_phone) == (1, 1, 1)
    assert (rows[2].n_email, rows[2].n_url, rows[2].n_phone) == (0, 0, 0)
    import hashlib
    expected = "mail me at <EMAIL> or see <URL> call <PHONE>"
    assert rows[1].redacted_fp == hashlib.md5(expected.encode()).hexdigest()
    assert rows[2].redacted_fp == hashlib.md5(b"no pii in this perfectly ordinary sentence").hexdigest()


def test_repetition_score(spark):
    from p_id_text_extraction_spark.operators import textstats
    docs = spark.createDataFrame([
        (1, "same line\nsame line\nsame line\nother"),
        (2, "a\nb\nc"),
        (3, "no newlines at all"),
    ], "doc_id long, text string")
    rows = {r.doc_id: (r.n_lines, r.n_distinct_lines, r.dup_line_milli)
            for r in textstats.repetition_score(docs).collect()}
    assert rows[1] == (4, 2, 500)
    assert rows[2] == (3, 3, 0)
    assert rows[3] == (1, 1, 0)


def test_winnow_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee: two docs sharing a run longer than w+k-1 chars
    share at least one selected fingerprint; disjoint docs share none."""
    from p_id_text_extraction_spark.operators import textstats
    shared = "an identical long passage of text that both documents contain verbatim"
    docs = spark.createDataFrame([
        (1, "prefix one then " + shared + " and a distinct ending here"),
        (2, "other opening words " + shared + " with another different tail"),
        (3, "completely unrelated content about gardening tomatoes in summer"),
    ], "doc_id long, text string")
    fps = {r.doc_id: set(r.fp_csv.split(","))
           for r in textstats.winnow_fingerprints_kernel(docs).collect()}
    assert fps[1] & fps[2], "shared passage produced no shared fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_minhash_identical_signatures(spark, docs_df):
    sigs = {r.doc_id: r.sig for r in dedup.minhash_sketches_kernel(docs_df).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    # near-dup shares most signature positions
    same = sum(1 for a, b in zip(sigs[0], sigs[2]) if a == b)
    assert same >= 16  # >=50% of 32 hashes


def test_minhash_lsh_candidates(spark, docs_df):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard_milli for r in dedup.minhash_lsh_pairs(docs_df).collect()}
    assert pairs.get((0, 1)) == 1000      # exact dup always collides
    assert (0, 2) in pairs                # near dup collides in >=1 band
    assert (3, 4) not in pairs            # unrelated never meets


def test_simhash_hamming_locality(spark, docs_df):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs_df).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 16


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk_shape(spark, emb_df):
    rows = similarity.brute_force_topk(emb_df, n_queries=5, k=3).collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == [1, 2, 3]
        scores = [r.cos_e5 for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_lsh_ann_recall_on_clustered_vectors(spark):
    """ANN recall where locality actually exists: 10 cluster centers x 6
    noisy copies -- LSH must recover most true neighbors.  (The driver's
    random embeddings are near-orthogonal, where *no* sublinear ANN has
    signal; that table only gets the shape test below.)"""
    import numpy as np
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(10):
        base = rng.randn(64)
        for _ in range(6):
            v = base + 0.15 * rng.randn(64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = similarity.brute_force_topk(emb, n_queries=10, k=5).collect()
    ann = similarity.lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, n_tables=8).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"LSH recall too low on clustered data: {recall}"


def test_ivf_ann_recall_on_clustered_vectors(spark):
    """IVF with centroid anchors drawn from the data: on clustered vectors
    each cluster's members share a cell, so probing recovers neighbors."""
    import numpy as np
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(10):
        base = rng.randn(64)
        for _ in range(6):
            v = base + 0.15 * rng.randn(64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = similarity.brute_force_topk(emb, n_queries=10, k=5).collect()
    # first 10 vec_ids span several clusters (6 copies per cluster), so the
    # anchor set covers the space; probe 4 cells
    ann = similarity.ivf_topk(emb, n_queries=10, k=5, n_centroids=10, n_probe=4).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, f"IVF recall too low on clustered data: {recall}"


def test_ivf_ann_shape_on_random_vectors(spark, emb_df):
    ann = similarity.ivf_topk(emb_df, n_queries=10, k=5).collect()
    assert len(ann) == 50
    assert all(1 <= r.rank <= 5 for r in ann)


def test_lsh_ann_shape_on_random_vectors(spark, emb_df):
    ann = similarity.lsh_ann_topk(emb_df, n_queries=10, k=5, n_planes=6, n_tables=8).collect()
    assert len(ann) == 50
    assert all(1 <= r.rank <= 5 for r in ann)


def test_multimodal_feature_determinism(spark):
    media = spark.createDataFrame(
        [(1, "image", 640, 480, 0, b"payload-bytes"), (2, "audio", 0, 0, 9000, b"other")],
        multimodal.MEDIA_SCHEMA,
    )
    a = {r.media_id: r.feature for r in multimodal.extract_features(media).collect()}
    b = {r.media_id: r.feature for r in multimodal.extract_features(media).collect()}
    assert a == b
    assert len(a[1]) == multimodal.FEATURE_DIM
    assert a[1] != a[2]


def test_multimodal_resize_dims(spark):
    media = spark.createDataFrame(
        [(1, "image", 1024, 768, None, b"px"),   # downscale, aspect kept
         (2, "image", 100, 50, None, b"px"),     # already fits: no-op
         (3, "audio", 9999, 9999, None, b"au")], # non-image: excluded
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r.media_id: (r.target_w, r.target_h, bytes(r.payload))
            for r in multimodal.resize_images(media, max_dim=512).collect()}
    assert rows == {1: (512, 384, b"px"), 2: (100, 50, b"px")}


def test_multimodal_resolution_gate(spark):
    media = spark.createDataFrame(
        [(1, "image", 32, 32, 0, b"small"), (2, "image", 640, 480, 0, b"big"),
         (3, "audio", 0, 0, 5000, b"aud")],
        multimodal.MEDIA_SCHEMA,
    )
    kept = {r.media_id for r in multimodal.resolution_gate(media).collect()}
    assert kept == {2, 3}


def test_multimodal_frame_plan(spark):
    media = spark.createDataFrame(
        [(1, "video", 0, 0, 3500, b"v"), (2, "image", 10, 10, 0, b"i")],
        multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    assert {(r.media_id, r.frame_ts_ms) for r in frames} == {(1, 0), (1, 1000), (1, 2000), (1, 3000)}


def test_non_media_payload_decode_raises():
    """decode_payload on bytes that are no known container must raise,
    never guess (BMP/WAV are decoded for real; compressed formats and
    arbitrary bytes raise)."""
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"x", "image")


def _long_doc(n_tokens: int, seed: int) -> str:
    import random
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)] + ["the", "and", "of", "to"]
    return " ".join(rng.choice(vocab) for _ in range(n_tokens))


_LONG = _long_doc(6000, seed=3)
# adversarial documents: NULL, empty, whitespace-only, \x00, tabs and
# newlines, Latin-1 / Greek / CJK text, short docs, an exact and a near
# duplicate pair, and a 6,000-token document.  The twins' per-document
# list_transform needs ~9 GB and minutes on a 60,000-token document, so
# documents here stay at a few thousand tokens (the mega-document case is
# test_dedup_kernels_survive_a_mega_document, Spark-only).
TWIN_DOCS = [
    (1, "a normal document with several plain words"),
    (2, None),
    (3, ""),
    (4, "  line\nline\nline  "),
    (5, "mail me at a.b@example.com or https://x.test/page now"),
    (6, "   \t  "),
    (7, "\x00"),
    (8, "tabs\tstay\tglued and\nnewlines too plus the more words"),
    # RE2 finds "and" inside "ñandú", Java's Unicode \b does not
    (9, "héllo wörld naïve café déjà vu über straße jalapeño ñandú αβγδε"),
    (10, ("日本語のテキストで 重複検出を試験する " * 8).strip()),
    (11, "Ελληνικό κείμενο για τον έλεγχο της ανίχνευσης διπλότυπων"),
    (12, "one two"),
    (13, "x y z"),
    (14, "x" * 23),              # exactly one full winnow window
    (15, "x" * 22),              # no full winnow window
    (16, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (17, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (18, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
    (19, "  Mixed   CASE   and   collapsed    spaces   here  "),
    (20, "the quick brown fox jumps over the quick brown fox again"),
    (21, "el perro de la casa que come la comida de 2024 y 1999"),
    (22, _LONG),
    (23, _LONG.rsplit(" ", 40)[0] + " the end of a slightly different ending"),
    (24, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 3),
]


@pytest.fixture(scope="module")
def twin_corpus(spark, tmp_path_factory):
    """(sf_dir, duckdb connection) over TWIN_DOCS as a documents table."""
    import duckdb
    sf_dir = tmp_path_factory.mktemp("twin_corpus")
    rows = [(i, t, "en", "gen", len(t or "")) for i, t in TWIN_DOCS]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
     .coalesce(1).write.parquet(str(sf_dir / "documents.parquet")))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
    yield str(sf_dir), con
    con.close()


def test_null_text_matches_duckdb_twin(spark, twin_corpus):
    """Every listed query equals its DuckDB twin on the adversarial corpus.
    The twins are the reference decomposition of the dedup and winnow
    kernels (NULL, empty or short text emits no row; non-ASCII winnow
    grams are code-point slices; fp_csv sorts as strings).  The rest pin
    the NULL/empty-text contract (Spark size(NULL)=-1 vs DuckDB
    len(NULL)=NULL), the empty-text quality guard in corpus_clean, the
    ASCII word boundary of the language markers, and the NULL payload of
    multimodal_features."""
    from p_id_text_extraction_spark.plans.queries import ORACLES, QUERIES
    from p_id_text_extraction_spark.util import unpersist_tracked
    sf_dir, con = twin_corpus
    for name in ["doc_token_count", "doc_quality_score", "doc_redact_pii",
                 "doc_repetition", "doc_fingerprint", "corpus_split",
                 "doc_lang_id", "corpus_clean", "corpus_stats",
                 "corpus_token_quantiles", "corpus_pack", "multimodal_features",
                 "multimodal_gate", "multimodal_resize", "multimodal_frame_plan",
                 "validate_dimensions", "validation_summary", "doc_winnow",
                 "dedup_exact", "dedup_simhash", "dedup_ngram_jaccard",
                 "dedup_components", "dedup_components_jump", "dedup_minhash_lsh"]:
        sdf = QUERIES[name](spark, sf_dir).toPandas()
        unpersist_tracked()
        odf = con.execute(ORACLES[name]).df()
        s = sorted(map(tuple, sdf[sorted(sdf.columns)].astype(str).itertuples(index=False)))
        o = sorted(map(tuple, odf[sorted(odf.columns)].astype(str).itertuples(index=False)))
        assert len(sdf) == len(odf) > 0, name
        assert s == o, f"{name}: first diff {[p for p in zip(s, o) if p[0] != p[1]][:2]}"


def _ctes_before(sql: str, cte: str) -> str:
    """The WITH clause of a twin up to (not including) CTE ``cte``."""
    return sql[:sql.index(f"{cte} AS (")].rstrip().rstrip(",")


def _one_map_in_pandas(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


def test_minhash_sketches_kernel_equals_relational(spark, twin_corpus):
    """Per document, the minhash Arrow kernel equals the relational
    decomposition in the minhash twin, cut before its banded CTE (hgrams
    and sig).  sig matches by position (position = coefficient), hg as a
    set (the kernel emits it sorted).  NULL, empty, whitespace-only and
    short docs emit no row; the kernel is one MapInPandas."""
    from p_id_text_extraction_spark.plans import queries
    sf_dir, con = twin_corpus
    docs = queries._t(spark, sf_dir, "documents")
    sig_cols = ", ".join(f"s{i}" for i in range(32))
    twin_sk = {r[0]: (sorted(r[1]), list(r[2])) for r in con.execute(
        _ctes_before(queries._minhash_lsh_sql(), "banded")
        + f" SELECT doc_id, hg, [{sig_cols}] FROM hgrams JOIN sig USING (doc_id)").fetchall()}
    sketches = dedup.minhash_sketches_kernel(docs).collect()
    assert {r.doc_id for r in sketches} == set(twin_sk)
    for r in sketches:
        assert (r.hg, r.sig) == twin_sk[r.doc_id], r.doc_id
    assert {2, 3, 6, 7, 12}.isdisjoint(twin_sk)     # NULL/empty/blank/short
    _one_map_in_pandas(dedup.minhash_sketches_kernel(docs))


def test_hashed_grams_kernel_equals_relational(spark, twin_corpus):
    """Per document, the hashed-gram Arrow kernel equals the relational
    decomposition in the n-gram twin (its consumer), cut before its freq
    CTE: hs sorted, with its length = the twin's set_size.  NULL, empty,
    whitespace-only and short docs emit no row; the kernel is one
    MapInPandas."""
    from p_id_text_extraction_spark.plans import queries
    sf_dir, con = twin_corpus
    docs = queries._t(spark, sf_dir, "documents")
    twin_hs = {r[0]: (r[1], r[2]) for r in con.execute(
        _ctes_before(queries.ORACLES["dedup_ngram_jaccard"], "freq")
        + " SELECT doc_id, list_sort(list(sh)), any_value(set_size)"
        " FROM sh JOIN sizes USING (doc_id) GROUP BY doc_id").fetchall()}
    hs = dedup.hashed_grams_kernel(docs).collect()
    assert {r.doc_id for r in hs} == set(twin_hs)
    for r in hs:
        assert (r.hs, len(r.hs)) == twin_hs[r.doc_id], r.doc_id
    assert {2, 3, 6, 7, 12}.isdisjoint(twin_hs)     # NULL/empty/blank/short
    _one_map_in_pandas(dedup.hashed_grams_kernel(docs))


def test_winnow_kernel_equals_relational(spark, twin_corpus):
    """Per document, the winnow Arrow kernel equals the relational
    decomposition in the winnow twin (k-gram rows, md5-60 hashes, a
    sliding-window min): fp_csv sorted as strings, n_fps, non-ASCII
    k-grams as code-point slices.  A 23-char doc has exactly one full
    window, a 22-char doc none; NULL and short docs emit no row; the
    kernel is one MapInPandas."""
    from p_id_text_extraction_spark.plans import queries
    sf_dir, con = twin_corpus
    docs = queries._t(spark, sf_dir, "documents")
    twin = {r[0]: (r[1], r[2]) for r in con.execute(queries.ORACLES["doc_winnow"]).fetchall()}
    got = {r.doc_id: (r.fp_csv, r.n_fps)
           for r in textstats.winnow_fingerprints_kernel(docs).collect()}
    assert got == twin
    assert twin[14][1] == 1 and 15 not in twin      # 23 vs 22 chars
    assert {9, 10, 11} <= set(twin)                 # Latin-1 / CJK / Greek
    assert {2, 3, 6, 7, 12}.isdisjoint(twin)        # NULL/empty/blank/short
    _one_map_in_pandas(textstats.winnow_fingerprints_kernel(docs))


def test_dedup_kernels_survive_a_mega_document(spark):
    """A 40,000-token document through the three Arrow kernels and both
    kernel-backed pair operators: no crash, full output.  Twin equality
    cannot cover this size -- the twins' per-document list_transform needs
    ~9 GB and minutes on 60,000 tokens -- so this test is Spark-only."""
    mega = _long_doc(40_000, seed=5)
    docs = spark.createDataFrame([(1, mega), (2, mega), (3, "x y z w")],
                                 "doc_id long, text string")
    sk = {r.doc_id: r for r in dedup.minhash_sketches_kernel(docs).collect()}
    hs = {r.doc_id: r.hs for r in dedup.hashed_grams_kernel(docs).collect()}
    assert sk[1].sig == sk[2].sig and len(sk[1].sig) == 32
    assert len(sk[1].hg) == len(hs[1]) > 10_000
    wn = {r.doc_id: r for r in textstats.winnow_fingerprints_kernel(docs).collect()}
    assert wn[1].fp_csv == wn[2].fp_csv and wn[1].n_fps > 100
    ng = {(r.doc_a, r.doc_b): r.jaccard_milli
          for r in dedup.ngram_jaccard_pairs(docs).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard_milli
           for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert ng == lsh == {(1, 2): 1000}


def test_operator_caches_released_by_unpersist_tracked(spark, docs_df):
    """Operators persist multi-consumer intermediates; after the caller
    materializes and calls unpersist_tracked(), no tracked cache survives
    (ADVICE round 2: no unbounded cache accumulation across invocations)."""
    from p_id_text_extraction_spark.util import unpersist_tracked
    unpersist_tracked()   # isolate from earlier tests in this session
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    dedup.minhash_lsh_pairs(docs_df).collect()       # persists the sketches
    dedup.ngram_jaccard_pairs(docs_df).collect()     # persists hs + postings
    assert jsc.getPersistentRDDs().size() > before
    released = unpersist_tracked()
    assert released >= 2
    assert jsc.getPersistentRDDs().size() <= before


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: latest right row at-or-before each left
    timestamp per key; no-preceding-row -> null; tolerance discards stale
    matches; whole plan shuffles ONCE on the key."""
    from datetime import datetime as dt

    from p_id_text_extraction_spark.operators.asof_join import asof_join
    right = spark.createDataFrame(
        [(1, dt(2026, 1, 1, 0, 0, 10), 100), (1, dt(2026, 1, 1, 0, 0, 20), 200),
         (2, dt(2026, 1, 1, 0, 0, 15), 150)],
        "k int, ts timestamp, v int")
    left = spark.createDataFrame(
        [(1, 101, dt(2026, 1, 1, 0, 0, 5)),   # before any state -> null
         (1, 102, dt(2026, 1, 1, 0, 0, 10)),  # exact tie -> inclusive
         (1, 103, dt(2026, 1, 1, 0, 0, 25)),  # after both -> latest
         (2, 201, dt(2026, 1, 1, 0, 0, 14))], # other key, before -> null
        "k int, qid int, ts timestamp")
    got = {r.qid: (r.matched_v,) for r in
           asof_join(left, right, keys=["k"], value_cols=["v"]).collect()}
    assert got == {101: (None,), 102: (100,), 103: (200,), 201: (None,)}

    # tolerance: 103's match (t=20) is 5s old -> kept at 5000ms, dropped at 4000ms
    tol = {r.qid: r.matched_v for r in
           asof_join(left, right, keys=["k"], value_cols=["v"],
                     tolerance_ms=4000).collect()}
    assert tol[103] is None and tol[102] == 100

    # plan: exactly one hash exchange (the key window) -- no range join
    plan = (asof_join(left, right, keys=["k"], value_cols=["v"])
            ._jdf.queryExecution().executedPlan().toString())
    import re
    assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 1, plan


def test_bmp_wav_roundtrip_and_compressed_still_stubbed():
    """The container-free codecs are REAL now: BMP and PCM-WAV round-trip
    bit-exactly through the pure-struct encoders/decoders; compressed
    formats still raise (no codec libs in this container -- honest)."""
    import numpy as np
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)   # w=5 -> padded rows
    assert (multimodal.decode_bmp(multimodal.encode_bmp(arr)) == arr).all()
    samples = rng.randint(-32768, 32767, size=(100, 2)).astype("int16")
    rate, back = multimodal.decode_wav_pcm16(multimodal.encode_wav_pcm16(samples, 8000))
    assert rate == 8000 and (back == samples).all()
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"\x89PNG...", "image")   # compressed: stubbed
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"x", "audio")


def test_real_feature_and_resize_on_bmp(spark):
    """fake=False runs REAL pixel work end-to-end through Spark: feature
    means match the uniform image color, and the resized payload decodes
    to the exact nearest-neighbor index sample."""
    import numpy as np
    flat = np.full((4, 6, 3), [200, 100, 50], dtype=np.uint8)
    bmp = multimodal.encode_bmp(flat)
    wav = multimodal.encode_wav_pcm16(np.full(50, 16384, dtype=np.int16), 16000)
    media = spark.createDataFrame(
        [(1, "image", 6, 4, 0, bytearray(bmp)), (2, "audio", 0, 0, 3, bytearray(wav))],
        multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r.feature
             for r in multimodal.extract_features(media, fake=False).collect()}
    assert abs(feats[1][0] - 200 / 255) < 1e-6       # mean R
    assert abs(feats[1][3]) < 1e-6                   # std R of a flat image
    assert abs(feats[2][0] - 0.5) < 1e-3             # audio mean amplitude
    assert len(feats[1]) == len(feats[2]) == multimodal.FEATURE_DIM

    out = multimodal.resize_images(media, max_dim=3, fake=False).collect()[0]
    assert (out.target_w, out.target_h) == (3, 2)
    resized = multimodal.decode_bmp(bytes(out.payload))
    assert resized.shape == (2, 3, 3)
    assert (resized == [200, 100, 50]).all()


def test_asof_join_matches_bruteforce_on_random_inputs(spark):
    """Property check: the windowed as-of join equals the per-row
    brute-force definition (latest right ts <= left ts per key, max
    payload on ties) over a randomized dense key/ts grid with duplicate
    timestamps on both sides."""
    import random

    from p_id_text_extraction_spark.operators.asof_join import asof_join
    rng = random.Random(7)
    rights = [(k, rng.randint(0, 50), rng.randint(0, 999))
              for k in range(4) for _ in range(30)]
    lefts = [(k, i, rng.randint(0, 55))
             for k in range(5) for i in range(40)]   # key 4 has no right rows
    rdf = spark.createDataFrame(
        [(k, __import__("datetime").datetime(2026, 1, 1, 0, 0, t), v) for k, t, v in rights],
        "k int, ts timestamp, v int")
    ldf = spark.createDataFrame(
        [(k, i, __import__("datetime").datetime(2026, 1, 1, 0, 0, t)) for k, i, t in lefts],
        "k int, qid int, ts timestamp")
    got = {r.qid * 10 + r.k: (r.matched_v,)
           for r in asof_join(ldf, rdf, keys=["k"], value_cols=["v"]).collect()}

    def brute(k, t):
        cands = [(rt, rv) for rk, rt, rv in rights if rk == k and rt <= t]
        if not cands:
            return None
        best_ts = max(rt for rt, _ in cands)
        # operator contract: equal-ts ties resolve to the greatest payload
        return max(rv for rt, rv in cands if rt == best_ts)

    want = {qid * 10 + k: (brute(k, t),) for k, qid, t in lefts}
    assert got == want


def test_asof_join_hot_keys_equals_default(spark):
    """The time-bucketed hot-key plan must be byte-identical to the single
    key-window plan: same random data (duplicate timestamps both sides, a
    key with no rights, null left timestamps), small bucket so matches
    cross bucket borders and exercise the carry; tolerance interplay too."""
    import datetime
    import random

    from p_id_text_extraction_spark.operators.asof_join import asof_join
    rng = random.Random(11)
    rights = [(k, rng.randint(0, 50), rng.randint(0, 999))
              for k in range(4) for _ in range(40)]
    lefts = [(k, i, rng.randint(0, 55)) for k in range(5) for i in range(50)]
    rdf = spark.createDataFrame(
        [(k, datetime.datetime(2026, 1, 1, 0, 0, t), v) for k, t, v in rights],
        "k int, ts timestamp, v int")
    ldf = spark.createDataFrame(
        [(k, i, datetime.datetime(2026, 1, 1, 0, 0, t)) for k, i, t in lefts]
        + [(0, 999, None)],
        "k int, qid int, ts timestamp")
    for tol in (None, 5_000):
        base = sorted(map(tuple, asof_join(
            ldf, rdf, keys=["k"], value_cols=["v"], tolerance_ms=tol).collect()))
        # 7s buckets: ~8 buckets over the 55s span, many empty per key
        hot = sorted(map(tuple, asof_join(
            ldf, rdf, keys=["k"], value_cols=["v"], tolerance_ms=tol,
            hot_keys=True, bucket_ms=7_000).collect()))
        assert hot == base

    # per-task bound: the heavy window partitions on (k, bucket), never on
    # the bare key
    plan = (asof_join(ldf, rdf, keys=["k"], value_cols=["v"],
                      hot_keys=True, bucket_ms=7_000)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and any("_b" in s for s in specs)
    # the only window WITHOUT the bucket column runs on the bucket-level
    # finals frame (one row per (key, bucket)), ordered by _b
    assert all("_b" in s for s in specs)


def test_png_roundtrip_and_all_filters():
    """PNG codec (stdlib zlib + spec scanline filters): encoder output
    round-trips bit-exactly, and the decoder inverts every filter type
    (Sub/Up/Average/Paeth applied FORWARD here, independently per the
    spec, so the test is a cross-implementation check, not a mirror)."""
    import struct as st
    import zlib

    import numpy as np
    rng = np.random.RandomState(9)
    for ch in (3, 4):
        arr = rng.randint(0, 256, size=(5, 7, ch), dtype=np.uint8)
        assert (multimodal.decode_png(multimodal.encode_png(arr)) == arr).all()

    # hand-build an image whose five rows use filters 0..4
    arr = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w, ch = arr.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = y % 5
        raw.append(f)
        for x in range(w * ch):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                v = cur[x]
            elif f == 1:
                v = cur[x] - a
            elif f == 2:
                v = cur[x] - b
            elif f == 3:
                v = cur[x] - ((a + b) >> 1)
            else:
                v = cur[x] - multimodal._paeth(a, b, c)
            raw.append(int(v) & 0xFF)
        prev = cur

    def chunk(tag, body):
        return (st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    png = (multimodal._PNG_SIG
           + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert (multimodal.decode_png(png) == arr).all()

    # unsupported flavors raise loudly
    bad = (multimodal._PNG_SIG
           + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)))
    with pytest.raises(ValueError, match="unsupported PNG"):
        multimodal.decode_png(bad)


def test_real_feature_and_resize_on_png(spark):
    """fake=False PNG rows flow through extract_features/resize_images:
    features match pixel stats, resize re-encodes in the PNG container."""
    import numpy as np
    flat = np.full((4, 6, 3), [200, 100, 50], dtype=np.uint8)
    png = multimodal.encode_png(flat)
    media = spark.createDataFrame(
        [(1, "image", 6, 4, 0, bytearray(png))], multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media, fake=False).collect()[0].feature
    assert abs(feats[0] - 200 / 255) < 1e-6
    assert abs(feats[3]) < 1e-6
    out = multimodal.resize_images(media, max_dim=3, fake=False).collect()[0]
    assert (out.target_w, out.target_h) == (3, 2)
    resized = multimodal.decode_png(bytes(out.payload))
    assert resized.shape == (2, 3, 3)
    assert (resized == [200, 100, 50]).all()
    # jpeg stays honestly gated
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"\xff\xd8\xff\xe0jfif", "image")


def test_dup_components_local_equals_distributed(spark):
    """Driver union-find ('local'/'auto' under the cap) must produce the
    identical component assignment as distributed propagation on random
    graphs with chains, cliques and islands."""
    import random
    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(0, 30)]                   # chain
    edges += [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]  # clique
    edges += [(rng.randint(200, 260), rng.randint(200, 260)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    dist = sorted(map(tuple, dedup.dup_components(pairs, max_iter=40).collect()))
    loc = sorted(map(tuple, dedup.dup_components(pairs, algorithm="local").collect()))
    auto = sorted(map(tuple, dedup.dup_components(pairs, algorithm="auto").collect()))
    assert loc == dist == auto


def _round_robins(df) -> list[str]:
    """The round-robin exchanges of ``df``'s physical plan."""
    import re
    return re.findall(r"RoundRobinPartitioning\(\d+\)",
                      df._jdf.queryExecution().executedPlan().toString())


def test_fan_out_one_file_scan_gets_one_round_robin(spark, twin_corpus):
    """A one-file, one-row-group scan fans out over defaultParallelism."""
    from p_id_text_extraction_spark.util import fan_out
    sf_dir, _ = twin_corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = spark.sparkContext.defaultParallelism
    assert _round_robins(fan_out(docs)) == [f"RoundRobinPartitioning({n})"]


def test_fan_out_skips_a_scan_with_enough_files(spark, tmp_path):
    """A directory of >= defaultParallelism/2 files already fans out: the
    sketch kernel plans no round-robin exchange over it."""
    n_files = (spark.sparkContext.defaultParallelism + 1) // 2
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").repartition(n_files).write.parquet(path)
    docs = spark.read.parquet(path)
    assert len(docs.inputFiles()) == n_files
    assert _round_robins(dedup.minhash_sketches_kernel(docs)) == []


def test_fan_out_reads_file_uris_like_plain_paths(spark, twin_corpus):
    """A wrapper over a file:// URI fans out exactly as over the plain path."""
    from p_id_text_extraction_spark.plans import queries
    sf_dir, _ = twin_corpus
    plain = _round_robins(queries.QUERIES["doc_lang_id"](spark, sf_dir))
    assert len(plain) == 1
    assert _round_robins(queries.QUERIES["doc_lang_id"](spark, f"file://{sf_dir}")) == plain


def test_fan_out_decision_runs_no_job(spark, twin_corpus):
    """Deciding runs no Spark job, even on an input whose plan holds an
    exchange (where getNumPartitions would run one)."""
    from p_id_text_extraction_spark.util import fan_out
    sf_dir, _ = twin_corpus
    counts = spark.read.parquet(f"{sf_dir}/documents.parquet").groupBy("lang").count()
    sc, group = spark.sparkContext, "fan-out-decision"
    sc.setJobGroup(group, group)
    try:
        out = fan_out(counts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert len(_round_robins(out)) == 1
