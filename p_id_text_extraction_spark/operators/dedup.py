"""Deduplication operators for training-data pipelines.

Five tiers, scale-ordered:
  exact            -- hash groupBy, one shuffle, works at any scale
  ngram_jaccard    -- inverted-index shingle join (the scalable exact-overlap
                      pattern: no O(n^2) cross join; frequency-capped posting
                      lists bound the blowup)
  minhash_lsh      -- banded MinHash: near-dup candidates meet in band
                      buckets, then every candidate is VERIFIED with the
                      exact Jaccard before emission
  simhash          -- 60-bit sign-hash fingerprint
  embedding LSH    -- integer sign-bucket hyperplane tables + exact cosine
                      rerank (equi-joins only); ``lsh_buckets`` is the
                      index similarity.lsh_ann_topk probes too
  + dup_components -- connected components over dup pairs (canonical docs)

All hashing is engine-portable (md5_hash60: first 15 md5 hex chars as
int64, reproduced literally in DuckDB), so EVERY operator here has a
value-hash DuckDB oracle mirror -- including the sketches.

The tokenizing operators (shingle and sketch kernels, simhash) go through
``util.fan_out`` first: a single-file corpus would otherwise tokenize in
one task, once per AQE broadcast build.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p_id_text_extraction_spark.operators.textstats import norm_text_col
from p_id_text_extraction_spark.util import fan_out, track_persist


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5 fingerprint; keeps the min doc_id as
    canonical.  One hash-aggregate shuffle; at 100 TB this is the cheapest
    first pass (drops byte-identical crawl copies before anything fuzzy)."""
    fp = docs.select("doc_id", F.md5(norm_text_col()).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, min_jaccard_milli: int = 100,
                        max_posting: int = 1000) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard, inverted-index style.

    plan: shingle -> 60-bit hash -> frequency cap -> co-partitioned
    self-join -> count shared shingle hashes per pair -> join per-doc set
    sizes -> Jaccard in milli-units.  Emits (doc_a, doc_b, jaccard_milli),
    doc_a < doc_b.

    Scale shape (two big exchanges, slim rows):
      * shingle hashes shuffle ONCE, as 16-byte (doc_id, hash) rows instead
        of raw strings -- md5_hash60 keeps the hash engine-portable, and a
        hash collision merges the same postings in the DuckDB oracle too,
        so pair counts stay bit-identical by construction;
      * the frequency cap (a shingle in > max_posting docs is a stopword
        shingle: O(k^2) pairs, no signal -- the skew guard) is a window
        count over that same exchange, not a separate aggregate + join;
      * both self-join sides are the SAME capped subtree, already hash
        partitioned by the shingle -- ReuseExchange makes the join
        co-partitioned, no further shuffle before the pair aggregate.
    """
    # PERSIST the hashed gram multisets: the subtree feeds two consumers
    # (sizes + the shingle explode); materializing the shingle intermediate
    # is also what a production multi-pass dedup does.  r6: the grams are
    # minted by hashed_grams_kernel (one zero-shuffle Arrow pass; the same
    # multiset as the twin's ``sh`` CTE, pinned per document in
    # tests/test_training_ops.py) instead of an interpreted Catalyst
    # transform/md5/conv chain -- Spark also re-evaluates an inlined
    # higher-order generator child per OUTPUT element (9s vs 0.2s for this
    # explode at sf0.1, the r1 lesson), so the persist stays load-bearing.
    hsets = track_persist(hashed_grams_kernel(docs, n))
    sh = hsets.select("doc_id", F.explode("hs").alias("sh"))
    # set sizes from the pre-explode arrays: no second explode+groupBy
    # over every shingle row (kernel rows always hold >= 1 shingle, like
    # the twin's sizes CTE, which only counts unnested rows)
    sizes = hsets.select("doc_id", F.size("hs").alias("set_size"))

    w = Window.partitionBy("sh")
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= max_posting)
        .drop("df")
    )
    # persist the CAPPED postings: they feed both self-join sides, and when
    # AQE picks a broadcast for the build side there is no exchange reuse
    # across a BroadcastExchange -- without the cache the explode + hash +
    # window-cap subtree executes twice (measured in the sf0.1 plan: the
    # whole Generate/Exchange/Sort/Window chain appeared once per side)
    capped = track_persist(capped)
    a = capped.alias("a")
    b = capped.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.floor(
                F.lit(1000) * F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common"))
            ).cast("int").alias("jaccard_milli"),
        )
        .filter(F.col("jaccard_milli") >= min_jaccard_milli)
    )


def md5_hash60(col: F.Column) -> F.Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed as
    an integer.  Both Spark (conv) and DuckDB (hex-string cast) compute the
    identical value, which is what makes the sketch operators below fully
    oracle-checkable -- xxhash64 has no DuckDB twin."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# _md5's C constructor skips OpenSSL's per-call EVP setup -- identical
# digests (it IS md5), ~2.2x cheaper on 8-byte inputs (measured 439 ->
# 196 ns/call); hashlib stays as the fallback spelling
try:
    from _md5 import md5 as _md5
except ImportError:                           # pragma: no cover
    from hashlib import md5 as _md5

_FOUR = np.uint64(4)
_NO_GRAMS = np.empty(0, dtype=np.uint64)


def _hash60(digests: bytes) -> np.ndarray:
    """md5_hash60 for the Arrow kernels, over concatenated 16-byte md5
    digests: one uint64 per digest, in order.  The first 15 hex chars of
    md5 are its top 60 bits, so one strided big-endian view (the first
    8-byte half of every digest) and one shift replace a per-gram
    ``int.from_bytes(digest[:8]) >> 4`` (measured 728 -> 330 ns/gram with
    the _md5 constructor, md5 itself then 99%)."""
    return np.frombuffer(digests, dtype=">u8")[::2].astype(np.uint64) >> _FOUR


def gram_digests(t: str | None, n: int) -> np.ndarray:
    """md5_hash60 of every DISTINCT word ``n``-gram of the normalized text
    ``t``, unordered -- one entry per distinct gram STRING, so a 60-bit
    collision appears twice, as in the twins' ``unnest(g)``.  Empty for
    NULL text and for fewer than ``n`` tokens (the twins' ``CASE WHEN
    len(t) >= n ... ELSE []``)."""
    if t is None:
        return _NO_GRAMS
    # split the UTF-8 BYTES: a space byte never occurs inside a multi-byte
    # sequence, so the byte grams are the encoded str grams -- one encode
    # per doc instead of one per gram
    toks = t.encode("utf-8").split(b" ")
    m = len(toks) - (n - 1)
    if m <= 0:
        return _NO_GRAMS
    grams = {b" ".join(toks[i:i + n]) for i in range(m)}
    return _hash60(b"".join([_md5(g).digest() for g in grams]))


def char_gram_digests(t: str, k: int) -> np.ndarray:
    """md5_hash60 of every CODE-POINT ``k``-gram of ``t``, in position
    order (the twin's ``substring(t, i, k)``); empty when ``t`` is shorter
    than ``k``."""
    n_g = len(t) - (k - 1)
    if t.isascii():
        # fast path: byte slices == encoded code-point slices
        b = t.encode("utf-8")
        digests = [_md5(b[i:i + k]).digest() for i in range(n_g)]
    else:
        # slice the STR then encode per gram -- byte k-grams would split
        # multi-byte code points and diverge from the twin
        digests = [_md5(t[i:i + k].encode("utf-8")).digest() for i in range(n_g)]
    return _hash60(b"".join(digests))


# largest prime below 2^30: the universal-hash modulus.  a*hh stays under
# 2^60, so h_i = (a*hh + b) mod P is exact int64 in Spark AND exact integer
# arithmetic in DuckDB -- no overflow in either engine.  (A 100 TB
# deployment that doesn't need a SQL oracle would widen this to 64-bit
# xxhash64 permutations; 30-bit minhash space costs <0.1% estimate bias at
# ~10^6 distinct shingle hashes.)
MINHASH_P = 1073741789


def minhash_coeffs(num_hashes: int, seed: int = 11) -> list[tuple[int, int]]:
    """Deterministic universal-family coefficients h_i(x) = (a_i*x + b_i)
    mod MINHASH_P.  Shared literals between the Spark plan and the SQL
    oracle."""
    rng = np.random.RandomState(seed)
    return [(int(rng.randint(1, MINHASH_P)), int(rng.randint(0, MINHASH_P)))
            for _ in range(num_hashes)]


HASHED_GRAMS_SCHEMA = "doc_id bigint, hs array<bigint>"


def hashed_grams_kernel(docs: DataFrame, n: int = 3) -> DataFrame:
    """The hashed shingle MULTISET per doc -- (doc_id, hs array<bigint>):
    ``gram_digests`` sorted ascending, so the persisted intermediate does
    not depend on set iteration order (stable across runs and task
    retries).  ``size(hs)`` is the twin's set_size (distinct gram strings).

    Zero-shuffle Arrow kernel behind ngram_jaccard_pairs' pre-join stage;
    the normalization projection stays JVM-side.  Docs with no full
    shingle -- NULL text included -- emit no row, like the twin's
    ``unnest`` of an empty list.  Pinned per document to the twin's CTEs
    (tests/test_training_ops.py)."""
    from collections.abc import Iterator

    import pandas as pd

    pruned = fan_out(docs).select("doc_id", norm_text_col().alias("t"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hss = [], []
            for doc_id, t in zip(pdf["doc_id"].tolist(), pdf["t"].tolist()):
                hs = np.sort(gram_digests(t, n))
                if hs.size:
                    ids.append(doc_id)
                    hss.append(hs.astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "hs": pd.Series(hss, dtype="object")})

    return pruned.mapInPandas(kernel, HASHED_GRAMS_SCHEMA)


MINHASH_SKETCH_SCHEMA = "doc_id bigint, hg array<bigint>, sig array<bigint>"


def minhash_sketches_kernel(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                            seed: int = 11) -> DataFrame:
    """(doc_id, hg, sig) in ONE zero-shuffle Arrow kernel -- the fast path
    behind minhash_lsh_pairs.

    Per-doc array work belongs in an Arrow kernel once the per-element
    lambda count passes ~1e8: Catalyst interprets every higher-order
    ``transform`` lambda per element, and the shingle concat, the md5 fold
    and the 32 permutation folds cost ~2e9 such evaluations at sf1.
    Here normalization stays JVM-side (``norm_text_col``), tokenize, gram
    and md5 run per doc in C (``gram_digests``), and all ``num_hashes``
    permutations fold as two vectorized numpy ops.  The reference is the
    DuckDB twin (``_minhash_lsh_sql``), pinned per document against its
    ``hgrams`` and ``sig`` CTEs (tests/test_training_ops.py):
      * hg = the distinct hashed shingle set, sorted (the twin's
        list_distinct order differs -- every consumer is order-free:
        size, array_intersect size, min folds);
      * sig[i] = min over hg%%P of (a_i*h + b_i)%%P, exact in uint64
        (a_i, h < 2^30 so products stay < 2^60).
    Docs with no full shingle -- NULL text included -- emit no row, like
    the twin's ``sig`` GROUP BY over an empty unnest."""
    from collections.abc import Iterator

    import pandas as pd

    coeffs = minhash_coeffs(num_hashes, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.uint64).reshape(-1, 1)
    B = np.array([b for _, b in coeffs], dtype=np.uint64).reshape(-1, 1)
    P = np.uint64(MINHASH_P)
    pruned = fan_out(docs).select("doc_id", norm_text_col().alias("t"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hgs, sigs = [], [], []
            for doc_id, t in zip(pdf["doc_id"].tolist(), pdf["t"].tolist()):
                hg = np.unique(gram_digests(t, n))
                if not hg.size:
                    continue
                sig = ((A * (hg % P) + B) % P).min(axis=1)
                ids.append(doc_id)
                hgs.append(hg.astype(np.int64).tolist())
                sigs.append(sig.astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "hg": pd.Series(hgs, dtype="object"),
                                "sig": pd.Series(sigs, dtype="object")})

    return pruned.mapInPandas(kernel, MINHASH_SKETCH_SCHEMA)


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                      bands: int = 8, seed: int = 11,
                      min_jaccard_milli: int = 100) -> DataFrame:
    """Banded-LSH near-duplicate pairs, VERIFIED: split the signature into
    ``bands`` buckets, docs sharing any band bucket are candidates (only
    bucket-mates ever meet -- the scale path), then every candidate pair is
    re-checked with the EXACT n-gram Jaccard (array_intersect of the two
    shingle sets) -- a production dedup never ships an estimate-only match,
    the way the reference gates low-confidence TrOCR output behind a second
    engine (text_recognition.py:111-131).

    Emits (doc_a, doc_b, est_jaccard_milli, jaccard_milli) with the exact
    value filtered at ``min_jaccard_milli``.
    """
    rows_per_band = num_hashes // bands
    # ONE persisted kernel pass supplies both the hashed shingle sets (the
    # exact-verify join's input -- 8-byte hashes, not raw strings, ~10x
    # lighter on the candidate shuffle; md5_hash60 collisions merge
    # identically in the DuckDB twin) and the signatures (both banded
    # self-join sides project from it, and a broadcast build side
    # re-evaluates its subtree -- the persist makes the kernel run once).
    # minhash_sketches_kernel is pinned per document to the twin's sketch
    # CTEs; the r6 kernel move replaced ~2e9 interpreted Catalyst lambda
    # evaluations at sf1 with C loops.
    sketches = track_persist(minhash_sketches_kernel(docs, n, num_hashes, seed))
    hg = sketches.select("doc_id", "hg")
    sig = sketches.select("doc_id", "sig")
    banded = sig.select(
        "doc_id", "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.concat_ws(",", F.transform(
                    F.slice("sig", bidx * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                )),
            )
        ).alias("band", "bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    ga = hg.select(F.col("doc_id").alias("doc_a"), F.col("hg").alias("ha"),
                   F.size("hg").alias("size_a"))
    gb = hg.select(F.col("doc_id").alias("doc_b"), F.col("hg").alias("hb"),
                   F.size("hg").alias("size_b"))
    common = F.size(F.array_intersect("ha", "hb"))
    return (
        cand.select("doc_a", "doc_b",
                    F.floor(F.lit(1000) * est / F.lit(num_hashes)).cast("int").alias("est_jaccard_milli"))
        .join(ga, "doc_a").join(gb, "doc_b")
        .select(
            "doc_a", "doc_b", "est_jaccard_milli",
            F.floor(F.lit(1000) * common
                    / (F.col("size_a") + F.col("size_b") - common)).cast("int").alias("jaccard_milli"),
        )
        .filter(F.col("jaccard_milli") >= min_jaccard_milli)
    )


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """60-bit SimHash over word tokens: per token one engine-portable
    md5-derived hash (md5_hash60), sum of bit votes, sign -> fingerprint
    bits.  Pure aggregate composition, fully SQL-mirrorable."""
    toks = fan_out(docs).select("doc_id", F.explode(F.split(norm_text_col(), " ")).alias("tok"))
    h = toks.select("doc_id", md5_hash60(F.col("tok")).alias("h"))
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def dup_components(pairs: DataFrame, max_iter: int = 15,
                   algorithm: str = "propagate") -> DataFrame:
    """Connected components over near-duplicate pairs: canonical-document
    assignment (the keep-one side of dedup -- every doc maps to the MIN
    doc_id reachable through dup edges).

    Iterative min-label propagation: each round every vertex takes
    min(own label, neighbors' labels); converges in <= graph-diameter
    rounds, with a driver-side early stop when no label changes.  Each
    round is one shuffle on the (small -- dup pairs only, not the corpus)
    edge set; lineage is cut with localCheckpoint so the plan doesn't grow
    exponentially across iterations -- the standard Spark shape for
    iterative graph algorithms.  Each round runs exactly ONE Spark job: a
    per-row ``chg`` flag is computed inline and summed by the same action
    that materializes the round's LAZY localCheckpoint (the r2 shape ran a
    second label-diff job per round just for the convergence check).
    Dup components are near-cliques in practice, so diameter is tiny;
    ``max_iter`` is a safety bound, and the DuckDB oracle computes the
    TRUE transitive closure, so a too-small bound fails loudly as a hash
    mismatch instead of silently.

    ``algorithm='propagate'`` (default): neighbor-min only -- cheapest
    per round, converges in <= diameter rounds, right for near-clique dup
    graphs.  ``algorithm='jump'``: adds a pointer-jumping shortcut after
    each propagation (every vertex adopts its label's label -- one extra
    self-join per round), collapsing convergence to O(log diameter)
    rounds: the escape hatch for pathological long-chain dup graphs
    (e.g. a 10^6-doc chain of pairwise near-dups) that 'propagate' would
    need a million rounds for.  Neither replaces the other: on a
    near-clique the extra self-join costs 'jump' more jobs than the
    rounds it saves.

    Input: (doc_a, doc_b) pairs.  Output: (doc_id, component_id,
    component_size), component_id = min doc_id of the component.
    """
    if algorithm not in ("propagate", "jump"):
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'propagate' or 'jump'")
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).distinct().persist()
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id")).localCheckpoint())
    changed = 0
    for _ in range(max_iter):
        nbr = (edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
               .groupBy(F.col("dst").alias("doc_id"))
               .agg(F.min("label").alias("nbr_label")))
        new_label = F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
        stepped = (labels.join(nbr, "doc_id", "left")
                   .select("doc_id", new_label.alias("label"),
                           F.col("label").alias("old")))
        if algorithm == "jump":
            # pointer jumping: label <- label(label).  Every label value
            # is itself a vertex id, so the referenced row always exists;
            # labels only decrease, so the shortcut composes with the
            # propagation step and halves remaining chain distance.
            ref = stepped.select(F.col("doc_id").alias("ref_id"),
                                 F.col("label").alias("ref_label"))
            stepped = (stepped.join(ref, stepped["label"] == ref["ref_id"])
                       .select("doc_id", F.col("ref_label").alias("label"), "old"))
        # LAZY checkpoint + a JVM-side sum of the inline change flags:
        # the aggregate's single action both materializes the checkpoint
        # (lineage cut) and answers the convergence question -- labels
        # only ever decrease, so changed == (new < old) count.  Kept as
        # a codegen aggregate, never .rdd: pulling the label table
        # through Python Rows would be O(V) serialization per round.
        step = (
            stepped
            .select("doc_id", "label",
                    (F.col("label") < F.col("old")).cast("long").alias("chg"))
            .localCheckpoint(eager=False)
        )
        changed = step.agg(F.sum("chg")).collect()[0][0] or 0
        labels = step.select("doc_id", "label")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # loudness over silence: an unconverged run would emit one
        # component split into several with wrong canonical ids
        raise RuntimeError(
            f"dup_components did not converge within max_iter={max_iter} "
            f"rounds (graph diameter exceeds the bound); raise max_iter")
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("component_size"))
    return (labels.join(sizes, "label")
            .select("doc_id", F.col("label").alias("component_id"), "component_size"))


def auto_n_planes(n_vectors: int, target_bucket: int = 150,
                  lo: int = 3, hi: int = 12) -> int:
    """Occupancy-scaled hyperplane count: enough sign bits that the mean
    bucket holds ~``target_bucket`` vectors.  LSH cost is
    O(sum over buckets of bucket^2): a plane count tuned for 2k vectors
    (r2's fixed 3 planes = 8 buckets/table) puts 2.5k vectors per bucket
    at a 20k corpus and the candidate join explodes ~100x -- the sf1
    scale step caught exactly that (disk-filling spill).  Production
    sizes this from table row-count metadata at index-build time."""
    import math
    return max(lo, min(hi, math.ceil(math.log2(max(1.0, n_vectors / target_bucket)))))


def lsh_plane_ints(dim: int, n_planes: int, seed: int, scale: int = 1000) -> list[list[int]]:
    """Deterministic integer-milli hyperplanes.  Integer weights (and the
    integer-quantized vectors below) make the sign-bit computation EXACT and
    therefore identical across engines -- every product is < 2^53, so even
    an engine that sums in doubles gets the bit-exact integer."""
    rng = np.random.RandomState(seed)
    return [[int(round(x * scale)) for x in row] for row in rng.randn(n_planes, dim)]


def check_embedding_dim(embeddings: DataFrame, dim: int, col: str = "embedding") -> None:
    """Fail fast (cheaply) when the configured hyperplane dim doesn't match
    the data: a sampled first non-null row is checked driver-side, and the
    in-plan guard in _int_sign_bucket catches ragged shards the sample
    misses -- zip_with null-pads a length mismatch, which would otherwise
    silently turn every sign bit into 0 and collapse all vectors into one
    bucket (degenerating the LSH path back into the O(n^2) join it exists
    to avoid)."""
    head = (embeddings.filter(F.col(col).isNotNull())
            .select(F.size(F.col(col)).alias("d")).limit(1).collect())
    if head and head[0]["d"] != dim:
        raise ValueError(
            f"embedding dim {head[0]['d']} != configured dim {dim}; pass dim= "
            f"explicitly (the hyperplane literals and the SQL oracle depend on it)")


def _int_sign_bucket(vq: F.Column, planes: list[list[int]]) -> F.Column:
    """Packed sign bits of integer dot products: bit i = (vq . plane_i) >= 0.

    A NULL dot product (null-padded zip_with from a ragged row the sampled
    driver-side dim check missed) raises at execution instead of silently
    hashing the row into bucket 0.  (Folds, not unrolled chains: see the
    similarity.py negative-result note -- giant unrolled expressions kill
    whole-stage codegen for the enclosing stage.)"""
    bucket = F.lit(0).cast("long")
    err = F.raise_error(
        F.lit("embedding dim mismatch inside LSH bucketing (ragged row)")).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(int(x)).cast("long") for x in p])
        d = F.aggregate(F.zip_with(vq, plane, lambda x, y: x * y),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
        d = F.coalesce(d, err)
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def lsh_buckets(embeddings: DataFrame, n_planes: int, n_tables: int, seed: int,
                dim: int, quant: int) -> DataFrame:
    """The multi-table sign-bucket LSH index of an embedding corpus:
    (vec_id, v, nrm, tbl, bucket), one row per vector per table ``tbl`` in
    [0, n_tables), ``v`` the vector as doubles and ``nrm`` its norm.  Table
    ``t`` buckets the integer-quantized vector (``floor(x * quant)``) by
    the packed signs of its dots with ``lsh_plane_ints(dim, n_planes,
    seed + t)``, so a SQL twin reproduces every bucket bit-for-bit.

    The quantized projection is persisted (``track_persist``): it feeds
    one subtree per table, and without the cache each union branch
    re-reads and re-normalizes the whole corpus (n_tables full scans).
    The dim is checked first (``check_embedding_dim``)."""
    check_embedding_dim(embeddings, dim)
    corpus = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm", F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
    )
    q = track_persist(corpus.withColumn("vq", F.transform("v", lambda x: F.floor(x * quant).cast("long"))))
    tables = [q.select("vec_id", "v", "nrm", F.lit(t).alias("tbl"),
                       _int_sign_bucket(F.col("vq"), lsh_plane_ints(dim, n_planes, seed + t))
                       .alias("bucket"))
              for t in range(n_tables)]
    return reduce(DataFrame.unionByName, tables)


def embedding_cosine_dups(embeddings: DataFrame, min_cos_milli: int = 950,
                          n_planes: int | None = None, n_tables: int = 8,
                          seed: int = 7, quant: int = 100000, dim: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold.

    Multi-table random-hyperplane sign-bit buckets (``lsh_buckets``) --
    candidates only meet bucket-mates via a plain EQUI-join on (table,
    bucket), exact cosine reranks inside the candidate set.  Cost is
    O(sum of bucket^2) instead of O(n^2); recall is tunable via
    (n_planes, n_tables).  ``n_planes=None`` sizes the plane count from
    the corpus row count (auto_n_planes: mean bucket ~150 vectors),
    because a fixed plane count stops scaling the moment the corpus
    outgrows it -- bucket occupancy grows linearly and candidate pairs
    quadratically.
    """
    if n_planes is None:
        # one column-pruned count; production reads this from table
        # metadata (Iceberg record counts) at index-build time
        n_planes = auto_n_planes(embeddings.count())
    bucketed = lsh_buckets(embeddings, n_planes, n_tables, seed, dim, quant)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    # exact rerank AS the join projection: the cosine is computed while a
    # candidate pair is still colocated in the join task and the vectors
    # drop immediately -- only (vec_a, vec_b, cos_milli) ever shuffles.
    # (The r4 sf10 step caught the previous shape: candidates carried two
    # 64-double arrays through the dropDuplicates exchange -- ~1 KB/row
    # across tens of millions of candidate rows, a self-inflicted
    # shuffle 100x the size of the answer.)
    dot_ab = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                         F.lit(0.0), lambda acc, x: acc + x)
    cos_milli = F.floor(F.lit(1000) * dot_ab / (F.col("a.nrm") * F.col("b.nrm"))).cast("int")
    # threshold BEFORE the dedup shuffle: a pair's cosine is a pure
    # function of the pair, so filtering first is equivalent and the
    # distinct exchange moves only genuine duplicates (the answer),
    # never the rejected candidate bulk
    return (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos_milli.alias("cos_milli"))
        .filter(F.col("cos_milli") >= min_cos_milli)
        .dropDuplicates(["vec_a", "vec_b"])
    )
