"""Similarity search over an embedding column (array<float>).

Three paths:
  brute_force_topk -- exact cosine top-k: broadcast the (small) query set
                      against the corpus; JVM-side zip_with/aggregate dot
                      products, rank via window.  The correctness baseline.
  lsh_ann_topk     -- random-hyperplane LSH (dedup.lsh_buckets): deterministic
                      sign-bit bucket key, candidates only meet bucket-mates
                      (multi-probe over several independent tables), exact
                      rerank inside the candidate set.  Cost is O(candidates) not
                      O(corpus) per query.
  ivf_topk         -- inverted-file index: every vector is assigned to its
                      best coarse centroid cell (broadcast centroids +
                      integer-exact argmax), queries probe their n_probe
                      nearest cells, exact rerank inside the probed cells.
                      The other standard 100 TB ANN shape; cell assignment
                      is a write-once batch job in production.

Rank output is integer-only (rank + ids + cos_e5 floors) so the DuckDB
oracle matches despite cross-engine float-summation-order differences;
bucket/cell assignments are integer-exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p_id_text_extraction_spark.operators.dedup import auto_n_planes, lsh_buckets


def _as_double(col: str = "embedding") -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


# NEGATIVE RESULT (r4, measured at sf10 -- recorded so it isn't retried):
# unrolling the dot products into 64-term getItem chains
# (0.0 + v[0]*q[0] + ...) is bit-identical to the sequential fold and ~3x
# faster in an ISOLATED projection (codegen handles one chain), but
# inside the candidate JOIN stages the giant expression blows the
# whole-stage-codegen method-size limit and Spark falls back to
# interpreted iterators FOR THE WHOLE STAGE: dedup_embedding_cosine
# 269s -> 1156s, sim_topk 14.5s -> 43s at sf10.  The interpreted
# higher-order fold is the fastest codegen-safe formulation available.


def _norm(v: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _exact_rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """THE scoring contract, shared by every path: exact cosine over a
    candidate set carrying (query_id, qv, qnrm, vec_id, v, nrm), floored to
    cos_e5 integers, per-query row_number ranked with the (cos desc,
    vec_id asc) tie-break.  Any change here must be mirrored in every SQL
    twin in plans/queries.py."""
    dot = F.aggregate(F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    scored = cand.select(
        "query_id", "vec_id",
        F.floor(F.lit(100000) * dot / (F.col("qnrm") * F.col("nrm"))).cast("long").alias("cos_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e5").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "cos_e5")
    )


def brute_force_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact cosine top-k: query set = vec_id < n_queries (deterministic).

    The query side is tiny -> broadcast join; Catalyst keeps the corpus
    scan pruned to (vec_id, embedding).  Ranking is a per-query window.
    """
    corpus = embeddings.select("vec_id", _as_double().alias("v")).withColumn("nrm", _norm(F.col("v")))
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cand = corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    return _exact_rerank_topk(cand, k)


def ivf_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             quant: int = 100000) -> DataFrame:
    """IVF-flat approximate top-k.

    Coarse centroids are the first ``n_centroids`` vectors (a deterministic
    anchor set; production would k-means them -- the *index shape* is what
    this operator encodes).  Assignment and probing both use INTEGER dot
    products over quantized vectors (every term < 2^53), so cell membership
    is bit-identical across engines and the whole query has a DuckDB twin.

    Plan shape: the trained centroids are DRIVER-SIDE LITERALS (collected
    once -- a bounded n_centroids-row action; production IVF trains them
    offline and ships them exactly like this), so cell assignment is a
    ZERO-exchange projection: the n_centroids integer dots are one array
    expression per row, argmax is array_max + array_position (first match
    = smallest cid, the (d desc, cid asc) tie-break).  Probing sorts the
    same (d, cid) pairs inline over the tiny query rows.  The r2 plan
    instead broadcast-nested-looped the corpus x n_centroids and shuffled
    the 16x blowup through a per-vector window just to take an argmax --
    a scale-killer at 100x the corpus.
    """
    corpus = embeddings.select("vec_id", _as_double().alias("v")).withColumn("nrm", _norm(F.col("v")))
    qz = corpus.withColumn("vq", F.transform("v", lambda x: F.floor(x * quant).cast("long")))
    cents = sorted(
        qz.filter(F.col("vec_id") < n_centroids).select("vec_id", "vq").collect(),
        key=lambda r: r["vec_id"],
    )
    if not cents:
        raise ValueError("ivf_topk: no centroid vectors (vec_id < n_centroids is empty)")

    def idot(cq: list) -> F.Column:
        plane = F.array(*[F.lit(int(x)).cast("long") for x in cq])
        return F.aggregate(F.zip_with("vq", plane, lambda x, y: x * y),
                           F.lit(0).cast("long"), lambda a, x: a + x)

    dots = F.array(*[idot(r["vq"]) for r in cents])
    cids = F.array(*[F.lit(int(r["vec_id"])).cast("int") for r in cents])
    # argmax with (d desc, cid asc) tie-break: cents are cid-ascending and
    # array_position returns the FIRST index holding the max
    best_cid = F.element_at(cids, F.array_position(dots, F.array_max(dots)).cast("int"))
    assigned = qz.select("vec_id", "v", "nrm", best_cid.alias("cid"))

    # top-n_probe cells per query: sort (neg-dot, cid) structs inline --
    # array_sort on structs is lexicographic, so nd asc == d desc, cid asc
    pairs = F.array(*[
        F.struct((-idot(r["vq"])).alias("nd"), F.lit(int(r["vec_id"])).cast("int").alias("cid"))
        for r in cents
    ])
    probes = (
        qz.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"),
                F.explode(F.transform(F.slice(F.array_sort(pairs), 1, n_probe),
                                      lambda s: s["cid"])).alias("cid"))
    )
    cand = (assigned.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "qv", "qnrm", "vec_id", "v", "nrm"))
    return _exact_rerank_topk(cand, k)


def lsh_ann_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5,
                 n_planes: int | None = None, n_tables: int = 4, seed: int = 42,
                 dim: int = 64, quant: int = 100000) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH + exact rerank.

    ``n_planes=None`` auto-sizes from the corpus count (floor 8 planes, so
    small corpora keep the r2 tuning and its static oracle; mean bucket
    ~128 beyond that) -- per-query rerank cost tracks bucket occupancy,
    which grows linearly with the corpus at a fixed plane count.

    Each vector lands in one bucket per table (``dedup.lsh_buckets``, the
    index embedding dedup joins too); query candidates = union of its
    buckets across tables.  Equality join on (table, bucket) -- a plain
    shuffle-hash join that scales linearly; brute-force cosine only inside
    the candidate set.  Buckets come from INTEGER-exact sign bits
    (dedup.lsh_plane_ints: quantized vector x integer-milli plane, every
    product < 2^53), so a DuckDB oracle reproduces the same candidate set
    bit-for-bit and the whole approximate path is value-hash-checkable.
    """
    if n_planes is None:
        n_planes = auto_n_planes(embeddings.count(), target_bucket=128, lo=8, hi=16)
    bucketed = lsh_buckets(embeddings, n_planes, n_tables, seed, dim, quant)

    q = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"),
        "tbl", "bucket",
    )
    cand = (
        bucketed.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "qnrm", "vec_id", "v", "nrm")
        # ONE shuffle keyed on query_id serves everything downstream:
        # HashPartitioning(query_id) satisfies the clustering the
        # cross-table dedup needs (partitioning exprs are a subset of
        # [query_id, vec_id]), the rerank window partitions on query_id
        # exactly, and a recall-audit join/groupBy on query_id reuses it
        # too -- vs the r2 plan's chain of distinct exchanges
        .repartition("query_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _exact_rerank_topk(cand, k)
