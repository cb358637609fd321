"""Similarity search over the embeddings table (vec_id, embedding, label).

* ``cosine_topk``          — exact brute-force top-k per query vector:
                             the correctness baseline (and the oracle for
                             the ANN path), expressed as a broadcast join
                             + JVM higher-order-function dot product.
* ``lsh_ann_topk``         — random-hyperplane LSH bucketing: queries only
                             score vectors in colliding buckets (multi-
                             probe over H tables). The 100 TB path — the
                             shuffle is keyed by (table, bucket), never
                             all-pairs. Recall vs the brute-force oracle
                             is gated in tests.
* ``embedding_neardup_pairs`` — cosine ≥ threshold near-duplicate pairs
                             via the same LSH bucketing (training-data
                             dedup by embedding).

Dot products run in Catalyst via ``aggregate(zip_with(...))`` — JVM
whole-stage codegen, no Python. For very wide vectors a pandas-UDF
matmul variant wins on SIMD; at dim=64 the JVM expression is faster than
the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vecs: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    embeddings: (vec_id, embedding); query_vecs: (qvec_id, qembedding).
    Queries are broadcast (small by definition) → the big side never
    shuffles; per-query ranking window does the distributed top-k.
    Output: (qvec_id, rank, vec_id, cosine[rounded 6dp]); self-matches
    (qvec_id == vec_id) are excluded; tie-break cosine desc, vec_id asc
    on the ROUNDED value (cross-engine rank stability)."""
    joined = embeddings.crossJoin(F.broadcast(query_vecs)).where(
        F.col("vec_id") != F.col("qvec_id")
    )
    scored = joined.withColumn(
        "cosine",
        _dot(
            F.col("embedding").cast("array<double>"),
            F.col("qembedding").cast("array<double>"),
        )
        / (
            _norm(F.col("embedding").cast("array<double>"))
            * _norm(F.col("qembedding").cast("array<double>"))
        ),
    )
    w = Window.partitionBy("qvec_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qvec_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).tolist()


def lsh_buckets(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(vec_id, table_id, bucket) — sign-pattern bucket per hash table.

    bucket = Σ_i [dot(v, plane_i) > 0] << i, computed with Catalyst array
    expressions over literal plane vectors (broadcast as literals in the
    plan — no side channel needed)."""
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    tables = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i in range(n_planes):
            plane = F.array(*[F.lit(float(x)) for x in planes[t][i]])
            bit = (
                _dot(F.col("embedding").cast("array<double>"), plane) > 0
            ).cast("long")
            bucket = bucket + F.shiftleft(bit, i)
        tables.append(
            F.struct(F.lit(t).alias("table_id"), bucket.alias("bucket"))
        )
    return embeddings.select(
        "vec_id", "embedding", F.explode(F.array(*tables)).alias("tb")
    ).select("vec_id", "embedding", "tb.table_id", "tb.bucket")


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vecs: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing ≥1 LSH bucket with the
    query across any of the n_tables hash tables. Same output shape as
    cosine_topk. Candidate generation is a bucket-keyed join — the
    all-pairs cross join never materializes (the ANN analogue of WAND's
    'open only the touched posting lists').

    Operating point 4 planes x 16 tables: collision probability
    1-(1-(1-theta/pi)^4)^16 ~ 0.94 at cosine 0.4 and ~1 above 0.7 — tuned
    for mid-similarity recall; raise n_planes (smaller buckets) when the
    corpus is large and only high-cosine neighbors matter."""
    base = lsh_buckets(embeddings, dim, n_planes, n_tables)
    qb = lsh_buckets(
        query_vecs.select(
            F.col("qvec_id").alias("vec_id"), F.col("qembedding").alias("embedding")
        ),
        dim,
        n_planes,
        n_tables,
    ).select(
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("qembedding"),
        "table_id",
        "bucket",
    )
    # dedup multi-table collisions on the ID PAIR only (shuffling the full
    # embedding arrays through a distinct costs ~dim x 8 bytes per row for
    # nothing), then re-attach vectors: the corpus side by join, the tiny
    # query side by broadcast
    cand_ids = (
        base.select("vec_id", "table_id", "bucket")
        .join(F.broadcast(qb.select("qvec_id", "table_id", "bucket")),
              ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("qvec_id"))
        .select("qvec_id", "vec_id")
        .distinct()
    )
    cands = cand_ids.join(embeddings, "vec_id").join(
        F.broadcast(query_vecs), "qvec_id"
    )
    scored = cands.withColumn(
        "cosine",
        _dot(
            F.col("embedding").cast("array<double>"),
            F.col("qembedding").cast("array<double>"),
        )
        / (
            _norm(F.col("embedding").cast("array<double>"))
            * _norm(F.col("qembedding").cast("array<double>"))
        ),
    )
    w = Window.partitionBy("qvec_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qvec_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 12,
) -> DataFrame:
    """(vec_a, vec_b, cosine) — near-duplicate pairs by embedding cosine.

    LSH-bucketed self-join (pairs must collide in ≥1 table) + exact cosine
    verification. High-threshold pairs collide with overwhelming
    probability at 10 planes × 12 tables (miss ≈ (1-(1-θ/π)^10)^12 < 1%
    at cosine .95)."""
    b = lsh_buckets(embeddings, dim, n_planes, n_tables).select(
        "vec_id", "table_id", "bucket"
    )
    a = b.withColumnRenamed("vec_id", "vec_a")
    c = b.withColumnRenamed("vec_id", "vec_b")
    # candidate ID pairs first (dedup across tables shuffles only two
    # longs per pair), vectors re-attached afterwards for verification
    pair_ids = (
        a.join(c, ["table_id", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    pairs = pair_ids.join(
        embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")),
        "vec_a",
    ).join(
        embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")),
        "vec_b",
    )
    scored = pairs.withColumn(
        "cosine",
        _dot(F.col("emb_a").cast("array<double>"), F.col("emb_b").cast("array<double>"))
        / (
            _norm(F.col("emb_a").cast("array<double>"))
            * _norm(F.col("emb_b").cast("array<double>"))
        ),
    )
    return (
        scored.where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def brute_force_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Exact all-pairs variant (oracle for tests / DuckDB parity).
    O(N²) — correctness baseline only; the LSH path is the scale path."""
    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    pairs = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.withColumn(
        "cosine",
        _dot(F.col("emb_a").cast("array<double>"), F.col("emb_b").cast("array<double>"))
        / (
            _norm(F.col("emb_a").cast("array<double>"))
            * _norm(F.col("emb_b").cast("array<double>"))
        ),
    )
    return (
        scored.where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )
