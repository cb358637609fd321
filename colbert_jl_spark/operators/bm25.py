"""Exhaustive BM25 scorer + top-k — the engine's rank-identity oracle.

Analogue of the reference's exhaustive scoring path: ``maxsim`` scores
EVERY candidate with no early termination
(reference src/search/ranking.jl:69-86; note at SURVEY.md §3.2), then
``sortperm(scores, rev=true)[1:k]`` (reference src/searching.jl:125-127).
Here: every (query term × posting) partial score → groupBy(qid, doc_id)
sum → per-query top-k window. MaxSim's sum-over-query-tokens aggregation
shape survives as BM25's sum-over-query-terms (SURVEY.md §2.7 Q6 mapping).

This is SURVEY.md §7 Stage 0: the pure-DataFrame referee that the pruned
block-max WAND executor (operators/wand.py) must match rank-identically —
mirroring the reference's own oracle/approx equivalence testing style.

Scoring (frozen; the oracle SQL in __spark_entry__ replicates it digit for
digit):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))        [Lucene form, >0]
    K(d)       = k1 * (1 - b + b * doclen(d) / avgdl)
    s(t, d)    = idf(t) * tf * (k1 + 1) / (tf + K(d))
    score(q,d) = Σ_t qtf(t) * s(t, d)

Physical plan at scale: query terms are a tiny dim table → broadcast hash
join against the posting table (no shuffle of postings); doclens join is
broadcast when docstats fit, else a shuffled join AQE can re-plan; the
top-k is a ranking window partitioned by qid (per-partition partial top-k
via TakeOrdered shape). ``.explain`` is pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.functions.tokenizer import terms_col


def query_terms(queries: DataFrame, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """(qid, term, qtf) — the query-side multiset, tokenized with the SAME
    frozen tokenizer as documents (reference analogue: tensorize_queries,
    src/modelling/tokenization/query_tokenization.jl:174-197, minus the
    [MASK] augmentation which has no lexical analogue)."""
    return (
        queries.select("qid", F.explode(terms_col("query", None, cfg.stopwords)).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("qtf"))
    )


def idf_col(df_col, n_docs: int):
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def bm25_scores(
    qterms: DataFrame,
    postings: DataFrame,
    dictionary: DataFrame,
    docstats: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig = EngineConfig(),
) -> DataFrame:
    """(qid, doc_id, score) — exhaustive BM25 over all matching docs.

    qterms:     (qid, term, qtf)            [tiny → broadcast]
    postings:   (term, doc_id, tf)          [the big fact table]
    dictionary: (term, df, cf)              [one row per distinct term]
    docstats:   (doc_id, doclen)
    """
    k1, b = cfg.k1, cfg.b
    # dictionary join is only needed for the handful of query terms →
    # broadcast the (qterm ⋈ df) product, then ONE broadcast join against
    # postings: postings never shuffle.
    qt = qterms.join(dictionary.select("term", "df"), "term")
    qt = qt.withColumn("idf", idf_col(F.col("df"), n_docs)).drop("df", "cf")

    matched = postings.join(F.broadcast(qt), "term")
    scored = matched.join(docstats.select("doc_id", "doclen"), "doc_id")
    k_norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.lit(float(avgdl)))
    partial = (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + k_norm)
    )
    return (
        scored.withColumn("partial", partial)
        .groupBy("qid", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )


def topk(scores: DataFrame, k: int = 10) -> DataFrame:
    """(qid, rank, doc_id, score) — per-query top-k with the TOTAL tie-break
    (score desc, doc_id asc) required for rank identity (FIXTURES.md §3).

    Ranking window = Spark's per-partition partial top-k + merge; the
    analogue of reference _topk (src/utils.jl:327-332).

    Ordering uses the ROUNDED score (6dp) so rank is invariant to the
    ±1-ulp float jitter different summation orders produce — the same
    rounding the cross-engine hash compare sees."""
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def bm25_topk_conjunctive(
    docs: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    k: int = 10,
) -> DataFrame:
    """Conjunctive (intersection) BM25 top-k: only documents containing
    EVERY distinct query term are scored — the exhaustive referee for the
    skip-pointer posting-list intersection executor
    (operators/wand.py:wand_topk mode="intersect"; the north rule names
    'posting-list intersection' explicitly).

    Same plan shape as bm25_topk plus a terms_hit == n_terms filter: the
    per-(qid, doc) aggregation already sees one row per matched term, so
    the intersection test is a count against the broadcast per-query term
    count — no extra join against postings. A query containing any
    zero-df term returns EMPTY (no doc can contain it)."""
    from colbert_jl_spark.operators.docstats import corpus_stats, doclens
    from colbert_jl_spark.operators.postings import term_df, term_postings

    k1, b = cfg.k1, cfg.b
    ds = doclens(docs, cfg)
    stats = corpus_stats(ds)
    p = term_postings(docs, cfg)
    d = term_df(p)
    qt = query_terms(queries, cfg)
    qn = qt.groupBy("qid").agg(F.count("*").alias("n_terms"))

    enriched = qt.join(d.select("term", "df"), "term").withColumn(
        "idf", idf_col(F.col("df"), stats["n_docs"])
    )
    matched = p.join(F.broadcast(enriched), "term").join(
        ds.select("doc_id", "doclen"), "doc_id"
    )
    k_norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.lit(float(stats["avgdl"]))
    )
    partial = (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + k_norm)
    )
    scores = (
        matched.withColumn("partial", partial)
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("partial").alias("score"),
            F.countDistinct("term").alias("terms_hit"),
        )
    )
    conj = (
        scores.join(F.broadcast(qn), "qid")
        .where(F.col("terms_hit") == F.col("n_terms"))
        .select("qid", "doc_id", "score")
    )
    return topk(conj, k).select(
        "qid", "rank", "doc_id", F.round("score", 6).alias("score")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    k: int = 10,
) -> DataFrame:
    """End-to-end oracle: documents + queries → (qid, rank, doc_id, score).

    Builds postings/stats inline (no persisted index) — the referee path.
    Score is rounded to 6 decimals for cross-engine comparability (same
    rounding in the DuckDB oracle SQL); rank also orders by the ROUNDED
    score (see topk) so rank is invariant to ±1-ulp summation jitter.
    """
    from colbert_jl_spark.operators.docstats import corpus_stats, doclens
    from colbert_jl_spark.operators.postings import term_df, term_postings

    ds = doclens(docs, cfg)
    stats = corpus_stats(ds)
    p = term_postings(docs, cfg)
    d = term_df(p)
    qt = query_terms(queries, cfg)
    scores = bm25_scores(qt, p, d, ds, stats["n_docs"], stats["avgdl"], cfg)
    out = topk(scores, k)
    return out.select(
        "qid", "rank", "doc_id", F.round("score", 6).alias("score")
    )
