"""Inverted-index posting construction — the engine's I-layer (SURVEY.md §2.6).

The analogue of the reference's ``_build_ivf``
(reference src/indexing/collection_indexer.jl:349-353: group embedding ids
by centroid into CSR runs) re-grounded as: group ``(term, doc_id, tf)``
postings by term into docid-sorted runs.

Pipeline shape (all Catalyst, zero Python):

1. ``term_postings``: docs → explode(terms) → groupBy(term, doc_id).count()
   — the SPIMI in-partition step. Spark's hash aggregate does map-side
   partial aggregation, so each input partition emits each (term, doc_id)
   pair once — exactly the reference's per-chunk encode+compress pass
   (collection_indexer.jl:271-297) without a driver loop.
2. ``term_df``: dictionary (term, df, cf) — the analogue of ivf_lengths.
3. ``posting_lists``: docid-sorted run per term. Head-term skew (Zipf: "the"
   touches ~every doc) would funnel one reducer per head term, so the merge
   is SALTED two-stage (SURVEY.md §4 Skew): stage 1 groups (term, salt)
   building sorted sub-runs, stage 2 merges ≤salt_buckets runs per term.
   AQE only splits skewed *joins*, not aggregations — this is job
   structure the engine must own.

Scale notes: stage 1's groupBy(term, salt) spreads any single term over
``salt_buckets`` reducers; stage 2 shuffles one row per (term, salt) — tiny.
The posting arrays themselves are bounded by block compression downstream
(operators/codec_blocks.py splits runs into 128-doc blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.functions.tokenizer import terms_col


def term_postings(docs: DataFrame, cfg: EngineConfig = EngineConfig()) -> DataFrame:
    """(term, doc_id, tf) — one row per distinct term per doc.

    tf counts occurrences within the (truncated, stoplisted) token stream —
    the BM25 analogue of 'one embedding per kept token'
    (reference src/modelling/checkpoint.jl:99-104).
    """
    return (
        docs.select("doc_id", F.explode(terms_col("text", cfg.doc_maxlen, cfg.stopwords)).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def term_df(postings: DataFrame) -> DataFrame:
    """Dictionary: (term, df, cf). df = #docs containing term, cf = total
    occurrences. Analogue of ivf_lengths (collection_indexer.jl:352-353)."""
    return postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    )


# Hard ceiling on the array-output API: one posting struct is ~16 bytes in
# flight, so 2^24 postings ≈ 270 MB per array value — safely under Spark's
# 2 GiB single-value/page limits with headroom for the sort's copy. A head
# term at web scale (df ≈ N) must NEVER materialize as one array: that is
# the 2 GB-value / one-reducer-row failure mode (VERDICT r2 "What's wrong
# #3") — use posting_runs() (per-salt rows) or the block codec instead.
MAX_POSTING_ARRAY_LEN = 1 << 24


def posting_runs(
    postings: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    max_array_len: int = MAX_POSTING_ARRAY_LEN,
) -> DataFrame:
    """(term, salt, sub_df, sub_run: array<struct<doc_id, tf>>) — the
    SKEW-SPREAD posting-list surface: one docid-sorted run per (term, salt),
    never concatenated, so no row ever holds more than ~df/salt_buckets
    postings regardless of skew. This is the stage-1 output of the salted
    merge exposed as an API; consumers that need the full list stream the
    ≤salt_buckets runs per term (they are disjoint by doc_id % salt and
    each sorted, so a k-way merge is linear). The block codec path
    (operators/codec_blocks.py) is the production consumer shape: blocks
    are independent per (term, doc-bucket) slice and never concatenate.

    Per-salt runs are spread, NOT unbounded: with the default 8 salt
    buckets a df≈1e9 web head term still puts ~1.25e8 entries (~2 GB) in
    one aggregation value — the same 2 GiB-value failure mode
    posting_lists guards against. The in-plan sub_df guard turns a
    moderately-over-bound run into a loud, named error (sizing
    salt_buckets ≈ df_max / max_array_len is the fix) — but it evaluates
    on the aggregation's OUTPUT row, so a run big enough to blow the
    2 GiB buffer inside collect_list itself dies before the guard can
    speak. When df_max/salt_buckets may approach the bound, call
    ``check_run_bounds`` (an eager count-only pre-pass) first."""
    s = cfg.salt_buckets
    entry = F.struct(F.col("doc_id"), F.col("tf"))
    guard_msg = F.concat(
        F.lit("posting_runs: term '"),
        F.col("term"),
        F.lit(
            f"' has a per-salt run > max_array_len={max_array_len} "
            f"(salt_buckets={s}); raise EngineConfig.salt_buckets so "
            "df_max/salt_buckets fits, or consume the block codec "
            "(operators/codec_blocks.py) whose groups never concatenate"
        ),
    )
    guarded_sub_df = F.when(
        F.col("sub_df") > max_array_len, F.raise_error(guard_msg).cast("long")
    ).otherwise(F.col("sub_df"))
    return (
        postings.withColumn("salt", (F.col("doc_id") % s).cast("int"))
        .groupBy("term", "salt")
        .agg(
            F.count("*").alias("sub_df"),
            F.sort_array(F.collect_list(entry)).alias("sub_run"),
        )
        .select("term", "salt", guarded_sub_df.alias("sub_df"), "sub_run")
    )


def check_run_bounds(
    postings: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    max_array_len: int = MAX_POSTING_ARRAY_LEN,
) -> None:
    """EAGER pre-flight for the array-output APIs: one count-only
    aggregation (map-side combinable — no arrays, no big values) that
    raises driver-side if ANY (term, salt) run would exceed
    ``max_array_len``. The in-plan raise_error guards inside
    posting_runs/posting_lists can only fire after collect_list has
    materialized the offending value, which for a genuinely 2 GiB run is
    too late (executor OOM / BufferHolder overflow) — this check runs
    BEFORE any array is built. Call it when df_max/salt_buckets may
    approach the bound; the block-codec path never needs it (its groups
    are (term, doc-bucket)-sliced and never concatenate)."""
    s = cfg.salt_buckets
    over = (
        postings.withColumn("salt", (F.col("doc_id") % s).cast("int"))
        .groupBy("term", "salt")
        .agg(F.count("*").alias("sub_df"))
        .where(F.col("sub_df") > max_array_len)
        .select("term", "sub_df")
        .orderBy(F.desc("sub_df"))
        .first()
    )
    if over is not None:
        raise RuntimeError(
            f"posting run for term '{over.term}' would hold {over.sub_df} "
            f"entries > max_array_len={max_array_len} with salt_buckets={s}"
            " — raise EngineConfig.salt_buckets so df_max/salt_buckets "
            "fits, or consume the block codec (operators/codec_blocks.py)"
        )


def posting_lists(
    postings: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    salted: bool = True,
    max_array_len: int = MAX_POSTING_ARRAY_LEN,
) -> DataFrame:
    """(term, df, postings: array<struct<doc_id, tf>>) with postings sorted
    by doc_id ascending — the CSR run the reference builds with
    ``sortperm(codes)`` (collection_indexer.jl:349-353).

    ``salted=True`` runs the two-stage skew-safe merge; ``salted=False`` is
    the naive single groupBy used by tests to verify the salted path is
    result-identical (FIXTURES.md §6 Skew fixture).

    The single-array output is BOUNDED: any term with df > ``max_array_len``
    raises at execution time with a pointer to ``posting_runs`` — a df≈N
    head term concatenated into one array value is a 2 GB-value risk at
    corpus scale, and failing loudly beats a mid-stage executor OOM. The
    in-plan guard fires once the aggregation output row exists; for runs
    so large that the aggregation buffer itself would overflow, run the
    eager ``check_run_bounds`` pre-flight first (count-only, cheap).
    """
    entry = F.struct(F.col("doc_id"), F.col("tf"))
    guard_msg = F.concat(
        F.lit("posting_lists: term '"),
        F.col("term"),
        F.lit(
            f"' has df > max_array_len={max_array_len}; a single-array row "
            "this large risks the 2 GiB value limit — consume posting_runs() "
            "(per-salt runs) or the block codec for unbounded terms"
        ),
    )
    guarded_df = F.when(
        F.col("df") > max_array_len, F.raise_error(guard_msg).cast("long")
    ).otherwise(F.col("df"))
    if not salted:
        return (
            postings.groupBy("term")
            .agg(
                F.count("*").alias("df"),
                F.sort_array(F.collect_list(entry)).alias("postings"),
            )
            .select("term", guarded_df.alias("df"), "postings")
        )

    # stage 1: (term, salt) → sorted sub-run. Any head term fans out over s
    # reducers instead of melting one.
    sub = posting_runs(postings, cfg)
    # stage 2: ≤s rows per term → flatten + final sort. The final
    # sort_array over the concatenated runs is O(df log df) per term but on
    # pre-sorted runs. The df guard (sum of the tiny sub_df column) fails
    # the query before the flatten+sort builds a single contiguous
    # oversized array value and before any downstream operator or writer
    # sees the row — the agg buffer holds the runs either way, but it holds
    # them as ≤s separate arrays, under the per-value limits.
    merged = sub.groupBy("term").agg(
        F.sum("sub_df").alias("df"),
        F.collect_list("sub_run").alias("runs"),
    )
    return merged.select(
        "term",
        guarded_df.alias("df"),
        F.sort_array(F.flatten(F.col("runs"))).alias("postings"),
    )

