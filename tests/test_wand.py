"""WAND ≡ exhaustive-oracle rank identity — the engine's hardest gate
(SURVEY.md §7 hard part (a)); analogue of the reference pinning its
end-to-end top-k outputs (reference README.md:153-156 golden result)."""

from __future__ import annotations

import pandas as pd
import pytest

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators.bm25 import bm25_topk
from colbert_jl_spark.operators.wand import wand_topk_inline
from colbert_jl_spark.queries import queries_df
from tests.conftest import SF01


def _assert_rank_identical(oracle_pdf: pd.DataFrame, wand_pdf: pd.DataFrame):
    o = oracle_pdf.sort_values(["qid", "rank"]).reset_index(drop=True)
    w = wand_pdf.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert len(o) == len(w), f"row counts differ: oracle={len(o)} wand={len(w)}"
    pd.testing.assert_frame_equal(o, w, check_like=True)


def test_wand_rank_identical_sf001(spark, docs01):
    cfg = EngineConfig()
    q = queries_df(spark)
    oracle = bm25_topk(docs01, q, cfg).toPandas()
    wand = wand_topk_inline(spark, docs01, q, cfg).toPandas()
    _assert_rank_identical(oracle, wand)


def _small_block_cfg(fmt: str) -> EngineConfig:
    """block_size 8, 7 salts, one doc per bucket minimum — read the way an
    index's plan config is, naming its block format."""
    return EngineConfig.from_plan_config(
        {
            "block_size": 8,
            "num_index_partitions": 7,
            "min_bucket_docs": 1,
            "block_format": fmt,
        }
    )


@pytest.mark.parametrize("fmt", ["varint"])
def test_wand_rank_identical_small_blocks(spark, docs01, fmt):
    """Tiny blocks force many skip/pivot decisions (stress the BMW logic);
    small salt count stresses the bucket merge."""
    cfg = _small_block_cfg(fmt)
    q = queries_df(spark)
    oracle = bm25_topk(docs01, q, cfg).toPandas()
    wand = wand_topk_inline(spark, docs01, q, cfg).toPandas()
    _assert_rank_identical(oracle, wand)


def test_wand_duplicate_query_terms(spark, docs01):
    """qtf > 1: a repeated query term multiplies its contribution in both
    the oracle and WAND (reference analogue: repeated query tokens each
    contribute a MaxSim row). Also pins score relation: score('data data')
    = 2 x score('data') per doc."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("qid", LongType()), StructField("query", StringType())]
    )
    q = spark.createDataFrame(
        [(0, "data"), (1, "data data"), (2, "data data table")], schema
    )
    cfg = EngineConfig()
    oracle = bm25_topk(docs01, q, cfg).toPandas()
    wand = wand_topk_inline(spark, docs01, q, cfg).toPandas()
    _assert_rank_identical(oracle, wand)
    s1 = oracle[oracle.qid == 0].set_index("doc_id").score
    s2 = oracle[oracle.qid == 1].set_index("doc_id").score
    shared = s1.index.intersection(s2.index)
    assert len(shared) >= 5
    assert ((s2[shared] - 2 * s1[shared]).abs() < 2e-6).all()


@pytest.mark.parametrize("fmt", ["varint"])
def test_intersect_rank_identical(spark, docs01, fmt):
    """Skip-pointer zig-zag intersection == exhaustive conjunctive scorer,
    with tiny blocks (many skip decisions)."""
    from colbert_jl_spark.operators.bm25 import bm25_topk_conjunctive
    from colbert_jl_spark.operators.wand import wand_intersect_inline

    cfg = _small_block_cfg(fmt)
    q = queries_df(spark)
    oracle = bm25_topk_conjunctive(docs01, q, cfg).toPandas()
    zig = wand_intersect_inline(spark, docs01, q, cfg).toPandas()
    _assert_rank_identical(oracle, zig)
    assert len(oracle) > 0  # the fixture queries intersect non-trivially


def test_intersect_zero_df_term_empties_query(spark, docs01):
    """Conjunctive semantics: one impossible term empties the whole query
    — in the block executor that falls out of the n_terms guard (the term
    has no blocks anywhere, so every bucket sees fewer cursors than
    n_terms)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from colbert_jl_spark.operators.bm25 import bm25_topk_conjunctive
    from colbert_jl_spark.operators.wand import wand_intersect_inline

    schema = StructType(
        [StructField("qid", LongType()), StructField("query", StringType())]
    )
    q = spark.createDataFrame(
        [(0, "data zzzmissingterm"), (1, "data table")], schema
    )
    cfg = EngineConfig(block_size=16, min_bucket_docs=100)
    oracle = bm25_topk_conjunctive(docs01, q, cfg).toPandas()
    zig = wand_intersect_inline(spark, docs01, q, cfg).toPandas()
    _assert_rank_identical(oracle, zig)
    assert 0 not in set(zig.qid)  # impossible term → empty
    assert 1 in set(zig.qid)


def test_wand_on_synthetic_needles(spark):
    """Synthetic Zipf corpus with needle markers: the needle query's top hit
    must be its host doc (exact-hit fixture, FIXTURES.md §2)."""
    from colbert_jl_spark.sources.pages import docs_from_pages, synth_pages
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    pages = synth_pages(spark, 300, seed=42)
    docs = docs_from_pages(pages).cache()
    # find one needle term in the corpus
    needle_doc = (
        docs.selectExpr("doc_id", "text")
        .where("text like '%needle%'")
        .first()
    )
    needle_term = [t for t in needle_doc.text.split() if t.startswith("needle")][0]
    schema = StructType(
        [StructField("qid", LongType()), StructField("query", StringType())]
    )
    q = spark.createDataFrame([(0, needle_term), (1, "w0 w1 w2")], schema)
    cfg = EngineConfig(block_size=16, min_bucket_docs=50)
    oracle = bm25_topk(docs, q, cfg).toPandas()
    wand = wand_topk_inline(spark, docs, q, cfg).toPandas()
    _assert_rank_identical(oracle, wand)
    top_needle = wand[(wand.qid == 0) & (wand["rank"] == 1)]
    assert top_needle.doc_id.iloc[0] == needle_doc.doc_id


def test_exact_round6_matches_spark_round(spark):
    """_exact_round6 (the fused path's rank-ordering rounding) must be
    bit-identical to Spark's round(col, 6). Spark quantizes the SHORTEST
    round-trip decimal repr (BigDecimal over Double.toString), not the
    double's exact binary expansion — e.g. float("1.5000015") has exact
    expansion 1.50000149999… yet Spark emits 1.500002; Decimal(repr(x))
    reproduces this, Decimal(x) does not (a confirmed divergence class of
    ~tens of thousands of doubles)."""
    import numpy as np
    from pyspark.sql import functions as F

    from colbert_jl_spark.operators.wand import _exact_round6

    vals = [
        1.5000015, 0.0000005, 2.0000025, 123.4567895, 0.1 + 0.2,
        1e-7, 9.9999995, 0.9999995, 3.0000004999999997, 7.1234565,
    ]
    rng = np.random.default_rng(42)
    vals += [float(v) for v in rng.uniform(0, 50, 1000)]
    # and a batch engineered near the .5 ulp boundary
    vals += [float(f"{i}.00000{d}5") for i in range(1, 20) for d in "0123456789"]
    got = _exact_round6(np.array(vals, dtype=np.float64))
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)],
                               "i long, x double")
    want_rows = df.select("i", F.round("x", 6).alias("r")).collect()
    want = np.empty(len(vals))
    for r in want_rows:
        want[r.i] = r.r
    mismatches = [(vals[j], got[j], want[j]) for j in range(len(vals)) if got[j] != want[j]]
    assert not mismatches, mismatches[:5]
