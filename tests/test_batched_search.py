"""Batched search as one Arrow call per doc bucket (operators/wand.py:
wand_topk → bucket_executor).

Rank identity of batched ``search()`` against the exhaustive scorers on a
multi-bucket, block_size-8 index (duplicate, absent and all-absent query
terms, both modes, both term filters, cold and hot readers, and an index
after two incremental compactions with overlapping segments);
``search_local`` identical to ``search()`` on the same batches; and the
work shape: each block decoded once per batch, and the jobs a warm hot
batch runs."""

from __future__ import annotations

import random

import pandas as pd
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators import wand
from colbert_jl_spark.operators.bm25 import bm25_topk, bm25_topk_conjunctive
from colbert_jl_spark.plans.build import IndexBuilder, IndexReader
from colbert_jl_spark.queries import QUERY_SET
from colbert_jl_spark.sources.pages import pages_from_documents
from colbert_jl_spark.streaming.ingest import (
    compact_streamed_index,
    stream_pages_to_postings,
)

CFG = EngineConfig(block_size=8, min_bucket_docs=64)
BATCH = QUERY_SET + [
    (10, "data data table"),  # duplicate query term (qtf 2)
    (11, "join zzzabsent"),  # one absent term
    (12, "zzzabsent qqqnothere"),  # every term absent, inside the batch
    (13, "spark join window"),
]
KEY = ["qid", "rank"]


def _rows(df) -> pd.DataFrame:
    return df.toPandas().sort_values(KEY).reset_index(drop=True)


def _oracle(spark, docs, mode: str) -> pd.DataFrame:
    qdf = spark.createDataFrame(BATCH, "qid long, query string")
    scorer = bm25_topk_conjunctive if mode == "intersect" else bm25_topk
    return _rows(scorer(docs, qdf, CFG))


@pytest.fixture(scope="module")
def multi_idx(spark, docs01, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("batched") / "idx")
    IndexBuilder(idx, CFG).build(docs01)
    assert IndexReader(spark, idx).plan["n_buckets"] > 1
    return idx


@pytest.mark.parametrize("mode", ["topk", "intersect"])
@pytest.mark.parametrize("hot, inlist", [(False, 32), (True, 0)])
def test_batched_search_rank_identical(spark, docs01, multi_idx, mode, hot, inlist):
    """Cold reader with the In(term, …) filter and zero-df pruning; hot
    reader with the semi-join and no dictionary lookup (absent terms
    reach the executor)."""
    reader = IndexReader(spark, multi_idx)
    reader.max_inlist_terms = inlist
    if hot:
        reader.load_hot()
    try:
        got = _rows(reader.search(BATCH, mode=mode))
    finally:
        reader.release()
    want = _oracle(spark, docs01, mode)
    pd.testing.assert_frame_equal(got, want, check_like=True)
    assert len(want) > 0
    assert 12 not in set(got.qid) and 7 not in set(got.qid)
    if mode == "intersect":
        assert 11 not in set(got.qid)
    else:
        assert 11 in set(got.qid)
    if inlist == 0:
        assert reader._term_stats == {}  # no dictionary job on this path


@pytest.mark.parametrize("mode", ["topk", "intersect"])
def test_search_local_identical_to_search_on_batches(spark, multi_idx, mode):
    reader = IndexReader(spark, multi_idx)
    want = _rows(reader.search(BATCH, mode=mode))
    local = reader.search_local(BATCH, mode=mode)
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), "must not fall back"
    pd.testing.assert_frame_equal(_rows(local), want)


def test_incremental_batches_rank_identical(spark, docs01, tmp_path):
    """Three ingest waves with interleaving doc ids: one full and two
    incremental compactions, so (term, bucket) segments overlap and
    pre-existing blocks carry stale idf/max_score. search (both term
    filters) and search_local must still equal the exhaustive scorers."""
    pages_dir = str(tmp_path / "pages_in")
    idx = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(docs01)
    modes = []
    for i in range(3):
        pages.where(F.crc32(F.col("url")) % 3 == i).write.mode("append").parquet(pages_dir)
        stream_pages_to_postings(spark, pages_dir, idx, ckpt, CFG)
        modes.append(compact_streamed_index(spark, idx, CFG)["compaction"]["mode"])
    assert modes == ["full", "incremental", "incremental"]

    reader = IndexReader(spark, idx)
    bl = reader.blocks.select("term", "bucket", "first_docid", "last_docid").toPandas()
    bl = bl.sort_values(["term", "bucket", "first_docid"])
    prev_last = bl.groupby(["term", "bucket"])["last_docid"].shift()
    assert (bl["first_docid"] <= prev_last).any(), "fixture must overlap segments"

    for mode in ("topk", "intersect"):
        want = _oracle(spark, docs01, mode)
        for inlist in (32, 0):
            reader.max_inlist_terms = inlist
            got = _rows(reader.search(BATCH, mode=mode))
            pd.testing.assert_frame_equal(got, want, check_like=True)
        got_local = _rows(reader.search_local(BATCH, mode=mode))
        pd.testing.assert_frame_equal(got_local, want, check_like=True)


def test_bucket_executor_decodes_each_block_once(spark, multi_idx, monkeypatch):
    """In-process call on one bucket's Arrow table: a batch decodes each
    block it touches once, however many of its queries walk the block."""
    reader = IndexReader(spark, multi_idx)
    tbl = reader.blocks.select(*wand.EXEC_COLS).toArrow()
    counts = pc.value_counts(tbl.column("bucket")).to_pylist()
    bucket = max(counts, key=lambda c: c["counts"])["values"]
    part = tbl.filter(pc.equal(tbl.column("bucket"), bucket))

    decoded: list[int] = []
    real = wand.decode_block

    def counting(payload):
        decoded.append(id(payload))  # payload objects live through the call
        return real(payload)

    monkeypatch.setattr(wand, "decode_block", counting)
    avgdl = reader.plan["avgdl"]

    def decodes(qt_rows, mode="topk") -> list[int]:
        decoded.clear()
        wand.bucket_executor(qt_rows, 10, CFG.k1, CFG.b, avgdl, mode)(part)
        return list(decoded)

    one = [(0, "data", 1), (0, "table", 1), (0, "join", 1)]
    single = decodes(one)
    assert single and len(single) == len(set(single))
    # twenty copies of the query walk the same blocks: decoded once each
    assert len(decodes([(q, t, n) for q in range(20) for _, t, n in one])) == len(single)

    batch = reader._search_plan(BATCH, None, "topk", sized=False).qt_rows
    for mode in ("topk", "intersect"):
        got = decodes(batch, mode)
        assert len(got) == len(set(got))  # no block decoded twice
        per_query = sum(
            len(decodes([r for r in batch if r[0] == q], mode))
            for q in sorted({r[0] for r in batch})
        )
        assert len(got) < per_query  # shared blocks are not decoded per query


def test_warm_hot_batch_jobs(spark, tmp_path):
    """A warm 256-query batch on a hot, non-incremental reader runs no
    dictionary lookup: one job for the query DAG plus the build of its
    term semi-join broadcast (a broadcast of a driver-side LocalRelation
    still runs one 1-task job). A warm batch within max_inlist_terms runs
    exactly one job."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=40))) for i in range(600)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, EngineConfig(block_size=32)).build(docs)
    reader = IndexReader(spark, idx).load_hot()

    def batch(n: int, pool: list[str]) -> list[tuple[int, str]]:
        return [(q, " ".join(rng.sample(pool, 3))) for q in range(n)]

    sc = spark.sparkContext

    def jobs_of(queries) -> int:
        group = f"warm-batch-{rng.random()}"
        sc.setJobGroup(group, "warm batch")
        try:
            assert reader.search(queries).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        reader.search(batch(256, vocab)).collect()  # warm-up
        assert jobs_of(batch(256, vocab)) == 2
        assert reader._term_stats == {}
        small = vocab[:10]
        reader.search(batch(8, small)).collect()  # warms the term-stats cache
        assert jobs_of(batch(8, small)) == 1
    finally:
        reader.release()
