"""Version commits on a filesystem without hardlinks.

Compactions and dedup waves carry the partitions they did not rewrite into
the new version by hardlink (streaming/files.py). With ``os.link`` raising,
they must copy instead and end with results equal to the linked runs."""

from __future__ import annotations

import errno
import os
import random

from pyspark.sql import functions as F

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.plans.build import IndexReader
from colbert_jl_spark.sources.pages import pages_from_documents
from colbert_jl_spark.streaming.ingest import (
    compact_streamed_index,
    minor_compact,
    stream_pages_to_postings,
)
from tests.test_dedup_state import _run_waves


def _refuse_links(monkeypatch) -> list:
    calls = []

    def refuse(src, dst, *a, **kw):
        calls.append(dst)
        raise OSError(errno.EPERM, "hardlinks not supported", dst)

    monkeypatch.setattr(os, "link", refuse)
    return calls


def _streamed_index(spark, root) -> dict:
    """Two interleaved waves — the second over a tenth of the vocabulary,
    so it leaves most term_bucket partitions untouched — compacted full
    then incrementally, then the minor compaction of the overlapping
    segments → the index's rows."""
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [
            (d, " ".join(rng.choices(vocab if d % 2 == 0 else vocab[:6], k=12)), "en")
            for d in range(200)
        ],
        "doc_id long, text string, lang string",
    )
    cfg = EngineConfig(block_size=8, min_bucket_docs=64, term_partitions=16)
    pages_dir, idx, ckpt = (str(root / d) for d in ("pages", "idx", "ckpt"))
    pages = pages_from_documents(docs)
    modes = []
    for i in range(2):
        pages.where(F.col("doc_id") % 2 == i).write.mode("append").parquet(pages_dir)
        stream_pages_to_postings(spark, pages_dir, idx, ckpt, cfg)
        modes.append(compact_streamed_index(spark, idx, cfg)["compaction"]["mode"])
    assert modes == ["full", "incremental"]
    assert minor_compact(spark, idx)["mode"] == "minor"
    reader = IndexReader(spark, idx)
    assert reader.validate()["ok"]
    queries = [(0, "w1 w2 w30"), (1, "w3"), (2, "w40 w41 w42")]
    return {
        "search": sorted(map(tuple, reader.search(queries).collect())),
        "dictionary": sorted(map(tuple, reader.dictionary.collect())),
        "blocks": sorted(map(tuple, reader.blocks.drop("payload").collect())),
        "payloads": sorted(bytes(r.payload) for r in reader.blocks.select("payload").collect()),
    }


def test_compaction_without_hardlinks_copies(spark, tmp_path, monkeypatch):
    want = _streamed_index(spark, tmp_path / "linked")
    calls = _refuse_links(monkeypatch)
    got = _streamed_index(spark, tmp_path / "copied")
    # both commits carried untouched partitions: the incremental
    # dictionary merge and the minor compaction's new blocks version
    assert any("/dictionary.v" in c for c in calls), calls
    assert any("/blocks.v" in c for c in calls), calls
    assert got == want


def test_dedup_wave_without_hardlinks_copies(spark, tmp_path, monkeypatch):
    def result(idx):
        return (
            sorted(map(tuple, idx.pairs(spark).collect())),
            sorted(map(tuple, idx.labels(spark).collect())),
        )

    want = result(_run_waves(spark, str(tmp_path / "linked"))[0])
    calls = _refuse_links(monkeypatch)
    got = result(_run_waves(spark, str(tmp_path / "copied"))[0])
    assert calls, "the later waves must have tried to link"
    assert got == want
