#!/usr/bin/env python
"""Measured evidence for the incremental-compaction cost model.

Run pinned (the same honesty protocol as bench.py's scaling section):

    taskset -c 8-11 python scripts/measure_incremental.py

Two experiments, one JSON line each:

A. **O(delta) wall time** (r3 protocol, re-run on the r4 bucketed
   dictionary): 955k-doc streamed index (191 shifted replicas of the
   sf0.1 documents table) + a 5k-doc delta wave — incremental compaction
   wall time vs a from-scratch major compaction over the same data.

B. **Dictionary bucket locality** (r4): a corpus whose docs carry
   per-doc unique terms (a ~329k-term vocabulary — the web-scale shape
   where most vocabulary is tail), term_partitions=4096, then a 50-doc
   delta. Reports how many dictionary term_bucket partitions the delta
   actually rewrote vs hardlinked byte-identical, and the rewritten
   byte fraction. Head-heavy deltas touch most buckets (coupon
   collector); tail-heavy deltas — the web norm — touch few. This
   experiment pins the mechanism with numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _wave(spark, docs, pages_dir, idx, ckpt, cfg):
    from colbert_jl_spark.sources.pages import pages_from_documents
    from colbert_jl_spark.streaming.ingest import stream_pages_to_postings

    pages_from_documents(docs).write.mode("append").parquet(pages_dir)
    stream_pages_to_postings(spark, pages_dir, idx, ckpt, cfg)


def _replicas(spark, lo, hi):
    """Replicas lo..hi-1 of the sf documents table, doc_id-shifted."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.count()
    out = None
    for i in range(lo, hi):
        part = base.select(
            (F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text", "lang"
        )
        out = part if out is None else out.unionByName(part)
    return out


def experiment_a(spark) -> dict:
    from colbert_jl_spark.config import EngineConfig
    from colbert_jl_spark.plans.build import IndexReader
    from colbert_jl_spark.streaming.ingest import compact_streamed_index

    cfg = EngineConfig()
    work = tempfile.mkdtemp(prefix="inc_a_")
    pages_dir, idx, ckpt = (os.path.join(work, d) for d in ("pages", "idx", "ckpt"))
    try:
        # materialize the big wave to parquet first so ingest measures the
        # engine, not the 191-way union generator
        big_dir = os.path.join(work, "wave1_docs")
        _replicas(spark, 0, 191).repartition(16).write.parquet(big_dir)
        _wave(spark, spark.read.parquet(big_dir), pages_dir, idx, ckpt, cfg)
        t0 = time.perf_counter()
        compact_streamed_index(spark, idx, cfg)
        t_initial_full = time.perf_counter() - t0

        _wave(spark, _replicas(spark, 191, 192), pages_dir, idx, ckpt, cfg)
        t0 = time.perf_counter()
        rep = compact_streamed_index(spark, idx, cfg)
        t_inc = time.perf_counter() - t0

        t0 = time.perf_counter()
        compact_streamed_index(spark, idx, cfg, full=True)
        t_major = time.perf_counter() - t0
        assert IndexReader(spark, idx).validate()["ok"]
        return {
            "experiment": "A_o_delta",
            "corpus_docs": 955_000,
            "delta_docs": 5_000,
            "initial_full_sec": round(t_initial_full, 2),
            "incremental_sec": round(t_inc, 2),
            "major_recompact_sec": round(t_major, 2),
            "speedup_vs_major": round(t_major / t_inc, 2),
            "postings_read": rep["compaction"]["postings_read"],
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def experiment_b(spark) -> dict:
    from pyspark.sql import functions as F

    from colbert_jl_spark.config import EngineConfig
    from colbert_jl_spark.plans.build import IndexReader
    from colbert_jl_spark.streaming.ingest import compact_streamed_index

    cfg = EngineConfig(term_partitions=4096)
    work = tempfile.mkdtemp(prefix="inc_b_")
    pages_dir, idx, ckpt = (os.path.join(work, d) for d in ("pages", "idx", "ckpt"))

    def uniqify(docs):
        # three per-doc unique tail terms — the web-vocabulary shape
        return docs.withColumn(
            "text",
            F.concat_ws(
                " ", "text",
                F.format_string("u%da u%db u%dc", "doc_id", "doc_id", "doc_id"),
            ),
        )

    try:
        big_dir = os.path.join(work, "wave1_docs")
        uniqify(_replicas(spark, 0, 22)).repartition(16).write.parquet(big_dir)
        _wave(spark, spark.read.parquet(big_dir), pages_dir, idx, ckpt, cfg)
        compact_streamed_index(spark, idx, cfg)
        dic_v1 = os.path.join(idx, "dictionary")
        vocab = spark.read.parquet(dic_v1).count()

        def bucket_files(d):
            out = {}
            for entry in os.listdir(d):
                if entry.startswith("term_bucket="):
                    b = int(entry.split("=", 1)[1])
                    bd = os.path.join(d, entry)
                    out[b] = {
                        f: (os.stat(os.path.join(bd, f)).st_ino,
                            os.path.getsize(os.path.join(bd, f)))
                        for f in os.listdir(bd) if f.startswith("part-")
                    }
            return out

        old = bucket_files(dic_v1)
        delta = uniqify(_replicas(spark, 22, 23).limit(50))
        _wave(spark, delta, pages_dir, idx, ckpt, cfg)
        t0 = time.perf_counter()
        rep = compact_streamed_index(spark, idx, cfg)
        t_inc = time.perf_counter() - t0

        new = bucket_files(os.path.join(idx, rep["dictionary_dir"]))
        linked = rewritten = 0
        linked_bytes = rewritten_bytes = 0
        for b, files in new.items():
            same = b in old and {i for i, _ in files.values()} == {
                i for i, _ in old[b].values()
            }
            nbytes = sum(s for _, s in files.values())
            if same:
                linked += 1
                linked_bytes += nbytes
            else:
                rewritten += 1
                rewritten_bytes += nbytes
        assert IndexReader(spark, idx).validate()["ok"]
        return {
            "experiment": "B_bucket_locality",
            "corpus_docs": 110_000,
            "vocab_terms": int(vocab),
            "term_partitions": 4096,
            "delta_docs": 50,
            "incremental_sec": round(t_inc, 2),
            "buckets_total": len(new),
            "buckets_rewritten": rewritten,
            "buckets_hardlinked_byte_identical": linked,
            "bytes_rewritten": rewritten_bytes,
            "bytes_hardlinked": linked_bytes,
            "rewritten_fraction": round(
                rewritten_bytes / max(1, rewritten_bytes + linked_bytes), 4
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    from colbert_jl_spark.session import get_spark

    spark = get_spark("measure-inc", master="local[4]", shuffle_partitions=4)
    for exp in (experiment_a, experiment_b):
        print(json.dumps(exp(spark)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
