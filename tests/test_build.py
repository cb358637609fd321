"""Persisted index build: round-trip, resume, validation — mirrors the
reference's save/load round-trip + completeness-check tests
(reference test/loaders_and_savers.jl:5-138,
test/indexing/collection_indexer.jl:190-258)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators.bm25 import bm25_topk
from colbert_jl_spark.plans.build import (
    STAGES,
    IndexBuilder,
    IndexReader,
    _load_stages,
    bucket_file_counts,
)
from colbert_jl_spark.queries import queries_df


@pytest.fixture()
def index_dir(tmp_path):
    return str(tmp_path / "idx")


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("fmt", ["varint"])
def test_build_search_matches_oracle(spark, docs01, index_dir, fmt):
    # min_bucket_docs=64 → multiple doc-range buckets even at 500 docs, so
    # the persisted path exercises the multi-bucket merge; the reader
    # re-derives its config from plan.json's round-trip (not the in-memory
    # cfg). plan.json is rewritten to name its block format, as plans built
    # while several formats existed do: such a varint index must still load
    # and search identically.
    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    builder = IndexBuilder(index_dir, cfg)
    plan = builder.build(docs01)
    assert plan["n_docs"] == docs01.count()
    # the postings checkpoint is gone, its mark stays, and a re-build of
    # the finished index runs no Spark job
    assert not os.path.exists(os.path.join(index_dir, "postings"))
    assert set(STAGES) <= set(_load_stages(index_dir))
    assert _jobs(spark, "rebuild-noop", lambda: builder.build(docs01)) == (plan, 0)
    plan_path = os.path.join(index_dir, "plan.json")
    with open(plan_path) as f:
        on_disk = json.load(f)
    on_disk["config"]["block_format"] = fmt
    with open(plan_path, "w") as f:
        json.dump(on_disk, f)

    reader = IndexReader(spark, index_dir)
    report = reader.validate()
    assert report["ok"], report

    q = queries_df(spark)
    got = reader.search(q).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    want = bm25_topk(docs01, q, cfg).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_like=True)


def test_persisted_intersect_search(spark, docs01, index_dir):
    """IndexReader.search(mode='intersect') over the persisted index ==
    the exhaustive conjunctive referee, including the zero-df guard."""
    from colbert_jl_spark.operators.bm25 import bm25_topk_conjunctive

    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    IndexBuilder(index_dir, cfg).build(docs01)
    reader = IndexReader(spark, index_dir)
    q = [(0, "data table join"), (1, "data zzzmissingterm")]
    got = (
        reader.search(q, mode="intersect")
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    qdf = spark.createDataFrame(q, "qid long, query string")
    want = (
        bm25_topk_conjunctive(docs01, qdf, cfg)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_like=True)
    assert 1 not in set(got.qid) and 0 in set(got.qid)


def test_build_is_idempotent_and_resumable(spark, docs01, index_dir):
    """A build interrupted by a sink that raises on the blocks stage
    resumes from the postings checkpoint: only blocks and lineage
    re-commit, the dictionary is untouched, and the checkpoint is gone
    once lineage commits. A finished build's re-run is a no-op."""
    from colbert_jl_spark.plans.build import _atomic_write

    calls, crashes = [], {"blocks": 1}

    def sink(df, final_dir, partition_by=None):
        calls.append(os.path.basename(final_dir))
        if crashes.get(calls[-1]):
            crashes[calls[-1]] -= 1
            raise RuntimeError("killed before the blocks commit")
        _atomic_write(df, final_dir, partition_by)

    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg, sink=sink)
    with pytest.raises(RuntimeError, match="killed"):
        builder.build(docs01)
    assert set(_load_stages(index_dir)) == {"postings", "plan", "dictionary"}
    assert os.path.isdir(os.path.join(index_dir, "postings"))
    stamp_dict = os.path.getmtime(os.path.join(index_dir, "dictionary"))

    calls.clear()
    builder.build(docs01)  # resumes: rebuilds only blocks + lineage
    assert calls == ["blocks", "lineage"], calls
    assert os.path.getmtime(os.path.join(index_dir, "dictionary")) == stamp_dict
    assert not os.path.exists(os.path.join(index_dir, "postings"))
    assert IndexReader(spark, index_dir).validate()["ok"]

    # second build skips everything (reference indexing.jl:64-67 guard)
    stamp_blocks = os.path.getmtime(os.path.join(index_dir, "blocks"))
    calls.clear()
    builder.build(docs01)
    assert calls == []
    assert os.path.getmtime(os.path.join(index_dir, "blocks")) == stamp_blocks


def test_checkpoint_leftover_removed_and_missing_checkpoint_refused(
    spark, docs001, index_dir
):
    """A postings/ left by a crash between the lineage mark and its
    removal goes on the next build (no job runs). A pending stage that
    needs the removed checkpoint raises, naming force=True; force=True
    then rebuilds."""
    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg)
    plan = builder.build(docs001)
    leftover = os.path.join(index_dir, "postings", "part-0.parquet")
    os.makedirs(os.path.dirname(leftover))
    open(leftover, "wb").close()
    again, jobs = _jobs(spark, "leftover", lambda: builder.build(docs001))
    assert (jobs, again) == (0, plan)
    assert not os.path.exists(os.path.join(index_dir, "postings"))

    stages = _load_stages(index_dir)
    stages.pop("blocks")
    with open(os.path.join(index_dir, "_STAGES.json"), "w") as f:
        json.dump(stages, f)
    with pytest.raises(ValueError, match=r"force=True"):
        builder.build(docs001)
    assert builder.build(docs001, force=True) == plan
    assert IndexReader(spark, index_dir).validate()["ok"]


def test_sink_is_injectable(spark, docs01, index_dir):
    """Stage commit/resume semantics must not depend on the tmp→rename
    trick: a fake sink (direct parquet write, no rename; an Iceberg
    ``writeTo`` would slot in the same way) produces a valid, resumable,
    searchable index through the identical staged protocol."""
    calls = []

    def fake_sink(df, final_dir, partition_by=None):
        calls.append((os.path.basename(final_dir), partition_by))
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(final_dir)

    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg, sink=fake_sink)
    builder.build(docs01)
    assert [c[0] for c in calls] == ["postings", "docstats", "dictionary", "blocks", "lineage"]
    assert dict(calls)["blocks"] == "term_bucket"
    # r4: the dictionary shares the block table's term_bucket partitioning
    assert dict(calls)["dictionary"] == "term_bucket"

    reader = IndexReader(spark, index_dir)
    assert reader.validate()["ok"]
    assert reader.search(queries_df(spark)).count() > 0

    # resume goes through the SAME seam: only the dropped stage re-commits
    stages = _load_stages(index_dir)
    stages.pop("lineage")
    with open(os.path.join(index_dir, "_STAGES.json"), "w") as f:
        json.dump(stages, f)
    calls.clear()
    builder.build(docs01)
    assert [c[0] for c in calls] == ["lineage"]


def test_search_local_matches_distributed(spark, docs01, index_dir):
    """The driver-side latency mode (one pruned collect, zero shuffles)
    must be row-identical to the distributed executor in both modes, on a
    multi-bucket index (so the driver-side k·buckets merge is exercised)."""
    import pandas as pd

    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    IndexBuilder(index_dir, cfg).build(docs01)
    reader = IndexReader(spark, index_dir)
    q = queries_df(spark)
    key = ["qid", "rank"]
    got = reader.search_local(q).toPandas().sort_values(key).reset_index(drop=True)
    want = reader.search(q).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_like=True)

    qi = [(0, "data table join"), (1, "data zzzmissingterm"), (2, "the of")]
    got_i = (
        reader.search_local(qi, mode="intersect")
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    want_i = (
        reader.search(qi, mode="intersect")
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_i, want_i, check_like=True)


def _on_driver(df) -> bool:
    """True iff ``df`` is driver-computed rows (a LocalRelation), i.e. the
    driver executor ran; the distributed executor returns a query DAG."""
    return df._jdf.queryExecution().executedPlan().toString().startswith(
        "LocalTableScan"
    )


def test_search_local_size_guard_falls_back(spark, docs01, index_dir):
    """VERDICT r3 item 5: search_local must estimate the pruned collect
    volume from the query terms' df (driver-side dictionary lookup) and
    run head-term queries through the distributed executor instead of
    collecting their block slice into the driver — with identical output."""
    import pandas as pd

    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    IndexBuilder(index_dir, cfg).build(docs01)
    q = [(5, "data")]  # head term: df ≈ half the fixture corpus

    reader = IndexReader(spark, index_dir)
    key = ["qid", "rank"]
    want = reader.search(q).toPandas().sort_values(key).reset_index(drop=True)

    reader.max_local_postings = 1  # any real term exceeds this
    routed = reader.search_local(q)
    assert not _on_driver(routed), "size guard must run the distributed executor"
    got = routed.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_like=True)

    # under the threshold the driver-side path runs — and repeat queries
    # reuse the cached term stats (no growth in cache)
    reader2 = IndexReader(spark, index_dir)
    local = reader2.search_local(q)
    assert _on_driver(local)
    got2 = local.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, want, check_like=True)
    n_cached = len(reader2._term_stats)
    reader2.search_local(q).collect()
    assert len(reader2._term_stats) == n_cached


def test_search_local_fallback_reuses_the_plan(spark, docs01, index_dir):
    """search_local's size-guard fallback runs the distributed executor on
    the plan it already built: with a DataFrame of queries (whose collect
    is a job) it runs exactly the jobs search() runs — one query collect,
    one dictionary lookup, the query DAG — not a second collect and plan."""
    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    IndexBuilder(index_dir, cfg).build(docs01)
    qdf = spark.createDataFrame([(5, "data table")], "qid long, query string")

    def jobs(entry: str) -> int:
        reader = IndexReader(spark, index_dir)  # cold term-stats cache
        reader.max_local_postings = 1
        _ = (reader.dictionary, reader.blocks)  # stage scans built uncounted
        run = getattr(reader, entry)
        rows, n = _jobs(spark, f"fallback-{entry}", lambda: run(qdf).collect())
        assert rows
        return n

    assert jobs("search_local") == jobs("search")


def test_sink_crash_mid_stage_then_resume(spark, docs01, index_dir):
    """Kill/resume at stage granularity through the injected sink
    (VERDICT r2 item 7): a sink that dies mid-commit on the blocks stage
    must leave the ledger WITHOUT a blocks mark (the commit never
    happened), and the resumed build must re-drive ONLY the unfinished
    stages through the same seam, ending rank-identical to the oracle."""
    import pandas as pd

    crashes = {"blocks": 1}  # fail the first blocks commit
    calls = []

    def flaky_sink(df, final_dir, partition_by=None):
        name = os.path.basename(final_dir)
        calls.append(name)
        if crashes.get(name, 0) > 0:
            crashes[name] -= 1
            # simulate a mid-commit kill: some files may exist, but the
            # transactional rename/snapshot-commit never happened
            w = df.limit(1).write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(final_dir + ".tmp")
            raise RuntimeError("sink died mid-commit")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(final_dir)

    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg, sink=flaky_sink)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="sink died"):
        builder.build(docs01)
    stages = _load_stages(index_dir)
    assert {"postings", "plan", "dictionary"} <= set(stages)
    assert "blocks" not in stages and "lineage" not in stages

    calls.clear()
    builder.build(docs01)  # resume
    # only the unfinished stages re-commit — completed ones are never redone
    assert calls == ["blocks", "lineage"], calls
    reader = IndexReader(spark, index_dir)
    assert reader.validate()["ok"]
    q = queries_df(spark)
    got = reader.search(q).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    want = (
        bm25_topk(docs01, q, cfg)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_like=True)


def test_lineage_metrics(spark, docs01, index_dir):
    cfg = EngineConfig(block_size=32)
    IndexBuilder(index_dir, cfg).build(docs01)
    reader = IndexReader(spark, index_dir)
    lin = reader.lineage.toPandas()
    # north-rule lineage: per-partition postings emitted + bytes compressed
    assert {"bucket", "postings_emitted", "blocks_written", "bytes_compressed", "terms_seen"} <= set(lin.columns)
    assert (lin["bytes_compressed"] > 0).all()
    total_postings = int(lin["postings_emitted"].sum())
    assert total_postings == reader.dictionary.toPandas()["df"].sum()
    # terms_seen counts block-0 rows: equal to the distinct terms per bucket
    from pyspark.sql import functions as F

    distinct_terms = {
        r.bucket: r.n
        for r in reader.blocks.groupBy("bucket")
        .agg(F.countDistinct("term").alias("n"))
        .collect()
    }
    assert dict(zip(lin["bucket"], lin["terms_seen"])) == distinct_terms


def test_plan_with_other_block_format_refused(spark, docs001, index_dir):
    """Plans written while the packed/columnar block formats existed name
    their format in config: "varint" still loads, any other format is
    refused by name instead of being decoded with the varint codec."""
    # one doc bucket: the query itself is one job (no ranking window)
    cfg = EngineConfig(block_size=32, min_bucket_docs=1_000_000)
    IndexBuilder(index_dir, cfg).build(docs001)
    plan_path = os.path.join(index_dir, "plan.json")
    with open(plan_path) as f:
        plan = json.load(f)
    assert EngineConfig.from_plan_config(
        {**plan["config"], "block_format": "varint"}
    ) == EngineConfig.from_plan_config(plan["config"])
    for fmt in ("packed", "columnar"):
        with pytest.raises(ValueError, match=fmt):
            EngineConfig.from_plan_config({**plan["config"], "block_format": fmt})
    plan["config"]["block_format"] = "packed"
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with pytest.raises(ValueError, match="packed"):
        IndexReader(spark, index_dir, EngineConfig(block_size=32))


def test_blocks_stage_shuffle_sizing_restores_conf(spark, docs01, index_dir):
    """The blocks stage sizes spark.sql.shuffle.partitions to the posting
    volume (spill-awareness at 100 TB) and must restore the session value
    afterwards; at fixture scale (<4M postings) the floor is the session
    default, so the build plan is unchanged."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        IndexBuilder(index_dir, EngineConfig(block_size=32)).build(docs01, force=True)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert IndexReader(spark, index_dir).validate()["ok"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_validate_detects_missing_stage(spark, docs01, index_dir):
    cfg = EngineConfig(block_size=32)
    IndexBuilder(index_dir, cfg).build(docs01)
    stages = _load_stages(index_dir)
    stages.pop("lineage")
    with open(os.path.join(index_dir, "_STAGES.json"), "w") as f:
        json.dump(stages, f)
    report = IndexReader(spark, index_dir).validate()
    assert not report["ok"]
    assert report["missing_stages"] == ["lineage"]


def test_validate_flags_fragmented_stage(spark, docs01, index_dir, tmp_path):
    """VERDICT r5 item 5: the per-term_bucket small-file ceiling the
    compaction passes maintain must be checked at SERVE time too — a
    long-lived streamed index whose compaction never ran drifts into
    per-file open cost on every scan, and validate() is where an operator
    looks. Hand-fragment one bucket (identical rows, many part files) and
    validate() must flag exactly the fragmentation invariant."""
    cfg = EngineConfig(block_size=32)
    IndexBuilder(index_dir, cfg).build(docs01)
    reader = IndexReader(spark, index_dir)
    rep = reader.validate()
    assert rep["ok"] and rep["fragmentation_ok"], rep
    assert rep["blocks_files_per_bucket_max"] <= rep["max_files_per_bucket"]

    # rewrite the fullest bucket's single file as 12 tiny files with the
    # SAME rows: every other invariant (posting sums, doc counts) holds,
    # so any failure is attributable to fragmentation alone
    bdir = reader._stage_dir("blocks_dir", "blocks")
    counts = bucket_file_counts(bdir)
    bucket = max(counts, key=counts.get)
    sub = os.path.join(bdir, f"term_bucket={bucket}")
    frag = str(tmp_path / "frag")
    spark.read.parquet(sub).repartition(12).write.parquet(frag)
    for f in os.listdir(sub):
        if f.startswith("part-"):
            os.remove(os.path.join(sub, f))
    for f in os.listdir(frag):
        if f.startswith("part-") and f.endswith(".parquet"):
            shutil.copy(os.path.join(frag, f), os.path.join(sub, f))

    rep2 = IndexReader(spark, index_dir).validate()
    assert not rep2["fragmentation_ok"] and not rep2["ok"], rep2
    assert rep2["blocks_files_per_bucket_max"] > rep2["max_files_per_bucket"]
    # posting sums still match — fragmentation is the only broken invariant
    assert rep2["postings_match"] and rep2["n_docs_match"]
    # the ceiling is an explicit policy knob: widening it restores ok
    assert IndexReader(spark, index_dir).validate(max_files_per_bucket=20)["ok"]


def test_stage_scan_survives_version_gc_race(spark, docs001, tmp_path):
    """ADVICE r4: a reader that validated its plan snapshot and then
    paused while compactions GC'd its stage-dir version must get ONE
    transparent refresh-and-retry at scan construction instead of a raw
    missing-path error. Simulated by renaming the blocks dir to a new
    version + repointing plan.json AFTER the reader's refresh()."""
    import json as _json
    import shutil as _shutil

    import pandas as pd

    cfg = EngineConfig(block_size=32)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, cfg).build(docs001)
    reader = IndexReader(spark, idx)
    want = reader.search([(0, "spark table join")]).toPandas()
    reader.refresh()  # snapshot validated here...

    # ...then a compaction commits a new version and GC removes the old
    _shutil.move(os.path.join(idx, "blocks"), os.path.join(idx, "blocks.v2"))
    with open(os.path.join(idx, "plan.json")) as f:
        plan = _json.load(f)
    plan["blocks_dir"] = "blocks.v2"
    from colbert_jl_spark.plans.build import write_plan

    write_plan(idx, plan)

    # the stale-plan scan path resolves through _stage_df's retry
    got = reader.search([(0, "spark table join")]).toPandas()
    pd.testing.assert_frame_equal(got, want, check_like=True)


def test_term_stats_miss_runs_two_jobs(spark, docs001, index_dir):
    """A warm reader builds each stage's DataFrame once per plan snapshot,
    so a search whose terms it has not seen runs the dictionary lookup and
    the query — 2 jobs — with no parquet schema-inference job before the
    lookup (counted with statusTracker job groups on a hot one-bucket
    reader, whose query is one job)."""
    cfg = EngineConfig(block_size=32, min_bucket_docs=1_000_000)
    IndexBuilder(index_dir, cfg).build(docs001)
    reader = IndexReader(spark, index_dir).load_hot()
    try:
        vocab = sorted(r.term for r in reader.dictionary.select("term").collect())
        reader.search([(0, vocab[0])]).collect()  # warm
        sc = spark.sparkContext
        sc.setJobGroup("term-stats-miss", "unseen terms")
        try:
            assert reader.search([(1, f"{vocab[1]} {vocab[2]}")]).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("term-stats-miss")) == 2
    finally:
        reader.release()
