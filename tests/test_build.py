"""Persisted index build: round-trip, resume, validation — mirrors the
reference's save/load round-trip + completeness-check tests
(reference test/loaders_and_savers.jl:5-138,
test/indexing/collection_indexer.jl:190-258)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from colbert_jl_spark import snapshot
from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators.bm25 import bm25_topk
from colbert_jl_spark.plans.build import (
    STAGES,
    IndexBuilder,
    IndexReader,
    _load_stages,
    bucket_file_counts,
    commit_plan,
    plan_dirs,
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


def _record_writes(monkeypatch, crash: dict | None = None) -> list:
    """Record every snapshot.write_parquet call as (stage, partition_by),
    the stage read off the staging dir's name. ``crash`` maps a stage to a
    function ``(write, df, path, partition_by)``, given the real writer,
    that runs in place of the stage's first write, which then raises."""
    calls, real, crash = [], snapshot.write_parquet, dict(crash or {})

    def write(df, path, partition_by=None):
        stage = snapshot.parse(os.path.basename(path))[0]
        calls.append((stage, partition_by))
        if stage in crash:
            crash.pop(stage)(real, df, path, partition_by)
            raise RuntimeError(f"killed while writing {stage}")
        real(df, path, partition_by)

    monkeypatch.setattr(snapshot, "write_parquet", write)
    return calls


def _without_dirs(plan: dict) -> dict:
    """A plan without the version dir names, which a rebuild advances."""
    return {k: v for k, v in plan.items() if not k.endswith("_dir")}


def test_build_is_idempotent_and_resumable(spark, docs01, index_dir, monkeypatch):
    """Stage order and layout, and resume at stage granularity. A build
    killed before its blocks write has committed nothing; the resume
    writes only blocks and lineage versions from the postings checkpoint
    (the dictionary is untouched), commits the plan naming the same dirs
    as a fresh build, and removes the checkpoint. A lineage-only resume
    writes only a new lineage version, and a finished build's re-run
    writes nothing."""
    calls = _record_writes(monkeypatch, {"blocks": lambda *a: None})
    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg)
    with pytest.raises(RuntimeError, match="killed while writing blocks"):
        builder.build(docs01)
    # docstats and dictionary run concurrently; both are term_bucket-
    # partitioned like the blocks except docstats
    assert calls[0] == ("postings", None)
    assert sorted(calls[1:3]) == [("dictionary", "term_bucket"), ("docstats", None)]
    assert calls[3:] == [("blocks", "term_bucket")]
    assert set(_load_stages(index_dir)) == {"postings", "plan", "dictionary"}
    assert not os.path.exists(os.path.join(index_dir, "plan.json"))
    assert os.path.isdir(os.path.join(index_dir, "postings"))
    stamp_dict = os.path.getmtime(os.path.join(index_dir, "dictionary"))

    calls.clear()
    plan = builder.build(docs01)  # resumes: writes only blocks + lineage
    assert calls == [("blocks", "term_bucket"), ("lineage", None)], calls
    assert os.path.getmtime(os.path.join(index_dir, "dictionary")) == stamp_dict
    assert not os.path.exists(os.path.join(index_dir, "postings"))
    assert plan_dirs(plan) == {"docstats", "dictionary", "blocks", "lineage"}
    reader = IndexReader(spark, index_dir)
    assert reader.validate()["ok"]
    assert reader.search(queries_df(spark)).count() > 0

    # a lineage-only resume reads only the blocks and commits a new
    # lineage version
    stages = _load_stages(index_dir)
    stages.pop("lineage")
    with open(os.path.join(index_dir, "_STAGES.json"), "w") as f:
        json.dump(stages, f)
    calls.clear()
    again = builder.build(docs01)
    assert calls == [("lineage", None)]
    assert again == {**plan, "lineage_dir": "lineage.v2"}
    assert IndexReader(spark, index_dir).validate()["ok"]

    # a finished build is skipped (reference indexing.jl:64-67 guard)
    calls.clear()
    assert builder.build(docs01) == again
    assert calls == []


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
    # the forced rebuild names new versions of the same stages
    assert _without_dirs(builder.build(docs001, force=True)) == _without_dirs(plan)
    assert IndexReader(spark, index_dir).validate()["ok"]


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


def test_sink_crash_mid_stage_then_resume(spark, docs01, index_dir, monkeypatch):
    """Kill/resume at stage granularity (VERDICT r2 item 7): a write that
    dies mid-stage on the blocks stage, leaving part of its staging dir,
    must leave the ledger WITHOUT a blocks mark and nothing committed; the
    resumed build must write ONLY the unfinished stages, never name the
    partial staging dir, and end rank-identical to the oracle."""
    import pandas as pd

    def partial(write, df, path, partition_by):
        # some files exist, but the version was never assembled
        write(df.limit(1), path, partition_by)

    calls = _record_writes(monkeypatch, {"blocks": partial})
    cfg = EngineConfig(block_size=32)
    builder = IndexBuilder(index_dir, cfg)
    with pytest.raises(RuntimeError, match="killed while writing blocks"):
        builder.build(docs01)
    stages = _load_stages(index_dir)
    assert {"postings", "plan", "dictionary"} <= set(stages)
    assert "blocks" not in stages and "lineage" not in stages
    assert os.path.isdir(os.path.join(index_dir, "blocks.tmp"))
    assert not os.path.exists(os.path.join(index_dir, "plan.json"))

    calls.clear()
    plan = builder.build(docs01)  # resume
    # only the unfinished stages are written — completed ones never redone
    assert [c[0] for c in calls] == ["blocks", "lineage"], calls
    assert plan["blocks_dir"] == "blocks.v2"
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
    """validate() judges the committed snapshot: a dir the plan names
    that is gone is reported, whatever the stage ledger says."""
    cfg = EngineConfig(block_size=32)
    IndexBuilder(index_dir, cfg).build(docs01)
    shutil.rmtree(os.path.join(index_dir, "lineage"))
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
    version + committing a plan naming it (snapshot.commit) AFTER the
    reader's refresh()."""
    import pandas as pd

    cfg = EngineConfig(block_size=32)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, cfg).build(docs001)
    reader = IndexReader(spark, idx)
    want = reader.search([(0, "spark table join")]).toPandas()
    reader.refresh()  # snapshot validated here...

    # ...then a compaction commits a new version and GC removes the old
    shutil.move(os.path.join(idx, "blocks"), os.path.join(idx, "blocks.v2"))
    plan = snapshot.load(idx, "plan.json")
    plan["blocks_dir"] = "blocks.v2"
    commit_plan(idx, plan)

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


def test_forced_rebuild_retires_the_old_snapshot(spark, docs001, index_dir, monkeypatch):
    """build(force=True) builds the next snapshot beside the live one.
    Its one commit retires every dir the old plan named, positions
    included although the rebuild does not re-run build_positions; the
    retired dirs stay for snapshot.GRACE_SEC (a reader may still scan
    them), and the first commit past it reclaims them."""
    import time

    builder = IndexBuilder(index_dir, EngineConfig(block_size=32))
    builder.build(docs001)
    builder.build_positions(docs001)
    old = plan_dirs(builder.plan())
    assert old == {"docstats", "dictionary", "blocks", "lineage", "positions"}
    t0 = time.time()
    plan = builder.build(docs001, force=True)
    assert "positions" not in plan
    assert plan_dirs(plan) == {"docstats.v2", "dictionary.v2", "blocks.v2", "lineage.v2"}
    for d in old:  # retired by the commit, kept for the grace
        assert os.path.getmtime(os.path.join(index_dir, d)) >= t0 - 1, d
    assert IndexReader(spark, index_dir).validate()["ok"]

    monkeypatch.setattr(snapshot, "GRACE_SEC", 0.0)
    time.sleep(0.05)
    commit_plan(index_dir, plan)
    assert sorted(os.listdir(index_dir)) == sorted(
        plan_dirs(plan) | {"plan.json", "_STAGES.json"}
    )


def test_plan_without_build_counts_refused(spark, docs001, index_dir):
    """A plan written before the build recorded n_buckets, term_partitions
    and total_postings is refused by IndexReader, naming force=True."""
    IndexBuilder(index_dir, EngineConfig(block_size=32)).build(docs001)
    plan_path = os.path.join(index_dir, "plan.json")
    with open(plan_path) as f:
        plan = json.load(f)
    for key in ("n_buckets", "term_partitions", "total_postings"):
        with open(plan_path, "w") as f:
            json.dump({k: v for k, v in plan.items() if k != key}, f)
        with pytest.raises(ValueError, match=rf"{key}.*force=True"):
            IndexReader(spark, index_dir)
