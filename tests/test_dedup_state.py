"""Incremental wave-vs-corpus dedup state (VERDICT r5 item 1).

The contract under test: streaming a corpus through DedupIndex in waves
produces EXACTLY the pair set and component labels of a from-scratch
run, while each wave's compute is bounded by the delta — |wave|
signatures, a bucket-pruned scan of the persisted band table, and a
component update over affected components only (row-count gated via the
reports' Observation-backed counters)."""

import os
import shutil

import pytest

from colbert_jl_spark.config import EngineConfig

CFG = EngineConfig()
SCHEMA = "doc_id long, text string"

_WORDS = [f"tok{i}x" for i in range(30)]
_BASE = " ".join(_WORDS)


def _edit(k: int, repl: str) -> str:
    return " ".join(repl if i == k else w for i, w in enumerate(_WORDS))


_ROWS = [
    (0, _BASE),
    (1, _edit(10, "aedit")),  # wave-1-internal near-dup pair (0, 1)
    (2, "unrelated text about completely different things entirely"),
    (3, _edit(11, "bedit")),  # wave 2: near-dup of 0/1 ACROSS waves
    (4, "another singleton document with its own words"),
    (5, _BASE),               # wave 3: exact dup of 0 across waves
    (6, _edit(12, "cedit")),  # wave 3: near-dup across waves
]
_WAVES = [_ROWS[0:3], _ROWS[3:5], _ROWS[5:7]]


def _run_waves(spark, path):
    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    idx = DedupIndex(path, n=3, threshold=0.7, cfg=CFG)
    reports, corpus = [], None
    for i, w in enumerate(_WAVES):
        reports.append(idx.update(spark, spark.createDataFrame(w, SCHEMA), corpus))
        corpus = spark.createDataFrame(
            [r for ww in _WAVES[: i + 1] for r in ww], SCHEMA
        )
    return idx, reports


def test_incremental_waves_equal_from_scratch(spark, tmp_path):
    """≥2 waves (3 here, with near-dup pairs inside AND across waves):
    the cumulative pair set and the final labels are identical to
    from-scratch minhash_lsh_pairs / dedup_clusters over the union."""
    from colbert_jl_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    idx, _ = _run_waves(spark, str(tmp_path / "dedup"))
    all_docs = spark.createDataFrame(_ROWS, SCHEMA)

    want_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(all_docs, 3, 0.7, CFG).collect()
    }
    got_pairs = {
        (r.doc_a, r.doc_b, r.jaccard) for r in idx.pairs(spark).collect()
    }
    assert got_pairs == want_pairs and want_pairs  # non-trivial fixture

    want_labels = {
        r.doc_id: r.component_id
        for r in dedup_clusters(all_docs, 3, 0.7, CFG).collect()
    }
    got_labels = {
        r.doc_id: r.component_id for r in idx.labels(spark).collect()
    }
    assert got_labels == want_labels
    # the fixture exercises a real cross-wave merge: {0,1,3,5,6} one comp
    assert want_labels == {0: 0, 1: 0, 3: 0, 5: 0, 6: 0, 2: 2, 4: 4}


def test_wave_compute_is_delta_bounded(spark, tmp_path):
    """The row-count gates from the VERDICT done-criteria: each wave
    computes |wave| signatures (never the corpus), scans ONLY the
    colliding band_buckets of the persisted band table, and updates
    components over affected-components + delta nodes (never every
    corpus doc)."""
    idx, reps = _run_waves(spark, str(tmp_path / "dedup"))

    assert [r["signatures_computed"] for r in reps] == [3, 2, 2]

    # wave 2: 3 persisted docs × 16 bands = 48 rows on disk; the pruned
    # scan must read strictly fewer (only the delta's colliding buckets)
    assert reps[0]["band_rows_scanned"] == 0  # no prior corpus
    assert 0 < reps[1]["band_rows_scanned"] < 3 * 16
    assert 0 < reps[2]["band_rows_scanned"] < 5 * 16
    for r in reps[1:]:
        # the pruned scan's row count equals 16 × (persisted docs whose
        # band rows fall in the delta's buckets) — ≤ 16 per doc; the
        # strict inequality above is what proves pruning happened
        assert len(r["delta_band_buckets"]) < 64

    # wave 3 merges {5,6} into component {0,1,3}: the CC subgraph is
    # those 5 nodes, NOT all 7 corpus docs (2 and 4 are untouched)
    assert reps[2]["cc_nodes"] == 5
    assert reps[2]["n_labels"] == 7


def test_band_scan_is_partition_pruned(spark, tmp_path):
    """Plan gate: wave and band_bucket are PARTITION columns of the
    persisted band table, so the wave-vs-corpus candidate join's corpus
    scan carries non-empty PartitionFilters — at 100 TB the corpus-band
    read is bounded by colliding buckets, not the table size."""
    from pyspark.sql import functions as F

    idx, reps = _run_waves(spark, str(tmp_path / "dedup"))
    spark.catalog.clearCache()
    pruned = idx._committed(spark, "bands").where(
        F.col("band_bucket").isin(reps[2]["delta_band_buckets"][:5])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "PartitionFilters: []" not in plan, plan


def test_orphan_wave_dirs_are_invisible(spark, tmp_path):
    """Crash safety: wave dirs not listed in state.json (a crashed
    update's leftovers — both a renamed-but-uncommitted wave dir and a
    _tmp staging dir) must be invisible to readers and harmless to the
    next update."""
    path = str(tmp_path / "dedup")
    idx, _ = _run_waves(spark, path)
    before = {(r.doc_a, r.doc_b) for r in idx.pairs(spark).collect()}

    # fake a crashed wave-99: committed-looking dir + a _tmp staging dir
    shutil.copytree(
        os.path.join(path, "pairs", "wave=1"),
        os.path.join(path, "pairs", "wave=99"),
    )
    shutil.copytree(
        os.path.join(path, "bands", "wave=1"),
        os.path.join(path, "bands", "_tmp-wave-99"),
    )
    assert {
        (r.doc_a, r.doc_b) for r in idx.pairs(spark).collect()
    } == before


def test_labels_versioned_swap_retains_current_and_previous(spark, tmp_path):
    """Retention under the snapshot rule: state.json names exactly one
    labels version, and a version it stopped naming stays on disk (a
    reader that loaded the older state may still scan it) until it has
    been retired for snapshot.GRACE_SEC; the next commit after that
    reclaims it."""
    import json

    from colbert_jl_spark import snapshot

    path = str(tmp_path / "dedup")
    idx, _ = _run_waves(spark, path)

    def versions():
        return sorted(e for e in os.listdir(path) if e.startswith("labels"))

    assert json.load(open(os.path.join(path, "state.json")))["labels_dir"] == "labels.v3"
    assert versions() == ["labels", "labels.v2", "labels.v3"]  # young
    past = os.path.getmtime(os.path.join(path, "labels")) - snapshot.GRACE_SEC - 60
    for v in ("labels", "labels.v2"):
        os.utime(os.path.join(path, v), (past, past))
    corpus = spark.createDataFrame(_ROWS, SCHEMA)
    idx.update(spark, spark.createDataFrame([(7, "a brand new page")], SCHEMA), corpus)
    # v3 was retired just now: it stays for its grace, like the new v4
    assert versions() == ["labels.v3", "labels.v4"]
    assert {r.doc_id for r in idx.labels(spark).collect()} == set(range(8))


def test_pre_r7_unpartitioned_labels_refused(spark, tmp_path):
    """A state from before partition-local labels (no label_parts or
    n_labels in state.json, labels without lpart partitions) is refused
    by update() with the layout named, and nothing is written."""
    import json

    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    path = str(tmp_path / "dedup")
    idx = DedupIndex(path, n=3, threshold=0.7, cfg=CFG)
    w1 = spark.createDataFrame(_ROWS[0:3], SCHEMA)
    idx.update(spark, w1)
    st = json.load(open(os.path.join(path, "state.json")))
    labels = spark.read.parquet(os.path.join(path, st["labels_dir"]))
    labels.select("doc_id", "component_id").write.parquet(os.path.join(path, "labels.v9"))
    for k in ("label_parts", "n_labels"):
        st.pop(k)
    st["labels_dir"] = "labels.v9"
    json.dump(st, open(os.path.join(path, "state.json"), "w"))

    with pytest.raises(ValueError, match="pre-r7 unpartitioned labels layout"):
        idx.update(spark, spark.createDataFrame(_ROWS[3:5], SCHEMA), w1)
    assert json.load(open(os.path.join(path, "state.json"))) == st
    assert not os.path.exists(os.path.join(path, "signatures", "wave=2"))


def test_mismatched_parameters_refused(spark, tmp_path):
    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    path = str(tmp_path / "dedup")
    _run_waves(spark, path)
    with pytest.raises(ValueError, match="mixed parameters"):
        DedupIndex(path, n=3, threshold=0.9, cfg=CFG)


def test_reingesting_existing_doc_id_refused(spark, tmp_path):
    """ADVICE r6: a wave that re-ingests an existing doc_id would be
    silently relabeled as a singleton when its prior component is not
    touched by a new pair — the update must abort BEFORE commit instead,
    leaving the previous wave set intact and a later disjoint wave
    working."""
    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    path = str(tmp_path / "dedup")
    idx = DedupIndex(path, n=3, threshold=0.7, cfg=CFG)
    w1 = spark.createDataFrame(_ROWS[0:3], SCHEMA)
    idx.update(spark, w1)
    before = sorted(
        (r.doc_id, r.component_id) for r in idx.labels(spark).collect()
    )

    # doc 2 is already in the state (a singleton — no new pair touches it)
    dup_wave = spark.createDataFrame([_ROWS[2], _ROWS[3]], SCHEMA)
    with pytest.raises(ValueError, match="re-ingests"):
        idx.update(spark, dup_wave, corpus_docs=w1)

    # state unchanged: same labels, same committed waves
    after = sorted(
        (r.doc_id, r.component_id) for r in idx.labels(spark).collect()
    )
    assert after == before
    assert idx._state()["waves"] == [1]

    # a disjoint wave still lands on the same state afterwards
    idx.update(spark, spark.createDataFrame(_ROWS[3:5], SCHEMA), w1)
    assert idx._state()["waves"] == [1, 2]
    got = {r.doc_id for r in idx.labels(spark).collect()}
    assert got == {0, 1, 2, 3, 4}


def test_first_wave_with_repeated_doc_id_refused(spark, tmp_path):
    """A first wave that holds one doc_id twice (a url crawled twice)
    used to commit two label rows for that doc; it must be refused before
    commit like a re-ingest across waves, leaving no labels. The same
    wave without the repeat then commits as wave 1."""
    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    idx = DedupIndex(str(tmp_path / "dedup"), n=3, threshold=0.7, cfg=CFG)
    recrawl = spark.createDataFrame(_ROWS[0:3] + [_ROWS[1]], SCHEMA)
    with pytest.raises(ValueError, match="repeated inside the wave"):
        idx.update(spark, recrawl)
    assert idx._state() is None
    assert idx.labels(spark).count() == 0

    idx.update(spark, spark.createDataFrame(_ROWS[0:3], SCHEMA))
    assert idx._state()["waves"] == [1]
    assert sorted(r.doc_id for r in idx.labels(spark).collect()) == [0, 1, 2]


def test_refused_first_waves_leave_no_staging(spark, tmp_path):
    """A refused wave removes what it staged before re-raising: after two
    refused first waves no ``*.tmp`` dir and no ``wave=`` dir is left
    (no manifest names them, and with no committed wave no GC would ever
    run). A following good wave commits and equals the same wave on a
    fresh state: pairs, labels and state.json."""
    from colbert_jl_spark.streaming.dedup_state import DedupIndex

    path = str(tmp_path / "dedup")
    idx = DedupIndex(path, n=3, threshold=0.7, cfg=CFG)
    recrawl = spark.createDataFrame(_ROWS[0:3] + [_ROWS[1]], SCHEMA)
    for _ in range(2):
        with pytest.raises(ValueError, match="repeated inside the wave"):
            idx.update(spark, recrawl)
    left = [
        os.path.relpath(os.path.join(d, e), path)
        for d, dirs, _ in os.walk(path)
        for e in dirs
        if e.endswith(".tmp") or e.startswith("wave=") or e.startswith("labels")
    ]
    assert left == [] and idx._state() is None, left

    w1 = spark.createDataFrame(_ROWS[0:3], SCHEMA)
    fresh = DedupIndex(str(tmp_path / "fresh"), n=3, threshold=0.7, cfg=CFG)
    got, want = idx.update(spark, w1), fresh.update(spark, w1)
    assert got == want
    for read in (DedupIndex.pairs, DedupIndex.labels):
        assert sorted(map(tuple, read(idx, spark).collect())) == sorted(
            map(tuple, read(fresh, spark).collect())
        )
    assert idx._state() == fresh._state()


def test_lsh_constant_drift_refused(spark, tmp_path, monkeypatch):
    """VERDICT r6 'What's wrong' #2: the LSH constants are pinned in
    state.json at commit; reopening the state under an engine whose
    constants drifted must refuse instead of silently missing duplicates
    against the old band tables."""
    from colbert_jl_spark.streaming import dedup_state as ds

    path = str(tmp_path / "dedup")
    idx = ds.DedupIndex(path, n=3, threshold=0.7, cfg=CFG)
    idx.update(spark, spark.createDataFrame(_ROWS[0:3], SCHEMA))
    assert idx._state()["lsh"] == ds._lsh_params()

    monkeypatch.setattr(ds, "N_BAND_BUCKETS", 128)
    with pytest.raises(ValueError, match="LSH"):
        ds.DedupIndex(path, n=3, threshold=0.7, cfg=CFG)


def test_labels_rewrite_is_partition_local(spark, tmp_path):
    """VERDICT r6 next-round #2: a wave rewrites ONLY the label
    partitions holding affected docs; an unaffected partition's files
    enter the new version INODE-IDENTICAL (hardlinked, zero bytes
    copied), the rewritten row count is bounded by affected partitions +
    wave (not the corpus), and the cumulative labels still equal the
    from-scratch run (test_incremental_waves_equal_from_scratch)."""
    import json

    path = str(tmp_path / "dedup")
    idx, reps = _run_waves(spark, path)

    # waves 2 and 3 touch a strict subset of the label partitions (doc 2
    # — a singleton untouched by any later pair — keeps its partition)
    for r in reps[1:]:
        assert r["label_rows_rewritten"] < r["n_labels"]
        assert r["label_parts_rewritten"] < r["label_parts"]
    # e.g. wave 3 affects {0,1,3} ∪ {5,6}: 5 rewritten rows of 7 labels
    assert reps[2]["label_rows_rewritten"] == 5
    assert reps[2]["n_labels"] == 7

    # inode gate: at least one partition dir of the PREVIOUS version
    # re-appears in the CURRENT version with identical inodes
    st = json.load(open(os.path.join(path, "state.json")))
    cur = os.path.join(path, st["labels_dir"])
    prev = os.path.join(path, f"labels.v{st['labels_version'] - 1}")

    def part_inodes(root, entry):
        d = os.path.join(root, entry)
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.startswith("part-")
        }

    shared = [
        entry
        for entry in os.listdir(cur)
        if entry.startswith("lpart=")
        and os.path.isdir(os.path.join(prev, entry))
        and part_inodes(cur, entry) == part_inodes(prev, entry)
    ]
    assert shared, "no unaffected partition was hardlinked"
