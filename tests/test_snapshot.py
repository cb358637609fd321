"""The snapshot protocol (colbert_jl_spark/snapshot.py) under faults,
concurrency and age: every mutable index and dedup state changes only by
assembling immutable version dirs and renaming one manifest."""

from __future__ import annotations

import ast
import json
import os
import random
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from colbert_jl_spark import snapshot
from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators.bm25 import bm25_topk
from colbert_jl_spark.operators.phrase import phrase_matches
from colbert_jl_spark.plans.build import IndexBuilder, IndexReader, bucket_file_counts
from colbert_jl_spark.sources.pages import pages_from_documents
from colbert_jl_spark.streaming.ingest import (
    compact_positions,
    compact_streamed_index,
    minor_compact,
    stream_pages_to_postings,
)

PKG = Path(__file__).resolve().parent.parent / "colbert_jl_spark"


def _named(m):
    return {m["dir"]}


def test_gc_grace_runs_from_retirement(tmp_path):
    """A dir the GC may reclaim ages from the commit that stopped naming
    it, not from when it was written: an old dir retired just now survives
    the next commit; once past the grace it is reclaimed. A dir no
    manifest ever named (a crashed writer's) ages from its write."""
    root = str(tmp_path)
    for d in ("t.v1", "t.v2", "t.v3.tmp", "t.v9"):
        os.makedirs(os.path.join(root, d))
    long_ago = os.path.getmtime(root) - snapshot.GRACE_SEC - 60
    for d in ("t.v1", "t.v3.tmp"):
        os.utime(os.path.join(root, d), (long_ago, long_ago))
    snapshot.commit(root, "m.json", {"dir": "t.v1"}, ("t",), _named)

    snapshot.commit(root, "m.json", {"dir": "t.v2"}, ("t",), _named)
    # t.v1 was written long ago but retired just now; the old orphan
    # staging dir goes, the young orphan t.v9 stays
    assert sorted(os.listdir(root)) == ["m.json", "t.v1", "t.v2", "t.v9"]
    assert snapshot.staging(root, "t").endswith("t.v10.tmp")

    os.utime(os.path.join(root, "t.v1"), (long_ago, long_ago))
    snapshot.commit(root, "m.json", {"dir": "t.v2"}, ("t",), _named)
    assert sorted(os.listdir(root)) == ["m.json", "t.v2", "t.v9"]
    assert json.load(open(os.path.join(root, "m.json"))) == {"dir": "t.v2"}


def test_assemble_carries_over_unreplaced_partitions(tmp_path):
    root = str(tmp_path)
    for part, name in (("p=1", "a"), ("p=2", "b"), ("p=3", "c")):
        os.makedirs(os.path.join(root, "s", part))
        Path(root, "s", part, name).write_text(name)
    Path(root, "s", "_SUCCESS").write_text("")
    tmp = snapshot.staging(root, "s")
    os.makedirs(os.path.join(tmp, "p=2"))
    os.makedirs(os.path.join(tmp, "p=4"))
    Path(tmp, "p=2", "b2").write_text("b2")
    Path(tmp, "p=4", "d").write_text("d")
    Path(tmp, "_SUCCESS").write_text("")
    assert snapshot.assemble(root, tmp, "s", replace={2}) == "s.v2"
    got = sorted(
        os.path.relpath(os.path.join(d, f), os.path.join(root, "s.v2"))
        for d, _, fs in os.walk(os.path.join(root, "s.v2"))
        for f in fs
    )
    assert got == ["_SUCCESS", "p=1/a", "p=2/b2", "p=3/c", "p=4/d"]
    assert os.stat(os.path.join(root, "s.v2", "p=1", "a")).st_ino == os.stat(
        os.path.join(root, "s", "p=1", "a")
    ).st_ino
    assert not os.path.exists(tmp)


# modules (relative to the package) and functions allowed to move or
# remove files themselves; everything else goes through snapshot.py
_FILE_OPS = {
    "os.rename", "os.replace", "shutil.rmtree", "os.link",
    "link_tree", "link_or_copy",
}
_ALLOWED = {
    "snapshot.py": None,  # the protocol itself
}


def _file_op_calls(path: Path, names=_FILE_OPS, nodes: bool = False):
    """(qualified function, called name) of every call of one of
    ``names`` (default: the file-moving ones), with the call node when
    ``nodes``."""
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call):
                f = child.func
                name = (
                    f"{f.value.id}.{f.attr}"
                    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                    else getattr(f, "id", getattr(f, "attr", ""))
                )
                if name in names:
                    out.append((scope, name, child) if nodes else (scope, name))
            visit(child, inner)

    visit(tree, "")
    return out


def test_only_the_snapshot_module_moves_files():
    """No module hand-rolls its own version/rename/GC protocol: every
    os.rename / os.replace / shutil.rmtree / os.link / link helper call in
    the package is in snapshot.py or on the explicit allowlist."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = _ALLOWED.get(rel, set())
        for scope, name in _file_op_calls(path):
            if allowed is not None and scope not in allowed:
                stray.append(f"{rel}:{scope or '<module>'} calls {name}")
    assert not stray, stray
    assert any(n == "os.rename" for _, n in _file_op_calls(PKG / "snapshot.py"))


def _opens_for_write(call: ast.Call) -> bool:
    mode = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "mode"), None
    )
    if mode is None:  # open's default mode reads
        return False
    return not isinstance(mode, ast.Constant) or bool(set(mode.value) & set("wax+"))


def test_plan_json_has_one_writer():
    """plan.json changes only by snapshot.commit: the package's one
    open-for-write is snapshot.write_json, whose only callers are
    snapshot.commit and the stage ledger's _mark_stage, and the one
    snapshot.commit naming plan.json is plans/build.py:commit_plan."""
    sites: dict[str, set] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        names = {"open", "write_json", "snapshot.write_json", "commit", "snapshot.commit"}
        for scope, name, call in _file_op_calls(path, names, nodes=True):
            kind = name.rpartition(".")[2]
            if kind == "open" and not _opens_for_write(call):
                continue
            if kind == "commit" and not any(
                isinstance(a, ast.Constant) and a.value == "plan.json" for a in call.args
            ):
                continue
            sites.setdefault(kind, set()).add(f"{rel}:{scope}")
    assert sites == {
        "open": {"snapshot.py:write_json"},
        "write_json": {"snapshot.py:commit", "plans/build.py:_mark_stage"},
        "commit": {"plans/build.py:commit_plan"},
    }, sites


def _parquet_writes(path: Path):
    """(qualified function, line) of every ``.parquet(...)`` call on a
    ``DataFrame.write`` chain: the chain itself (``df.write....parquet``)
    or a name a function bound to one (``w = df.write...; w.parquet``)."""
    tree = ast.parse(path.read_text())
    out = []

    def on_write(node, writers) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "write":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return isinstance(node, ast.Name) and node.id in writers

    def visit(node, scope, writers):
        for child in ast.iter_child_nodes(node):
            inner, names = scope, writers
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
                names = set()
            if isinstance(child, ast.Assign) and on_write(child.value, writers):
                writers.update(t.id for t in child.targets if isinstance(t, ast.Name))
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and on_write(child.func.value, writers)
            ):
                out.append((scope, child.lineno))
            visit(child, inner, names)

    visit(tree, "", set())
    return out


def test_only_the_snapshot_module_writes_parquet(tmp_path):
    """Every engine table is written by snapshot.write_parquet (one
    writer, one codec): no other module of the package calls
    ``.parquet(...)`` on a ``DataFrame.write`` chain. The scan itself is
    checked on a sample with each pattern it must catch."""
    stray = [
        f"{path.relative_to(PKG).as_posix()}:{scope or '<module>'}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "snapshot.py"
        for scope, line in _parquet_writes(path)
    ]
    assert not stray, stray
    assert _parquet_writes(PKG / "snapshot.py")
    sample = tmp_path / "sample.py"
    sample.write_text(
        "def a(df, p):\n"
        "    df.write.mode('overwrite').partitionBy('x').parquet(p)\n"
        "def b(df, p):\n"
        "    w = df.write.mode('overwrite')\n"
        "    w = w.partitionBy('x')\n"
        "    w.parquet(p)\n"
        "def c(spark, p):\n"
        "    return spark.read.parquet(p), spark.readStream.parquet(p)\n"
    )
    assert [s for s, _ in _parquet_writes(sample)] == ["a", "b"]


def test_blocks_have_one_writer():
    """Blocks are encoded and written only through plans/build.write_blocks,
    whose tid collision check rides the write: inside the package
    posting_blocks is called only by write_blocks and by the one path
    that writes nothing, wand._inline_blocks; collision_free_tid_salt
    only by write_blocks (its retry) and by that inline path (its
    up-front probe)."""
    names = {
        f"{m}{f}" for m in ("", "codec_blocks.")
        for f in ("posting_blocks", "collision_free_tid_salt")
    }
    sites: dict[str, set] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for scope, name in _file_op_calls(path, names):
            sites.setdefault(name.rpartition(".")[2], set()).add(f"{rel}:{scope}")
    both = {"plans/build.py:write_blocks", "operators/wand.py:_inline_blocks"}
    assert sites == {"posting_blocks": both, "collision_free_tid_salt": both}, sites


# ---- fault injection and concurrency over one streamed index ------------

CFG = EngineConfig(block_size=8, min_bucket_docs=64, term_partitions=32)
VOCAB = [f"w{i}" for i in range(60)]
QUERIES = [(0, "w1 w2 w30"), (1, "w3"), (2, "w40 w41 w42"), (3, "w7 w8 w9")]
PHRASES = [(0, "w1 w2"), (1, "w7 w8"), (2, "w50 w51")]


def _docs(spark, n_waves=3, per_wave=60):
    """Interleaved doc ids (wave w holds ids ≡ w mod n_waves). Wave 0
    draws from the whole vocabulary, each later wave from its own
    6-term slice, so later epochs touch few term buckets and overlap
    wave 0's segments only there."""
    rng = random.Random(11)
    rows = []
    for d in range(n_waves * per_wave):
        w = d % n_waves
        words = VOCAB if w == 0 else VOCAB[6 * (w - 1): 6 * w]
        rows.append((d, " ".join(rng.choices(words, k=10)), "en"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string"), n_waves


class _Streamed:
    """A streamed index with positional capture, fed one wave at a time."""

    def __init__(self, spark, root, docs, n_waves):
        self.spark, self.docs, self.n_waves = spark, docs, n_waves
        self.pages = pages_from_documents(docs)
        self.pages_dir, self.idx, self.ckpt = (
            str(root / d) for d in ("pages", "idx", "ckpt")
        )

    def ingest(self, wave: int) -> None:
        self.pages.where(F.col("doc_id") % self.n_waves == wave).write.mode(
            "append"
        ).parquet(self.pages_dir)
        stream_pages_to_postings(
            self.spark, self.pages_dir, self.idx, self.ckpt, CFG, positions=True
        )

    def served(self) -> dict:
        """What a fresh reader serves: search, phrase, validate, plan."""
        r = IndexReader(self.spark, self.idx)
        return {
            "search": _ranked(r.search(QUERIES)),
            "phrase": sorted(map(tuple, r.phrase(PHRASES).collect())),
            "ok": r.validate()["ok"],
            "plan": r.plan,
        }

    def rows(self) -> dict:
        """Every table of the committed snapshot, by content."""
        r = IndexReader(self.spark, self.idx)
        return {
            "dictionary": sorted(map(tuple, r.dictionary.collect())),
            "blocks": sorted(map(tuple, r.blocks.collect())),
            "docstats": sorted(map(tuple, r.docstats.collect())),
            "lineage": sorted(map(tuple, r.lineage.collect())),
            "positions": sorted(
                (x.term, x.doc_id, tuple(x.positions))
                for x in r._stage_df("positions_dir", "positions").collect()
            ),
        }


def _ranked(df) -> list:
    return sorted(
        (r.qid, r.rank, r.doc_id, round(r.score, 4)) for r in df.collect()
    )


STEPS = ("staging", "link_or_copy", "assemble", "gc", "write_json")


def _abort_each_step(monkeypatch, run, check, steps=STEPS, extra=()) -> None:
    """Run ``run`` once per fault with that fault raising: each snapshot.py
    step of ``steps``, then each (module, function) of ``extra``. The fault
    must have been reached, and ``check`` must hold after the abort."""
    for target, step in [(snapshot, s) for s in steps] + list(extra):
        def boom(*a, _step=step, **kw):
            raise RuntimeError(f"injected failure in {_step}")

        with monkeypatch.context() as m:
            m.setattr(target, step, boom)
            with pytest.raises(RuntimeError, match=f"injected failure in {step}"):
                run()
        check()


def _strip(report):
    """A report without the version dir names, which a retry advances."""
    if isinstance(report, dict):
        return {k: _strip(v) for k, v in report.items() if not k.endswith("_dir")}
    return report


def _codecs(root: str) -> dict[str, set]:
    """Every parquet file under ``root`` (relative path) → the set of
    column-chunk codecs its footer reports."""
    import pyarrow.parquet as pq

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(d, f)).metadata
                out[os.path.relpath(os.path.join(d, f), root)] = {
                    meta.row_group(g).column(c).compression
                    for g in range(meta.num_row_groups)
                    for c in range(meta.num_columns)
                }
    return out


def test_every_engine_table_is_zstd(spark, docs001, tmp_path):
    """Every parquet footer under a batch index (with positions), a
    streamed index after a major and an incremental compaction (with its
    postings, positions_raw and ingest_log captures), and a two-wave dedup
    state reports ZSTD for every column chunk."""
    from colbert_jl_spark.plans.build import IndexBuilder
    from colbert_jl_spark.streaming.dedup_state import DedupIndex
    from tests.test_dedup_state import _WAVES, SCHEMA

    batch = str(tmp_path / "batch")
    builder = IndexBuilder(batch, CFG)
    builder.build(docs001)
    builder.build_positions(docs001)

    docs, n_waves = _docs(spark, n_waves=2, per_wave=40)
    streamed = _Streamed(spark, tmp_path / "streamed", docs, n_waves)
    for wave in range(n_waves):
        streamed.ingest(wave)
        compact_streamed_index(spark, streamed.idx, CFG)
    assert IndexReader(spark, streamed.idx).plan["incremental"]["epochs"] == 2

    dedup = DedupIndex(str(tmp_path / "dedup"), n=3, threshold=0.7, cfg=EngineConfig())
    corpus = None
    for w in _WAVES[:2]:
        dedup.update(spark, spark.createDataFrame(w, SCHEMA), corpus)
        corpus = spark.createDataFrame(w, SCHEMA)

    for root, stages in (
        (batch, ("dictionary", "blocks", "docstats", "lineage", "positions")),
        (streamed.idx, ("postings", "positions_raw", "ingest_log", "blocks.v", "dictionary.v")),
        (dedup.path, ("signatures", "bands", "pairs", "labels.v")),
    ):
        codecs = _codecs(root)
        for stage in stages:
            assert any(p.startswith(stage) for p in codecs), (root, stage)
        bad = {p: c for p, c in codecs.items() if c and c != {"ZSTD"}}
        assert not bad, bad


def test_every_step_abort_leaves_the_old_snapshot(spark, tmp_path, monkeypatch):
    """Each snapshot.py step raises in turn during an incremental
    compaction, compact_positions, minor_compact, a major (full=True)
    compaction and a DedupIndex wave; the major compaction also fails in
    its blocks stage (posting_blocks). A major compaction writes whole
    versions, so it never reaches link_or_copy. After every abort a fresh
    reader sees exactly the old snapshot (search, phrase, validate, plan;
    pairs and labels), and re-running the operation then equals the same
    operation on an identical index that never failed."""
    from colbert_jl_spark.operators import codec_blocks

    docs, n_waves = _docs(spark)
    faulty = _Streamed(spark, tmp_path / "faulty", docs, n_waves)
    clean = _Streamed(spark, tmp_path / "clean", docs, n_waves)
    for s in (faulty, clean):
        for wave in range(n_waves - 1):
            s.ingest(wave)
            compact_streamed_index(spark, s.idx, CFG)
        s.ingest(n_waves - 1)

    def crowded_limit():
        counts = bucket_file_counts(
            os.path.join(faulty.idx, IndexReader(spark, faulty.idx).plan["positions_dir"])
        )
        assert len(set(counts.values())) > 1, counts
        return min(counts.values())

    ops = [
        ("incremental", lambda s: compact_streamed_index(spark, s.idx, CFG)["compaction"]),
        ("positions", lambda s: compact_positions(spark, s.idx, limit[0])),
        ("minor", lambda s: minor_compact(spark, s.idx)),
        ("full", lambda s: compact_streamed_index(spark, s.idx, CFG, full=True)["compaction"]),
    ]
    limit = [None]
    for name, op in ops:
        if name == "positions":
            limit[0] = crowded_limit()
        before = faulty.served()
        full = name == "full"
        _abort_each_step(
            monkeypatch, lambda: op(faulty),
            lambda: faulty.served() == before or pytest.fail(name),
            steps=tuple(s for s in STEPS if s != "link_or_copy") if full else STEPS,
            extra=[(codec_blocks, "posting_blocks")] if full else (),
        )
        got, want = op(faulty), op(clean)
        assert got["mode"] == name, got
        assert _strip(got) == _strip(want)
        assert faulty.rows() == clean.rows()
        assert _strip(faulty.served()) == _strip(clean.served())
        assert faulty.served()["ok"]
    # the whole history equals the from-scratch truth
    served = faulty.served()
    qdf = spark.createDataFrame(QUERIES, "qid long, query string")
    assert served["search"] == _ranked(bm25_topk(docs, qdf, CFG))
    assert served["phrase"] == sorted(map(tuple, phrase_matches(docs, PHRASES, CFG).collect()))

    # the dedup state: a second wave aborted at every step
    from colbert_jl_spark.streaming.dedup_state import DedupIndex
    from tests.test_dedup_state import _ROWS, _WAVES, SCHEMA

    states = [
        DedupIndex(str(tmp_path / d), n=3, threshold=0.7, cfg=EngineConfig())
        for d in ("dedup_faulty", "dedup_clean")
    ]
    w1 = spark.createDataFrame(_WAVES[0], SCHEMA)
    w2 = spark.createDataFrame(_WAVES[1], SCHEMA)
    for st in states:
        st.update(spark, w1)

    def result(st):
        return (
            sorted(map(tuple, st.pairs(spark).collect())),
            sorted(map(tuple, st.labels(spark).collect())),
            st._state(),
        )

    before = result(states[0])
    _abort_each_step(
        monkeypatch, lambda: states[0].update(spark, w2, w1),
        lambda: result(states[0]) == before or pytest.fail("dedup"),
    )
    got, want = (st.update(spark, w2, w1) for st in states)
    assert _strip(got) == _strip(want)
    assert result(states[0])[:2] == result(states[1])[:2]
    assert {r.doc_id for r in states[0].labels(spark).collect()} == {
        r[0] for r in _ROWS[0:5]
    }


def test_reader_thread_sees_only_committed_snapshots(spark, tmp_path):
    """A reader thread searches while the main thread runs three
    incremental compactions, a compact_positions, a minor_compact and a
    major (full=True) compaction. It never raises, and every result it
    gets equals bm25_topk over the documents of some committed
    snapshot."""
    docs, n_waves = _docs(spark, n_waves=4, per_wave=40)
    s = _Streamed(spark, tmp_path / "s", docs, n_waves)
    s.ingest(0)
    compact_streamed_index(spark, s.idx, CFG)
    qdf = spark.createDataFrame(QUERIES, "qid long, query string")
    truths = {
        w: _ranked(bm25_topk(docs.where(F.col("doc_id") % n_waves <= w), qdf, CFG))
        for w in range(n_waves)
    }
    assert len({tuple(t) for t in truths.values()}) == n_waves

    results, errors, stop = [], [], threading.Event()

    def read():
        reader = IndexReader(spark, s.idx)
        try:
            while not stop.is_set():
                results.append(_ranked(reader.search(QUERIES)))
        except Exception as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=read)
    t.start()
    try:
        for wave in range(1, n_waves):
            s.ingest(wave)
            assert compact_streamed_index(spark, s.idx, CFG)["compaction"]["mode"] == "incremental"
        assert compact_positions(spark, s.idx, 1)["mode"] == "positions"
        assert minor_compact(spark, s.idx)["mode"] == "minor"
        full = compact_streamed_index(spark, s.idx, CFG, full=True)
        assert full["compaction"]["mode"] == "full"
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    assert results
    seen = {w for r in results for w, truth in truths.items() if r == truth}
    assert all(r in truths.values() for r in results)
    assert seen, "no result matched a snapshot"


def test_forced_tid_collision_reencodes_once(spark, tmp_path, monkeypatch):
    """Two terms share a tid under salt 0. A batch build, an incremental
    compaction and minor_compact each see it on their blocks write
    (write_blocks), encode once more under the probed salt 1, and end
    with the block rows (sorted, payloads included), the plan and the
    blocks dirs on disk of the same operation on an identical index
    without the collision: the failed version is neither named nor left
    staged."""
    from colbert_jl_spark.operators import codec_blocks

    real_tid, real_encode = codec_blocks.tid_col, codec_blocks.posting_blocks
    salts = []

    def posting_blocks(*args, salt, **kw):
        salts.append(salt)
        return real_encode(*args, salt=salt, **kw)

    def colliding_tid(salt):
        # wave 1 draws from w0..w5, so both terms are in its delta
        # vocabulary and in the segments its interleaved ids overlap
        if salt:
            return real_tid(salt)
        return F.when(F.col("term") == "w1", F.xxhash64(F.lit("w2"), F.lit(0))).otherwise(
            real_tid(0)
        )

    monkeypatch.setattr(codec_blocks, "posting_blocks", posting_blocks)
    docs, n_waves = _docs(spark)
    clean = _Streamed(spark, tmp_path / "clean", docs, n_waves)
    hit = _Streamed(spark, tmp_path / "hit", docs, n_waves)

    def blocks(idx):
        r = IndexReader(spark, idx)
        on_disk = sorted(e for e in os.listdir(idx) if snapshot.parse(e)[0] == "blocks")
        return sorted(map(tuple, r.blocks.collect())), r.plan, on_disk

    def build(s):
        IndexBuilder(s.idx + "_batch", CFG).build(docs)
        return s.idx + "_batch"

    def incremental(s):
        for wave, mode in enumerate(("full", "incremental")):
            s.ingest(wave)
            assert compact_streamed_index(spark, s.idx, CFG)["compaction"]["mode"] == mode
        return s.idx

    def minor(s):
        assert minor_compact(spark, s.idx)["mode"] == "minor"
        return s.idx

    for op in (build, incremental, minor):
        del salts[:]
        want = blocks(op(clean))
        assert set(salts) == {0}, (op.__name__, salts)
        once = [0, 1] * len(salts)
        del salts[:]
        with monkeypatch.context() as m:
            m.setattr(codec_blocks, "tid_col", colliding_tid)
            got = blocks(op(hit))
        assert salts == once, (op.__name__, salts)
        assert got == want, op.__name__
