"""Offline index build + load + search — the orchestration layer.

The analogue of the reference's top-level build driver ``index(indexer)``
(reference src/indexing.jl:63-147) and ``Searcher(index_path)``
(reference src/searching.jl:18-80), re-expressed as a staged Spark job:

    stage "postings"   — THE tokenize pass: docs → (term, doc_id, tf,
                         doclen) parquet. Everything downstream derives
                         from this materialization, so the expensive
                         extract+tokenize+explode shuffle runs exactly ONCE
                         over the corpus (at 100 TB this is the dominant
                         cost; re-tokenizing per stage would be a 4× blowup)
                         (reference encode_passages per chunk,
                          checkpoint.jl:159-189). A TRANSIENT checkpoint:
                         no reader, validate() or query reads it, so
                         build() removes it once the plan commits (the
                         reference's index dir likewise holds only what its
                         Searcher loads); its _STAGES.json mark stays
    stage "plan"       — exact corpus stats → plan.json
                         (reference setup(), collection_indexer.jl:115-139,
                          but EXACT instead of sampled), plus
                         (doc_id, doclen) docstats parquet
                         (reference doclens chunks, savers.jl:64-68)
    stage "dictionary" — (term, df, cf) parquet, partitioned by the SAME
                         term_bucket hash as the block table, so query-time
                         dictionary lookups prune directories and an
                         incremental compaction rewrites only the buckets
                         containing delta terms (VERDICT r3 item 4). idf is
                         NOT stored: it depends on the corpus-wide N, which
                         moves every incremental epoch — readers compute
                         idf_col(df, plan.n_docs) at scan time (a codegen
                         scalar), keeping untouched dictionary partitions
                         byte-identical across compactions
                         (reference ivf_lengths, collection_indexer.jl:352)
    stage "blocks"     — compressed posting blocks, partitioned by
                         term_bucket, sorted by term within partitions so
                         parquet row-group min/max prune term lookups
                         (reference chunks + codec,
                          collection_indexer.jl:271-297, residual.jl:586-604)
    stage "lineage"    — per-partition build metrics: docs seen, postings
                         emitted, bytes compressed (north-rule lineage rows;
                         the analogue of per-chunk metadata.json,
                          savers.jl:74-84)

Resumability (north rule; analogue of the reference's isdir guard +
_check_all_files_are_saved, indexing.jl:64-67 /
collection_indexer.jl:299-340): every stage writes a whole new version
dir beside the live snapshot (snapshot.staging → write_parquet →
assemble) and records itself in _STAGES.json. The postings mark carries
the corpus and posting counts and the newest later mark the plan built
so far, so a re-run skips completed stages: a build interrupted after
"dictionary" restarts at "blocks" from the postings checkpoint without
recomputing stats. plan.json changes once per build, by one
snapshot.commit after every dir it names exists (the lineage mark
follows it); until then readers serve the previous snapshot, and the
commit retires the dirs only that snapshot named. A
build with all five marks returns its plan without a Spark job; a pending
plan, dictionary or blocks stage needs the checkpoint, and once a
finished build has removed it only force=True rebuilds (see
IndexBuilder.build). On Iceberg the same structure maps to snapshot
checkpoints; the staged-commit protocol here is storage-agnostic.

Every table is written as zstd parquet through snapshot.write_parquet.

``validate()`` re-checks the cross-stage invariants the reference asserts
at load time (sum(doclens) == num_embeddings, loaders.jl:85-87):
sum(dictionary.df) == total postings == sum(blocks.n_docs).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_jl_spark import snapshot
from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.functions.smalldf import MAX_INLIST_TERMS, local_df, term_cut

STAGES = ("postings", "plan", "dictionary", "blocks", "lineage")

# validate()'s per-term_bucket data-file ceiling when the plan records no
# policy: compact_positions' default (4) plus slack for a few streamed
# epochs landing between scheduled compactions. Past this, phrase/search
# scans pay per-file open+footer cost every query — run minor_compact /
# compact_positions.
FILES_PER_BUCKET_CEILING = 8

# the data dirs a plan names, each by its "<stage>_dir" key or else as the
# bare stage dir; every writer commits new versions of them through
# snapshot.py
PLAN_DIRS = ("dictionary", "blocks", "docstats", "lineage", "positions")


def plan_dirs(plan: dict) -> set[str]:
    """The data dirs a plan snapshot names (positions only while the plan
    carries the stage)."""
    return {
        plan.get(f"{s}_dir", s)
        for s in PLAN_DIRS
        if s != "positions" or plan.get("positions")
    }


def new_version(
    index_path: str,
    plan: dict,
    stage: str,
    df: DataFrame,
    partition_by: str | None = None,
    replace=(),
    whole: bool = False,
) -> str:
    """Write ``df`` as the new files of ``stage``'s next version and point
    ``plan`` at it. A ``whole`` version is ``df`` alone; otherwise the
    plan's current version is carried over except its partitions in
    ``replace`` (an empty ``replace`` appends). Readers see it once
    ``plan`` commits (commit_plan). Returns the new version's path."""
    tmp = snapshot.staging(index_path, stage)
    snapshot.write_parquet(df, tmp, partition_by)
    key = f"{stage}_dir"
    current = None if whole else plan.get(key, stage)
    plan[key] = snapshot.assemble(index_path, tmp, current, replace)
    return os.path.join(index_path, plan[key])


def write_blocks(
    index_path: str,
    plan: dict,
    postings: DataFrame,
    dictionary: DataFrame,
    cfg: EngineConfig,
    whole: bool = False,
    replace=(),
    keep: DataFrame | None = None,
) -> DataFrame:
    """Encode ``postings`` (term, doc_id, tf, doclen) against
    ``dictionary`` (term, df, every posting term's row) with the plan's
    n_docs, avgdl and bucket_size, and write the block rows as the plan's
    next blocks version (new_version: ``whole``, or the current version
    carried over except its ``replace`` partitions). ``keep``: block rows
    of the replaced partitions that are written again as they are.

    The tid collision check rides the write: the encode runs with salt 0,
    and two observed block-row counts, before and after the dictionary
    join, must be equal. Two terms sharing a tid make both join every
    block row of that tid, so the later count grows (and the pair's
    postings were merged into corrupt blocks). On that rare mismatch
    (~1e-4 at web vocabulary) the failed version is discarded, the plan
    points at the blocks it named before, and the stage is encoded once
    more with a probed salt (collision_free_tid_salt). The check covers
    exactly the terms ``dictionary`` holds: a compaction passes the
    delta's view (streaming/ingest._delta_dictionary); earlier blocks
    carry term strings, never tids, so each write may use its own salt.

    Layout: a whole version is written as the encode leaves it, (term,
    bucket)-grouped per task, so row-group min/max on ``term`` stay
    tight without a shuffle on term_bucket (that would move the whole
    index once more, on a key of term_partitions values that skews at
    high parallelism); the plan records the resulting files per bucket
    as its ``max_files_per_bucket`` (validate()'s ceiling). A delta is repartitioned on term_bucket
    into one file per rewritten bucket, sorted so row-group min/max on
    ``term`` stay tight.

    Returns the encoded rows (with term_bucket, without ``keep``); a
    delta's are cached, and the caller unpersists them."""
    from pyspark.sql import Observation

    from colbert_jl_spark.operators.codec_blocks import (
        collision_free_tid_salt,
        posting_blocks,
        with_term_partition,
    )

    current = plan.get("blocks_dir", "blocks")
    salt = 0
    for attempt in range(2):
        counts = (Observation(), Observation())
        blocks = with_term_partition(
            posting_blocks(
                postings, dictionary.select("term", "df"), plan["n_docs"],
                plan["avgdl"], cfg, plan["bucket_size"],
                salt=salt, count_obs=counts,
            ),
            plan["term_partitions"],
        )
        out = blocks
        if not whole:
            blocks = blocks.cache()
            out = blocks if keep is None else keep.unionByName(blocks.select(*keep.columns))
            out = out.repartition("term_bucket").sortWithinPartitions(
                "term", "bucket", "first_docid"
            )
        try:
            path = new_version(index_path, plan, "blocks", out, "term_bucket", replace, whole)
        except BaseException:
            blocks.unpersist()
            raise
        if counts[0].get["n"] == counts[1].get["n"]:
            break
        blocks.unpersist()
        snapshot.discard(index_path, [plan["blocks_dir"]])
        plan["blocks_dir"] = current
        if attempt:  # a probed salt still colliding: impossible
            raise RuntimeError("tid collision persists after salt probe")
        salt = collision_free_tid_salt(dictionary)
    if whole:
        plan["max_files_per_bucket"] = max(
            [FILES_PER_BUCKET_CEILING, *bucket_file_counts(path).values()]
        )
    return blocks


def commit_plan(index_path: str, plan: dict, previous: dict | None = None) -> None:
    """Commit ``plan`` as the index's snapshot, the one way plan.json
    changes: one rename makes every version it names visible at once and
    retires the dirs only ``previous`` (default: the committed plan) named
    (snapshot.commit)."""
    snapshot.commit(index_path, "plan.json", plan, PLAN_DIRS, plan_dirs, previous)


def bucket_file_counts(stage_dir: str) -> dict[int, int]:
    """Per-``term_bucket=N`` partition data-file counts of a stage dir
    (driver-side listdir: bucket count is plan.term_partitions ≤ 4096,
    not data-scale — cheap even on a 100 TB index)."""
    counts: dict[int, int] = {}
    if not os.path.isdir(stage_dir):
        return counts
    for entry in os.listdir(stage_dir):
        if entry.startswith("term_bucket="):
            d = os.path.join(stage_dir, entry)
            counts[int(entry.split("=", 1)[1])] = sum(
                1 for f in os.listdir(d) if f.startswith("part-")
            )
    return counts


def _stage_file(index_path: str) -> str:
    return os.path.join(index_path, "_STAGES.json")


def _load_stages(index_path: str) -> dict:
    try:
        with open(_stage_file(index_path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _mark_stage(
    index_path: str, stage: str, meta: dict | None = None, reset: bool = False
) -> None:
    """Record ``stage`` (with ``meta``) in the ledger; ``reset`` first
    drops every other mark. Only the newest mark keeps a ``plan``: a
    resume needs the plan built so far, and once the lineage mark lands
    the committed plan.json is that plan."""
    done = {} if reset else _load_stages(index_path)
    for mark in done.values():
        mark.pop("plan", None)
    done[stage] = {**(meta or {}), "completed_at": time.time()}
    snapshot.write_json(_stage_file(index_path), done)


@dataclass
class IndexBuilder:
    """Builds a persisted block index at ``index_path``.

    ``force=True`` rebuilds from scratch (clears the stage ledger) —
    otherwise completed stages are skipped (resume semantics). Either way
    the new snapshot is built beside the committed one and replaces it
    with one plan.json commit."""

    index_path: str
    cfg: EngineConfig = EngineConfig()

    def build(self, docs: DataFrame, force: bool = False) -> dict:
        """Build the index from ``docs`` (doc_id, text[, lang]) and return
        its plan.

        The postings stage is a transient checkpoint: the later stages
        derive from it, and it is removed once the plan commits, because no
        reader, ``validate()`` or query reads it. Its ``_STAGES.json`` mark
        stays. Resume contract (``force=False``):

        * all five marks present: the plan is returned without a Spark job
          (a ``postings/`` left by a crash between the lineage mark and
          its removal is removed);
        * otherwise the pending stages run; plan, dictionary and blocks
          read the checkpoint, lineage reads only the blocks;
        * a pending plan, dictionary or blocks stage whose checkpoint is
          gone raises ValueError: rebuild with ``force=True``.

        The commit retires every dir the previous snapshot named and the
        new one does not: with ``force=True`` that is all of them,
        positions included until ``build_positions`` runs again."""
        from colbert_jl_spark.operators.codec_blocks import term_postings_with_doclen

        os.makedirs(self.index_path, exist_ok=True)
        done = {} if force else _load_stages(self.index_path)
        if not all(s in done for s in STAGES):
            if "postings" not in done:
                from pyspark.sql import Observation

                # corpus size AND posting-row count observed on the
                # tokenize pass itself (no separate count jobs — every
                # extra job is a cluster-wide scheduling barrier; the
                # posting count known here is what lets the plan and
                # dictionary stages run CONCURRENTLY); n_docs includes
                # all-stopword docs the postings drop
                obs_docs = Observation("corpus_docs")
                obs_rows = Observation("posting_rows")
                pdl = term_postings_with_doclen(
                    docs, self.cfg, count_obs=obs_docs
                ).observe(obs_rows, F.count(F.lit(1)).alias("n_postings"))
                # a crashed or forced build's checkpoint goes first, so
                # this one is version 1, the bare postings/ dir
                snapshot.discard(self.index_path, ["postings", "postings.tmp"])
                new_version(self.index_path, {}, "postings", pdl, whole=True)
                _mark_stage(
                    self.index_path, "postings",
                    {
                        "n_docs": int(obs_docs.get["n_docs"]),
                        "n_postings": int(obs_rows.get["n_postings"]),
                    },
                    reset=True,
                )
                done = _load_stages(self.index_path)
            plan = self.finish_from_postings(
                docs.sparkSession,
                done["postings"]["n_docs"],
                done["postings"]["n_postings"],
            )
            commit_plan(self.index_path, plan)
            _mark_stage(self.index_path, "lineage")
        snapshot.discard(self.index_path, ["postings"])
        return self.plan()

    def finish_from_postings(
        self,
        spark: SparkSession,
        n_docs_total: int,
        n_postings: int,
        batch_ids: list[int] | None = None,
    ) -> dict:
        """Run every stage downstream of the materialized postings table
        and return the plan naming their new versions, uncommitted: the
        caller commits it (build(), or the streamed major compaction after
        its positions stage), then marks lineage.

        Split out so the streaming ingest path (streaming/ingest.py), which
        appends postings incrementally via foreachBatch, can compact into a
        queryable index without a docs DataFrame — it passes the doc and
        posting counts accumulated in its ingest log instead.

        ``batch_ids`` restricts the scan to those ``batch=`` partitions of
        the postings dir (partition-pruned). The streaming path passes its
        LOGGED batch ids: a micro-batch writes postings before its
        ingest-log row, so a compaction racing a live stream could
        otherwise index a batch that the ingest log (and therefore
        n_docs_total and the compaction state) doesn't know about — that
        batch would then be re-read as "new" by the next incremental
        compaction and double-counted.

        Stages already marked are skipped, resuming from the plan the
        newest mark carries. The postings checkpoint is read only while
        plan, dictionary or blocks is pending; a lineage-only resume reads
        only the blocks. A pending upstream stage whose checkpoint is gone
        raises ValueError. This method never removes the checkpoint:
        ``build()`` does, and a streamed index keeps its ``batch=``
        captures for later compactions."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        from colbert_jl_spark.operators.codec_blocks import (
            lineage_by_bucket,
            with_term_partition,
        )
        from colbert_jl_spark.operators.postings import term_df

        idx = self.index_path
        done = _load_stages(idx)
        if "dictionary" in done:
            # a lineage-only re-run of a committed build finds no mark's
            # plan: the committed plan is the plan built so far
            plan = done["blocks" if "blocks" in done else "dictionary"].get(
                "plan"
            ) or snapshot.load(idx, "plan.json")
        if "blocks" not in done:
            postings_dir = os.path.join(idx, "postings")
            if not os.path.isdir(postings_dir):
                pending = [s for s in ("plan", "dictionary", "blocks") if s not in done]
                raise ValueError(
                    f"stages {pending} of the index at {idx} are "
                    "pending, but the postings checkpoint they are built from "
                    "is gone (a finished build removes it); rebuild the index "
                    "with build(docs, force=True)"
                )
            postings = spark.read.parquet(postings_dir)
            if batch_ids is not None:
                postings = postings.where(
                    F.col("batch").isin([int(b) for b in batch_ids])
                )

        # -- stages: plan + docstats ∥ dictionary ---------------------------
        if "dictionary" not in done:
            plan = {}
            # size the term-hash directory partitioning to the data:
            # ~2M postings per partition dir, clamped. A fixed large count
            # explodes file counts at small scale (tasks × dirs files);
            # too small a count kills query-time pruning. Shared by the
            # dictionary and block tables; plan.json records the chosen
            # value — the same rewrite-after-build pattern the reference
            # uses (indexing.jl:125-132).
            tp = int(
                self.cfg.term_partitions
                or min(4096, max(4, n_postings // 2_000_000))
            )

            # docstats = distinct (doc_id, doclen) from postings. Docs whose
            # every token was stoplisted never reach postings; they are
            # accounted for by n_empty_docs = n_docs_total - docstats rows,
            # keeping N/avgdl exact WITHOUT an anti-join shuffle over the
            # corpus. The docstats aggregate rides the WRITE action as
            # Observation metrics — no extra count or re-read jobs (every
            # job is a cluster-wide scheduling barrier, and in the pinned
            # scaling runs the fixed per-job floors land in both levels'
            # wall time and compress the measured efficiency).
            def _run_docstats():
                obs_ds = Observation("docstats_agg")
                seen = (
                    postings.select("doc_id", "doclen")
                    .distinct()
                    .observe(
                        obs_ds,
                        F.count(F.lit(1)).alias("n"),
                        F.sum("doclen").alias("tot"),
                    )
                )
                new_version(idx, plan, "docstats", seen, whole=True)
                row = obs_ds.get
                return row["n"], row["tot"] or 0

            # (term, df, cf) only — NO idf (see module docstring: idf is a
            # function of the moving N; computing it at read keeps
            # untouched partitions byte-stable under incremental merges).
            # The repartition is ON the partition column: term_df's output
            # is hash-partitioned on term, so a bare partitionBy write
            # would land up to n_tasks files in EVERY bucket dir.
            # Dictionary rows are one per term — vocab-scale,
            # bucket-balanced by the hash — so this extra shuffle is small
            # and every bucket dir gets exactly one file (validate()'s
            # FILES_PER_BUCKET_CEILING invariant).
            def _run_dictionary() -> None:
                dic = with_term_partition(
                    term_df(postings.select("term", "doc_id", "tf")), tp
                )
                dic = dic.repartition("term_bucket").sortWithinPartitions("term")
                new_version(idx, plan, "dictionary", dic, "term_bucket", whole=True)

            # the posting count is known before either stage runs, so the
            # docstats write and the dictionary shuffle+write share NO
            # data dependency — two concurrent driver-thread jobs (Spark
            # schedules both; the later job back-fills executors freed by
            # the earlier one's tail). Both stages are marked only after
            # BOTH versions exist — a crash mid-pair re-runs both on
            # resume, under fresh version names.
            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_ds = pool.submit(_run_docstats)
                fut_dic = pool.submit(_run_dictionary)
                n_seen, tot = fut_ds.result()
                fut_dic.result()
            plan.update(
                n_docs=n_docs_total,
                n_empty_docs=n_docs_total - n_seen,
                avgdl=tot / n_docs_total if n_docs_total else 0.0,
                total_tokens=tot,
                total_postings=int(n_postings),
                bucket_size=max(
                    self.cfg.min_bucket_docs,
                    -(-n_docs_total // self.cfg.num_index_partitions),
                ),
                config=json.loads(self.cfg.to_json()),
                format_version=1,
                term_partitions=tp,
            )
            _mark_stage(idx, "plan")
            _mark_stage(idx, "dictionary", {"plan": plan})

        # -- stage: blocks ----------------------------------------------
        if "blocks" not in done:
            # spill-aware shuffle sizing: the blocks exchange moves every
            # posting once; per-reducer sorts must fit in memory. Sized to
            # the DATA (~4M narrow posting rows ≈ 128 MB per partition),
            # floored at the session's core-count default — at 960k docs
            # (34M postings) this keeps partitions = cores, at 2M+ docs it
            # grows them before the sort would spill (measured round 1:
            # sp = cores spills beyond ~2M docs on 128 GiB). AQE coalesces
            # over-splits, so erring high is cheap; restored after the stage.
            prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
            data_sp = max(int(prev_sp), -(-plan["total_postings"] // 4_000_000))
            # round UP to a whole number of task waves: 9 encode tasks on
            # 4 cores run as 3 ragged waves with idle slots in the last —
            # a pure scaling-efficiency leak at any core count (measured
            # r7: blocks stage eff 0.73 with the ragged tail). Scale-
            # adaptive: derived from cores and data size, not a constant.
            par = max(1, spark.sparkContext.defaultParallelism)
            data_sp = par * -(-data_sp // par)
            spark.conf.set("spark.sql.shuffle.partitions", str(data_sp))
            # the try opens IMMEDIATELY after conf.set: an exception
            # anywhere in the stage must not leak the inflated setting
            # into the caller's session
            try:
                write_blocks(
                    idx, plan, postings,
                    spark.read.parquet(os.path.join(idx, plan["dictionary_dir"])),
                    self.cfg, whole=True,
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
            _mark_stage(idx, "blocks", {"plan": plan})

        # -- stage: lineage (per doc-bucket build metrics) -------------------
        blocks = spark.read.parquet(os.path.join(idx, plan["blocks_dir"]))
        obs_lin = Observation("lineage_buckets")
        lineage = lineage_by_bucket(blocks).observe(
            obs_lin, F.count(F.lit(1)).alias("n_buckets")
        )
        new_version(idx, plan, "lineage", lineage, whole=True)
        # record the doc-bucket count in the plan (one lineage row per
        # bucket): IndexReader's fused-path gate reads it as metadata
        # instead of running a lineage scan on the first query. The
        # count is observed during the write — no read-back job.
        plan["n_buckets"] = int(obs_lin.get["n_buckets"])
        return plan

    def plan(self) -> dict:
        with open(os.path.join(self.index_path, "plan.json")) as f:
            return json.load(f)

    def build_positions(self, docs: DataFrame) -> None:
        """OPTIONAL positional stage (VERDICT r3 item 1): persist
        (term, doc_id, positions) — operators/phrase.token_position_lists
        — partitioned by the SAME term_bucket hash as the block table, so
        IndexReader.phrase() serves phrase queries from a term-pruned scan
        instead of re-tokenizing the corpus per call. One extra corpus
        pass over the RAW (pre-stoplist) token stream — positions cannot
        derive from the stoplisted postings table, because phrase
        semantics keep stopword position slots.

        Run AFTER build() (needs plan.json's term_partitions); skipped while
        the stage is marked and the plan names it. The stage is a new
        version, committed with {"positions": true} in one plan.json
        commit, so readers can gate without a filesystem probe. Streamed
        indexes: ingest with ``positions=True``
        (streaming/ingest.stream_pages_to_postings) and the compactors
        MAINTAIN this stage (full rebuilds it from the per-batch raw
        captures, incremental appends the delta); an ingest WITHOUT the
        capture drops it from the plan on compaction, so phrase() raises a
        clear error instead of silently missing new documents."""
        from colbert_jl_spark.operators.codec_blocks import with_term_partition
        from colbert_jl_spark.operators.phrase import token_position_lists

        plan = self.plan()
        if "positions" in _load_stages(self.index_path) and plan.get("positions"):
            return
        pl = with_term_partition(
            token_position_lists(docs, self.cfg), plan["term_partitions"]
        )
        new_version(self.index_path, plan, "positions", pl, "term_bucket", whole=True)
        plan["positions"] = True
        commit_plan(self.index_path, plan)
        _mark_stage(self.index_path, "positions")


@dataclass
class _SearchPlan:
    """One search call as IndexReader._search_plan prepared it."""

    qt_rows: list[tuple]  # the kept (qid, term, qtf) rows
    k: int
    est: int | None  # Σ df of the kept terms; None: no lookup ran
    blocks: DataFrame | None  # their cut block rows; None: nothing to run
    run: Callable  # emit_rank → the wand.bucket_executor function


@dataclass
class _PhrasePlan:
    """One phrase call as IndexReader._phrase_plan prepared it."""

    pt: list[tuple]  # (pid, term, off, plen) phrase term rows
    est: int | None  # Σ df of the phrase terms; None: not estimable
    anchors: list[tuple[int, str]]  # (pid, rarest indexable term)
    positions: DataFrame | None  # their cut positions; None: no terms

    def anchor(self):
        """(anchor_docs (pid, doc_id), anchored_pids, all_anchored) for
        _match_starts' rarest-term-first semi-join, or None. Positions hold
        ONE row per (term, doc_id) and each pid has ONE anchor term, so the
        doc sets are distinct without an exchange."""
        if not self.anchors:
            return None
        at = local_df(
            self.positions.sparkSession, self.anchors, "pid long, term string"
        )
        docs = self.positions.join(F.broadcast(at), "term").select("pid", "doc_id")
        pids = sorted(p for p, _ in self.anchors)
        return docs, pids, len(pids) == len({r[0] for r in self.pt})


class IndexReader:
    """Query-side handle — the Searcher analogue. Unlike the reference,
    which materializes the whole compressed index in driver RAM
    (reference src/loaders.jl:91-113; flagged at SURVEY.md §3.3 as the
    central scalability limit), only plan.json is driver-side; dictionary,
    docstats and blocks stay distributed parquet scans with pushed-down
    term filters.

    Serving is one planner with two executors, like the reference's one
    ``search(searcher, query, k)`` (reference src/searching.jl:93-128):
    each entry point prepares its call ONCE on the driver
    (``_search_plan``, ``_phrase_plan``: tokens, term stats, pruning,
    anchors, the term-cut scan), then picks the executor last — the
    distributed one (search, phrase) or a one-action collect run in the
    driver (search_local, phrase_local), which falls back to the
    distributed executor on the same plan past its Σdf size guard.

    Snapshot rule (snapshot.py): plan.json names every data dir the reader
    reads — dictionary, blocks, docstats, lineage and positions — and the
    reader resolves each one only through the plan it loaded. No writer
    (build, build_positions, any compaction) changes a dir a plan names:
    each assembles new version dirs and commits a new plan with one
    rename, so a query sees exactly one snapshot, old or new. A dir the
    committed plan stops naming stays on disk for snapshot.GRACE_SEC, so a
    query (lazy DataFrames included) whose plan was loaded before a commit
    finishes within that grace."""

    # above this many distinct terms in one call the term cut is a
    # broadcast semi-join, not an In(term, …) filter, and search() on a
    # batch-built index skips the zero-df lookup (see _search_plan)
    max_inlist_terms: int = MAX_INLIST_TERMS

    # search_local and phrase_local collect the call's cut rows to the
    # driver; above this many estimated postings (Σ df over the terms,
    # known driver-side from the plan's dictionary lookup) they run the
    # distributed executor instead (VERDICT r3 item 5: a head-term
    # analytical query must not collect a GB-scale slice into the driver).
    # 5M postings ≈ 10-80 MB of block rows — a comfortable interactive
    # collect.
    max_local_postings: int = 5_000_000

    # per-phrase ceiling on the anchor term's df for rarest-term-first
    # pruning: the anchor doc set rides a broadcast, so it must stay
    # executor-memory-small. 1M (pid, doc_id) rows ≈ 16 MB — comfortably
    # broadcastable; a phrase whose RAREST term exceeds this is all head
    # terms, where doc-set pruning buys little anyway (ratio bounded by
    # min_df/max_df) and the candidate-bounded shuffle is the honest cost.
    max_anchor_df: int = 1_000_000

    # floor below which anchoring is skipped for phrases whose terms are
    # ALL dictionary-estimable: when Σ df of the phrase terms is this
    # small, the whole candidate set already fits one shuffle cheaply and
    # the anchor subtree (a broadcast materialization per query DAG) is
    # pure latency tax — measured +0.35 s hot-phrase p50 on the bench
    # fixture. Phrases carrying a stoplisted term always anchor: their
    # positional volume is invisible to the df estimate (corpus-scale in
    # the positions table, absent from the dictionary), which is exactly
    # the head-term case the pruning exists for. df=0 anchors also always
    # apply — they kill provably unmatchable phrases for free.
    anchor_min_candidate_postings: int = 200_000

    def __init__(self, spark: SparkSession, index_path: str, cfg: EngineConfig | None = None):
        self.spark = spark
        self.index_path = index_path
        self._load_plan()
        lacking = [
            k for k in ("n_buckets", "term_partitions", "total_postings")
            if k not in self.plan
        ]
        if lacking:
            raise ValueError(
                f"the plan of the index at {index_path} lacks {lacking} "
                "(written before the build recorded them); rebuild it with "
                "IndexBuilder.build(docs, force=True)"
            )
        # parsed even when cfg is given: it refuses a plan whose blocks use
        # a format this engine cannot decode
        plan_cfg = EngineConfig.from_plan_config(self.plan["config"])
        self.cfg = cfg or plan_cfg

    def _plan_stamp(self) -> tuple:
        """Change stamp for plan.json: (inode, mtime_ns, size). Every plan
        commit is snapshot.commit's tmp write + rename, so the inode changes
        on each rewrite — mtime alone can collide when two commits land
        within one filesystem timestamp granule (coarse-granularity NFS/
        HFS+ mounts), which would leave a reader permanently serving new
        blocks under an old plan."""
        st = os.stat(os.path.join(self.index_path, "plan.json"))
        return (st.st_ino, st.st_mtime_ns, st.st_size)

    def _load_plan(self) -> None:
        p = os.path.join(self.index_path, "plan.json")
        self._plan_stamp_seen = self._plan_stamp()
        with open(p) as f:
            self.plan = json.load(f)
        # stage path → its DataFrame, for this plan snapshot: the dirs it
        # names never change, so their file listing and schema stay exact
        self._stage_dfs: dict[str, DataFrame] = {}
        # driver-side (term → (df, idf)) cache: filled lazily by the
        # planners' dictionary lookup, invalidated whenever the plan
        # snapshot moves (ADVICE r3: the idf_now collect ran per query on
        # the hot latency path; cached, repeat queries run ONE action)
        self._term_stats: dict[str, tuple[int, float]] = {}

    def refresh(self) -> "IndexReader":
        """Move to the committed snapshot if plan.json changed on disk.

        Called at the top of every search entry point, so a reader that
        outlives a compaction serves the new snapshot on its next call. A
        change (the (inode, mtime_ns, size) stamp, see _plan_stamp)
        reloads the plan and drops everything derived from the old one:
        the stage DataFrames, the term-stats cache, and the hot
        pins, which are re-pinned. Under the snapshot rule (class
        docstring) the old and new snapshots share no mutable dir, so a
        query never mixes them: data a compaction wrote appears only with
        the plan that names it."""
        if self._plan_stamp() == self._plan_stamp_seen:
            return self
        self._load_plan()
        if hasattr(self, "_hot_blocks") or hasattr(self, "_hot_positions"):
            self.release()
            self.load_hot()
        return self

    def _ensure_term_stats(self, terms) -> None:
        """Fill the driver-side (term → (df, idf)) cache for any of
        ``terms`` not yet seen — ONE term_bucket-pruned dictionary scan
        for the cache misses, zero actions when everything is cached.
        Missing terms (zero df / not in the vocabulary) cache as (0, 0.0).
        The cache is dropped whenever refresh() sees a new plan."""
        need = [t for t in terms if t not in self._term_stats]
        if not need:
            return
        found = {
            r.term: (int(r.df), float(r.idf))
            for r in self._dictionary_lookup(need).collect()
        }
        for t in need:
            self._term_stats[t] = found.get(t, (0, 0.0))

    def _dictionary_lookup(self, terms) -> DataFrame:
        """(term, df, idf) of ``terms``: a term- and term_bucket-pruned
        dictionary scan."""
        dic = self.dictionary.where(F.col("term").isin(list(terms)))
        return self._term_bucket_filter(dic, terms).select("term", "df", "idf")

    def release(self) -> "IndexReader":
        """Drop the hot pins (load_hot). Call when retiring a still-hot
        reader whose SparkSession lives on: the pins hold executor memory
        until released. (A reader that is still being queried needs no
        manual call — refresh() re-pins it when the plan moves.)"""
        if hasattr(self, "_hot_blocks"):
            hot = self._hot_blocks
            del self._hot_blocks
            hot.unpersist()
        if hasattr(self, "_hot_positions"):
            hot = self._hot_positions
            del self._hot_positions
            hot.unpersist()
        return self

    def _stage_dir(self, plan_key: str, default: str) -> str:
        """Resolved on-disk path of a versioned stage dir (plan snapshot,
        no refresh) — the filesystem companion of ``_stage_df``."""
        return os.path.join(self.index_path, self.plan.get(plan_key, default))

    def _stage_df(self, plan_key: str, default: str) -> DataFrame:
        """Scan of a stage dir resolved through the plan snapshot, built
        once per snapshot (parquet schema inference is a Spark job). A
        reader that held its plan past the GC grace may find the dir gone:
        it moves to the committed snapshot once; a second miss is a real
        error."""
        path = self._stage_dir(plan_key, default)
        if path not in self._stage_dfs and not os.path.isdir(path):
            self.refresh()
            path = self._stage_dir(plan_key, default)
        if path not in self._stage_dfs:
            self._stage_dfs[path] = self.spark.read.parquet(path)
        return self._stage_dfs[path]

    @property
    def dictionary(self) -> DataFrame:
        """(term, df, cf, term_bucket, idf). The dictionary stores only
        (df, cf) partitioned by term_bucket — idf depends on the
        corpus-wide N, so it is computed here from the CURRENT plan (a
        codegen scalar on a pruned scan), which is also what keeps
        untouched dictionary partitions byte-identical across incremental
        compactions."""
        from colbert_jl_spark.operators.bm25 import idf_col

        return self._stage_df("dictionary_dir", "dictionary").withColumn(
            "idf", idf_col(F.col("df"), self.plan["n_docs"])
        )

    @property
    def docstats(self) -> DataFrame:
        return self._stage_df("docstats_dir", "docstats")

    @property
    def lineage(self) -> DataFrame:
        return self._stage_df("lineage_dir", "lineage")

    def _term_bucket_filter(self, df: DataFrame, terms) -> DataFrame:
        """Prune a term_bucket-partitioned scan to the terms' partition
        directories (an IN over at most term_partitions ints — the nprobe
        analogue, reference ranking.jl:30-36); the bucket ids come from the
        pure-python xxhash64 clone, so no job runs."""
        from colbert_jl_spark.functions.hashing import spark_pmod_hash

        tp = self.plan.get("term_partitions")
        if not tp or "term_bucket" not in df.columns:
            return df
        return df.where(
            F.col("term_bucket").isin(sorted({spark_pmod_hash(t, tp) for t in terms}))
        )

    def _search_plan(
        self, queries: DataFrame | list[tuple[int, str]], k: int | None,
        mode: str, sized: bool,
    ) -> _SearchPlan:
        """Prepare one search call. ``queries`` (a DataFrame (qid, query),
        collected, or (qid, query) pairs) are tokenized driver-side with
        the python mirror of the frozen tokenizer, as the reference encodes
        queries (reference src/modelling/checkpoint.jl:271-301).

        The term-stats cache supplies df/idf when the call has at most
        max_inlist_terms distinct terms, on an incremental index, or when
        ``sized`` (search_local's Σdf guard); zero-df terms (in intersect
        mode, their whole queries) are then dropped, so an all-absent call
        schedules no DAG. A bulk batch on a batch-built index skips the
        lookup: absent terms have no block rows anyway. On an incremental
        index the stored idf/max_score are ENCODE-time values, so the
        current idf and an avgdl-drift bound scale ride along (see
        wand._term_blocks)."""
        from collections import Counter
        from functools import partial

        from colbert_jl_spark.functions.tokenizer import py_terms
        from colbert_jl_spark.operators.wand import bucket_executor

        self.refresh()
        if isinstance(queries, DataFrame):
            queries = [(r["qid"], r["query"]) for r in queries.collect()]
        qt_rows = [
            (int(qid), term, int(qtf))
            for qid, text in queries
            for term, qtf in Counter(py_terms(text, None, self.cfg.stopwords)).items()
        ]
        terms = sorted({t for _, t, _ in qt_rows})
        inc = self.plan.get("incremental")
        est = None
        if terms and (sized or inc or len(terms) <= self.max_inlist_terms):
            self._ensure_term_stats(terms)
            zero = {t for t in terms if self._term_stats[t][0] == 0}
            dead = {q for q, t, _ in qt_rows if t in zero and mode == "intersect"}
            qt_rows = [r for r in qt_rows if r[0] not in dead and r[1] not in zero]
            terms = sorted({t for _, t, _ in qt_rows})
            est = sum(self._term_stats[t][0] for t in terms)
        k = k or self.cfg.top_k
        run = partial(
            bucket_executor, qt_rows, k, self.cfg.k1, self.cfg.b,
            self.plan["avgdl"], mode,
            idf_now={t: self._term_stats[t][1] for t in terms} if inc else None,
            bound_scale=max(1.0, self.plan["avgdl"] / inc["min_enc_avgdl"]) if inc else 1.0,
        )
        blocks = None
        if qt_rows:
            blocks = term_cut(
                self._term_bucket_filter(self.blocks, terms), terms,
                self.max_inlist_terms,
            )
        return _SearchPlan(qt_rows, k, est, blocks, run)

    def _search_by_bucket(self, p: _SearchPlan) -> DataFrame:
        """The distributed search executor (wand.topk_by_bucket). A WARM
        call schedules only the query DAG (one job on a one-bucket index;
        AQE adds one per shuffle stage) and, above max_inlist_terms, the
        build of its semi-join broadcast."""
        from colbert_jl_spark.operators.wand import WAND_RANKED_SCHEMA, topk_by_bucket

        if not p.qt_rows:
            return local_df(self.spark, [], WAND_RANKED_SCHEMA)
        fused = self._single_bucket()
        return topk_by_bucket(p.blocks, p.run(emit_rank=fused), p.k, fused)

    def search(
        self,
        queries: DataFrame | list[tuple[int, str]],
        k: int | None = None,
        mode: str = "topk",
    ) -> DataFrame:
        """Top-k via block-max WAND over the persisted block table —
        the ``search(searcher, query, k)`` analogue
        (reference src/searching.jl:93-128).

        ``mode``: "topk" (disjunctive block-max WAND, default) or
        "intersect" (conjunctive — docs must contain EVERY query term;
        the zig-zag skip-pointer executor)."""
        return self._search_by_bucket(self._search_plan(queries, k, mode, sized=False))

    def _single_bucket(self) -> bool:
        """True iff the whole index lives in ONE doc-range bucket — then
        each (qid, bucket) WAND group spans the query's full doc space and
        the final ranking window (an extra exchange+sort per query DAG) is
        fused away (VERDICT r2 item 9). Decided from plan.json's
        ``n_buckets`` (recorded by the lineage stage) — NO Spark job, so
        search()'s no-pre-query-job guarantee holds even on the first
        call."""
        return int(self.plan["n_buckets"]) == 1

    def search_local(
        self,
        queries: DataFrame | list[tuple[int, str]],
        k: int | None = None,
        mode: str = "topk",
    ) -> DataFrame:
        """Latency-mode search: search()'s plan, then ONE data-path action
        (the cut block rows collected as Arrow — no shuffle, no Python
        workers) and the same per-bucket function run in the driver
        (wand.topk_on_driver; VERDICT r2 item 9). Past the size guard (Σdf
        > ``max_local_postings``, VERDICT r3 item 5) the plan runs
        distributed instead, with identical results: the reference
        Searcher holds the ENTIRE index in driver RAM (reference
        src/loaders.jl:91-113); this mode holds one query's slice."""
        from colbert_jl_spark.operators.wand import (
            EXEC_COLS,
            WAND_RANKED_SCHEMA,
            topk_on_driver,
        )

        p = self._search_plan(queries, k, mode, sized=True)
        if p.est is not None and p.est > self.max_local_postings:
            return self._search_by_bucket(p)
        rows = []
        if p.qt_rows:
            tbl = p.blocks.select(*EXEC_COLS).toArrow()  # THE one data-path action
            rows = topk_on_driver(tbl, p.run(emit_rank=False), p.k)
        return local_df(self.spark, rows, WAND_RANKED_SCHEMA)

    def _phrase_plan(self, phrases: list[tuple[int, str]], sized: bool) -> _PhrasePlan:
        """Prepare one phrase call: the phrase term rows, the df of the
        terms the executors need (one lookup for cache misses, at most),
        the rarest-term anchors, and the positions (hot pin or stage) cut
        to the phrase terms.

        Stopwords are absent from the dictionary yet corpus-scale in the
        positions table, so the INDEX's stoplist (not self.cfg's, which a
        caller may override) decides: only a stopword-free phrase set has
        a Σdf estimate (``sized``: phrase_local's guard), and a stopword
        never anchors. A phrase of ≥ 2 distinct terms is anchored by its
        lowest-df indexable term (VERDICT r4 item 3) when that pays — df 0
        (a free kill), a stopword in the phrase (volume the df cannot
        see), or Σdf above anchor_min_candidate_postings — and the
        anchor's df is at most max_anchor_df (its doc set is broadcast)."""
        from colbert_jl_spark.operators.phrase import phrase_term_rows

        self.refresh()
        if not self.plan.get("positions"):
            raise RuntimeError(
                "this index has no positions stage — run "
                "IndexBuilder.build_positions(docs) once, or use the "
                "inline operators/phrase.phrase_matches(docs, phrases)"
            )
        pt = phrase_term_rows(phrases)
        stop = set(self.plan["config"].get("stopwords", ()))
        toks: dict[int, set[str]] = {}
        for pid, t, _, _ in pt:
            toks.setdefault(pid, set()).add(t)
        terms = sorted({t for _, t, _, _ in pt})
        estimable = sized and not stop.intersection(terms)
        indexable = {p: sorted(ts - stop) for p, ts in toks.items() if len(ts) > 1}
        need = terms if estimable else sorted({t for ts in indexable.values() for t in ts})
        self._ensure_term_stats(need)
        df = {t: self._term_stats[t][0] for t in need}
        anchors = []
        for pid, ts in indexable.items():
            if not ts:
                continue
            a = min(ts, key=lambda t: (df[t], t))
            worth_it = (
                df[a] == 0
                or bool(stop & toks[pid])
                or sum(df[t] for t in ts) > self.anchor_min_candidate_postings
            )
            if worth_it and df[a] <= self.max_anchor_df:
                anchors.append((pid, a))
        positions = None
        if terms:
            positions = getattr(self, "_hot_positions", None)
            if positions is None:
                positions = self._stage_df("positions_dir", "positions")
            positions = term_cut(
                self._term_bucket_filter(positions, terms), terms,
                self.max_inlist_terms,
            )
        est = sum(df[t] for t in terms) if estimable else None
        return _PhrasePlan(pt, est, anchors, positions)

    def _phrase_by_shuffle(self, p: _PhrasePlan) -> DataFrame:
        """The distributed phrase executor (phrase._match_starts)."""
        from colbert_jl_spark.operators.phrase import (
            PHRASE_OUT_SCHEMA,
            phrase_matches_from_positions,
            phrase_side,
        )

        if not p.pt:
            return local_df(self.spark, [], PHRASE_OUT_SCHEMA)
        side = phrase_side(self.spark, p.pt, self.max_inlist_terms)
        return phrase_matches_from_positions(p.positions, side, p.anchor())

    def phrase(self, phrases: list[tuple[int, str]]) -> DataFrame:
        """(pid, doc_id, n_occurrences) — exact consecutive-token phrase
        matching served from the PERSISTED positions stage (VERDICT r3
        item 1): it reads the phrase terms' slice of the positions table
        instead of re-tokenizing the corpus (operators/phrase.phrase_matches
        is the inline shape). Output-identical to the inline operator;
        gated in tests/test_phrase.py."""
        return self._phrase_by_shuffle(self._phrase_plan(phrases, sized=False))

    def phrase_local(self, phrases: list[tuple[int, str]]) -> DataFrame:
        """Latency-mode phrase matching, the analogue of search_local:
        phrase()'s plan, ONE data-path action (the cut positions) and
        phrase.phrase_matches_local. A phrase set with no Σdf estimate (a
        stopword) or one above ``max_local_postings`` runs phrase()'s
        executor instead. Output-identical to phrase()."""
        from colbert_jl_spark.operators.phrase import (
            PHRASE_OUT_SCHEMA,
            phrase_matches_local,
        )

        p = self._phrase_plan(phrases, sized=True)
        if p.est is None or p.est > self.max_local_postings:
            return self._phrase_by_shuffle(p)
        rows = []
        if p.pt:
            pos = p.positions.select("term", "doc_id", "positions").toPandas()  # THE one action
            rows = phrase_matches_local(pos, p.pt)
        return local_df(self.spark, rows, PHRASE_OUT_SCHEMA)

    def load_hot(self) -> "IndexReader":
        """Serving mode: pin the block table in executor memory so repeated
        queries skip the parquet scan — the closest analogue of the
        reference Searcher holding the whole index in RAM
        (reference src/loaders.jl:91-113), but distributed and optional.

        The pin is hash-partitioned by ``bucket`` (the doc-range WAND
        group key): HashPartitioning(bucket) satisfies the executor's
        ClusteredDistribution(bucket), so a search() DAG over a hot reader
        needs NO hash Exchange at all, single query or batch — scan →
        term filter → local sort → FlatMapGroupsInArrow, one stage. The
        repartition runs once, at pin time — never on the per-query
        path."""
        if not hasattr(self, "_hot_blocks"):
            b = self.blocks.repartition("bucket").cache()
            b.count()  # materialize
            self._hot_blocks = b
        # pin the positions stage too when present: a hot phrase query
        # otherwise pays the positional parquet scan (file listing +
        # footers) on every call — serving mode assumes the index fits
        # the cluster's cache tier, exactly like the blocks pin
        if self.plan.get("positions") and not hasattr(self, "_hot_positions"):
            pos = self._stage_df("positions_dir", "positions").cache()
            pos.count()  # materialize
            self._hot_positions = pos
        return self

    @property
    def blocks(self) -> DataFrame:
        """Resolved via plan.json's ``blocks_dir`` (default "blocks"), or
        the hot pin."""
        if hasattr(self, "_hot_blocks"):
            return self._hot_blocks
        return self._stage_df("blocks_dir", "blocks")

    def validate(self, max_files_per_bucket: int | None = None) -> dict:
        """Cross-stage invariants — the _check_all_files_are_saved analogue
        (reference collection_indexer.jl:299-340 + loaders.jl:85-87).

        Also surfaces the SMALL-FILE invariant the compaction passes
        maintain (VERDICT r5 item 5): incremental epochs append one file
        per term_bucket per wave to the blocks/positions stages, and
        minor_compact / compact_positions bound that; a long-lived
        streamed index that drifted past the ceiling (compaction never
        scheduled, or a crashed pass) is flagged HERE at serve time, not
        only in pytest. The ceiling defaults to plan's
        ``max_files_per_bucket`` if recorded, else
        ``FILES_PER_BUCKET_CEILING`` (compaction policy default 4 + slack
        for a few uncompacted epochs).

        ``missing_stages`` lists the dirs the committed plan names that
        are not on disk: the report judges the snapshot readers are
        served, whatever an aborted build left in the stage ledger."""
        missing = sorted(
            d for d in plan_dirs(self.plan)
            if not os.path.isdir(os.path.join(self.index_path, d))
        )
        dic_postings = self.dictionary.agg(F.sum("df")).first()[0]
        blk_postings = self.blocks.agg(F.sum("n_docs")).first()[0]
        n_docs = self.docstats.count()
        total_tokens = self.docstats.agg(F.sum("doclen")).first()[0]
        report = {
            "missing_stages": missing,
            "dictionary_postings": dic_postings,
            "block_postings": blk_postings,
            "postings_match": dic_postings == blk_postings,
            "n_docs": n_docs,
            # docstats holds only docs with ≥1 indexable token; all-stopword
            # docs are carried as plan.n_empty_docs (kept out of the table,
            # in N/avgdl)
            "n_docs_match": n_docs + self.plan.get("n_empty_docs", 0)
            == self.plan["n_docs"],
            "total_tokens_match": total_tokens == self.plan["total_tokens"],
        }
        ceiling = (
            max_files_per_bucket
            if max_files_per_bucket is not None
            else self.plan.get("max_files_per_bucket", FILES_PER_BUCKET_CEILING)
        )
        blk_counts = bucket_file_counts(
            self._stage_dir("blocks_dir", "blocks")
        )
        dic_counts = bucket_file_counts(
            self._stage_dir("dictionary_dir", "dictionary")
        )
        report["max_files_per_bucket"] = ceiling
        report["blocks_files_per_bucket_max"] = max(blk_counts.values(), default=0)
        report["dictionary_files_per_bucket_max"] = max(
            dic_counts.values(), default=0
        )
        frag_ok = (
            report["blocks_files_per_bucket_max"] <= ceiling
            and report["dictionary_files_per_bucket_max"] <= ceiling
        )
        if self.plan.get("positions"):
            pos_counts = bucket_file_counts(
                self._stage_dir("positions_dir", "positions")
            )
            report["positions_files_per_bucket_max"] = max(
                pos_counts.values(), default=0
            )
            frag_ok = frag_ok and report["positions_files_per_bucket_max"] <= ceiling
        report["fragmentation_ok"] = frag_ok
        report["ok"] = (
            not missing
            and report["postings_match"]
            and report["n_docs_match"]
            and report["total_tokens_match"]
            and frag_ok
        )
        return report
