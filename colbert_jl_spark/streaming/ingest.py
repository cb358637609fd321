"""Structured Streaming ingest: continuous page arrival → incremental index.

The reference is strictly batch (SURVEY.md §2.10: no streaming operators;
index updates listed as future work at reference README.md:179-190). This
module is the Spark-native extension the north rule's Iceberg pipeline
implies: pages land continuously, postings append per micro-batch, and a
periodic compaction rebuilds the queryable block index.

* ``stream_pages_to_postings`` — ``readStream`` over a pages directory →
  extract/tokenize (same frozen UDF/expressions as the batch path) →
  ``foreachBatch`` appends `(term, doc_id, tf, doclen)` postings plus an
  ingest-log row (batch_id, docs, postings) — the streaming continuation
  of the build's per-partition lineage.
* ``compact_streamed_index`` — runs the batch builder's downstream stages
  (plan/dictionary/blocks/lineage) over the accumulated postings; doc
  count comes from the ingest log. After compaction the index is served
  by the same IndexReader/WAND path as a batch-built index.

foreachBatch (not a streaming sink) is deliberate: posting construction is
a batch transformation per micro-batch, and idempotency comes from the
checkpointed batch_id (re-delivered batches overwrite their own
subdirectory — exactly-once at directory granularity; Iceberg's
transactional append replaces the directory trick in production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from colbert_jl_spark import snapshot
from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.plans.build import (
    IndexBuilder,
    IndexReader,
    _mark_stage,
    bucket_file_counts,
    commit_plan,
    new_version,
    write_blocks,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages_to_postings(
    spark: SparkSession,
    pages_dir: str,
    index_path: str,
    checkpoint_dir: str,
    cfg: EngineConfig = EngineConfig(),
    available_now: bool = True,
    positions: bool = False,
):
    """Start (and with available_now=True, run to completion) the ingest
    stream. Returns the StreamingQuery.

    ``positions=True`` additionally persists each micro-batch's RAW-token
    positional postings (operators/phrase.token_position_lists) under
    ``positions_raw/batch=N`` — the per-batch source the compactor folds
    into the queryable ``positions`` stage, making phrase queries a
    maintained capability on streamed indexes (without it, any compaction
    that adds docs must invalidate a batch-built positions stage, because
    positions derive from the raw token stream the stoplisted postings
    cannot reconstruct)."""
    from colbert_jl_spark.operators.codec_blocks import term_postings_with_doclen
    from colbert_jl_spark.operators.phrase import token_position_lists
    from colbert_jl_spark.sources.pages import docs_from_pages

    os.makedirs(os.path.join(index_path, "postings"), exist_ok=True)
    os.makedirs(os.path.join(index_path, "ingest_log"), exist_ok=True)

    pages = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        docs = docs_from_pages(batch_df)
        # the doc and posting counts ride the write (as build()'s
        # corpus_docs and posting_rows do): no count job re-running
        # extraction and tokenization, no read-back of the batch dir
        obs_docs, obs = Observation(), Observation()
        postings = term_postings_with_doclen(
            docs, cfg, count_obs=obs_docs
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        # idempotent append: each micro-batch owns its subdirectory, so a
        # checkpoint-replayed batch overwrites itself instead of doubling
        batch = f"batch={batch_id}"
        snapshot.write_parquet(postings, os.path.join(index_path, "postings", batch))
        n_docs = int(obs_docs.get["n_docs"])
        if n_docs == 0:  # an empty micro-batch leaves nothing behind
            snapshot.discard(os.path.join(index_path, "postings"), [batch])
            return
        n_postings = int(obs.get["n"])
        if positions:
            snapshot.write_parquet(
                token_position_lists(docs, cfg),
                os.path.join(index_path, "positions_raw", batch),
            )
        snapshot.write_parquet(
            batch_df.sparkSession.createDataFrame(
                [(batch_id, n_docs, n_postings)],
                "batch_id long, n_docs long, n_postings long",
            ),
            os.path.join(index_path, "ingest_log", batch),
        )

    writer = (
        pages.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


def _delta_dictionary(
    dic: DataFrame, delta_terms: DataFrame, affected=None
) -> DataFrame:
    """The merged dictionary RESTRICTED to one compaction epoch's working
    vocabulary: term_bucket partitions pruned to ``affected`` (when the
    dictionary is bucket-partitioned) and rows semi-joined to the
    ``delta_terms`` frame — an O(delta) view of an O(vocab) table.

    It is the encoder's join domain in an incremental or minor
    compaction (plans/build.write_blocks), so the tid collision check
    that rides that write covers exactly the epoch's terms: persisted
    blocks carry term strings, never tids, so injectivity over this view
    is the whole requirement, and each epoch may use its own salt.
    """
    if affected is not None and "term_bucket" in dic.columns:
        dic = dic.where(F.col("term_bucket").isin(sorted(affected)))
    return dic.join(
        F.broadcast(delta_terms.select("term").distinct()), "term", "leftsemi"
    )


def _positions_raw_complete(index_path: str, batch_ids) -> bool:
    """True iff EVERY given batch has a persisted positions_raw dir (the
    ingest ran with positions=True for all of them) — the condition for
    maintaining the positions stage through a compaction instead of
    dropping it."""
    return bool(batch_ids) and all(
        os.path.isdir(os.path.join(index_path, "positions_raw", f"batch={b}"))
        for b in batch_ids
    )


def _raw_positions(
    spark: SparkSession, index_path: str, plan: dict, batch_ids
) -> DataFrame:
    """The batches' positions_raw captures in the positions stage's
    layout (term_bucket-partitioned, as IndexBuilder.build_positions
    writes it)."""
    from colbert_jl_spark.operators.codec_blocks import with_term_partition

    raw = spark.read.parquet(
        *[
            os.path.join(index_path, "positions_raw", f"batch={b}")
            for b in batch_ids
        ]
    )
    return with_term_partition(
        raw.select("term", "doc_id", "positions"), plan["term_partitions"]
    )


def compact_streamed_index(
    spark: SparkSession,
    index_path: str,
    cfg: EngineConfig = EngineConfig(),
    full: bool = False,
) -> dict:
    """Fold newly-streamed postings into the queryable block index.

    The FIRST compaction (or ``full=True`` — the "major compaction" a
    scheduler runs occasionally to restore per-segment block disjointness
    and reset statistics staleness) builds plan/dictionary/blocks/lineage
    over all postings via the batch builder, as whole new versions beside
    the live snapshot, committed with one plan.json rename like every
    other compaction. Which one runs is decided from the committed plan
    alone: an index with no plan, or one whose plan records no
    ``last_batch_id`` (never compacted from a stream), gets a major one.

    Every later call is INCREMENTAL (VERDICT r2 item 2): it reads ONLY the
    ``batch=`` posting partitions newer than the plan's ``last_batch_id``
    and builds one new snapshot (snapshot.py) from them:

      * docstats, blocks and lineage each get a new version: the current
        version's files carried over by link, the delta's rows added;
        the delta blocks are encoded with the plan's frozen bucket_size /
        term_partitions by plans/build.write_blocks, whose tid collision
        check rides the write,
      * the dictionary merges additively — df/cf are sums — into a new
        version that rewrites ONLY the term_bucket partitions containing
        delta terms (VERDICT r3 item 4) and carries the others over
        byte-identical, however many partitions the delta touches: a
        link costs less than the scan, shuffle and write of a rewrite.
        idf is NOT stored (computed from plan.n_docs at read), which is
        what makes untouched partitions byte-stable at all,
      * the positions stage gets the delta's rows when every new batch
        captured them, and is otherwise dropped from the plan,
      * plan.json's running sums (n_docs / total_tokens / avgdl /
        n_empty_docs) and ``incremental`` marker are updated,

    and one plan.json rename commits all of it. Nothing appears to a
    reader before that rename, and a compaction that dies before it
    leaves the old snapshot whole: the retry compacts the same batches
    again.

    Nothing proportional to the pre-existing corpus is read or rewritten
    (the carried-over files are links) — the job is O(delta), gated in
    tests/test_streaming.py. Pre-existing block rows keep their
    encode-time idf/max_score; IndexReader corrects both at query time
    (plan.json carries the ``incremental`` marker with min_enc_avgdl — see
    plans/build.py and wand._term_blocks). Segments whose doc-id ranges
    interleave are merge-sorted inside the WAND cursor (correct, minus
    block skipping for touched groups); monotone doc-id ingests keep full
    skipping.

    Returns the updated plan with a ``compaction`` report:
    {mode, batches_compacted, postings_read, docs_added}.
    """
    from colbert_jl_spark.operators.codec_blocks import (
        lineage_by_bucket,
        with_term_partition,
    )
    from colbert_jl_spark.operators.postings import term_df

    ingest = spark.read.parquet(os.path.join(index_path, "ingest_log"))
    batch_rows = {int(r.batch_id): r for r in ingest.collect()}
    plan = snapshot.load(index_path, "plan.json")
    if full or plan is None or "last_batch_id" not in plan:
        return _major_compaction(spark, index_path, cfg, batch_rows, plan)

    new_ids = sorted(b for b in batch_rows if b > plan["last_batch_id"])
    if not new_ids:
        plan["compaction"] = {
            "mode": "noop", "batches_compacted": [], "postings_read": 0,
            "docs_added": 0,
        }
        return plan
    dic_dir = os.path.join(index_path, plan.get("dictionary_dir", "dictionary"))
    tp = plan.get("term_partitions")
    if not tp or not any(e.startswith("term_bucket=") for e in os.listdir(dic_dir)):
        raise ValueError(
            f"the dictionary at {dic_dir} uses the pre-r4 flat layout (no "
            "term_bucket partitions); incremental compaction does not "
            "upgrade it — run compact_streamed_index(..., full=True) once"
        )
    # the INDEX's persisted config governs the incremental encode — a
    # caller-supplied cfg with a different block_size or BM25 constants
    # would append delta blocks inconsistent with the rest of the index
    cfg = EngineConfig.from_plan_config(plan["config"])
    inc = plan.get("incremental") or {"epochs": 1, "min_enc_avgdl": plan["avgdl"]}

    new_postings = spark.read.parquet(
        *[os.path.join(index_path, "postings", f"batch={b}") for b in new_ids]
    ).cache()
    try:
        # docstats append + additive plan update
        seen = new_postings.select("doc_id", "doclen").distinct()
        row = seen.agg(
            F.count("*").alias("n"), F.sum("doclen").alias("tot")
        ).first()
        docs_added = int(sum(batch_rows[b].n_docs for b in new_ids))
        new_version(index_path, plan, "docstats", seen)
        plan["n_docs"] = int(plan["n_docs"]) + docs_added
        plan["n_empty_docs"] = int(plan["n_empty_docs"]) + docs_added - int(row["n"])
        plan["total_tokens"] = int(plan["total_tokens"]) + int(row["tot"] or 0)
        plan["avgdl"] = (
            plan["total_tokens"] / plan["n_docs"] if plan["n_docs"] else 0.0
        )

        # dictionary: additive df/cf merge of ONLY the buckets holding
        # delta terms; every other bucket is carried over by link
        delta_dic = term_df(new_postings.select("term", "doc_id", "tf"))
        delta_b = with_term_partition(delta_dic, tp)
        affected = {
            int(r.term_bucket)
            for r in delta_b.select("term_bucket").distinct().collect()
        }
        merged = with_term_partition(
            spark.read.parquet(dic_dir)
            .where(F.col("term_bucket").isin(sorted(affected)))
            .select("term", "df", "cf")
            .unionByName(delta_b.select("term", "df", "cf"))
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
            tp,
        )
        # one file per rewritten bucket (see write_blocks' delta layout)
        dic = spark.read.parquet(
            new_version(
                index_path, plan, "dictionary",
                merged.repartition("term_bucket").sortWithinPartitions("term"),
                "term_bucket", affected,
            )
        )

        # the delta blocks, encoded with the merged df over the delta
        # terms' rows only (O(delta), see _delta_dictionary)
        delta_blocks = write_blocks(
            index_path, plan, new_postings,
            _delta_dictionary(dic, delta_dic.select("term"), affected), cfg,
        )
        postings_read = int(new_postings.count())
        # delta lineage rows (same shape as the batch stage, one generation
        # of rows per compaction — sums stay exact across generations);
        # new docs may open new doc-range buckets, so the plan's bucket
        # count is refreshed (distinct over the generations) and the
        # reader's fused-path gate stays job-free
        lineage = new_version(
            index_path, plan, "lineage", lineage_by_bucket(delta_blocks)
        )
        plan["n_buckets"] = (
            spark.read.parquet(lineage).select("bucket").distinct().count()
        )
        delta_blocks.unpersist()
    finally:
        new_postings.unpersist()

    # positions derive from the RAW (pre-stoplist) token stream, which the
    # stoplisted postings cannot reconstruct: the stage gets the delta's
    # rows when every new batch captured them (doc sets are disjoint, so
    # appending is exact), and the new snapshot otherwise omits it, so
    # phrase() fails loudly instead of silently missing the new documents
    if plan.get("positions") and _positions_raw_complete(index_path, new_ids):
        new_version(
            index_path, plan, "positions",
            _raw_positions(spark, index_path, plan, new_ids)
            .repartition("term_bucket")
            .sortWithinPartitions("term", "doc_id"),
            "term_bucket",
        )
    else:
        plan.pop("positions", None)
        plan.pop("positions_dir", None)
    # the incremental marker tells IndexReader to overlay fresh idf and
    # widen block-max bounds by avgdl drift (min over every segment's
    # encode-time avgdl — see wand._term_blocks)
    plan["incremental"] = {
        "epochs": int(inc["epochs"]) + 1,
        "min_enc_avgdl": min(float(inc["min_enc_avgdl"]), plan["avgdl"]),
    }
    plan["total_postings"] = int(plan["total_postings"]) + postings_read
    plan["last_batch_id"] = max(batch_rows)
    commit_plan(index_path, plan)
    plan["compaction"] = {
        "mode": "incremental",
        "batches_compacted": new_ids,
        "postings_read": postings_read,
        "docs_added": docs_added,
    }
    return plan


def _major_compaction(
    spark: SparkSession,
    index_path: str,
    cfg: EngineConfig,
    batch_rows: dict,
    previous: dict | None,
) -> dict:
    """The full rebuild behind compact_streamed_index: every derived stage
    re-runs in the batch builder over all logged batches, each as a whole
    new version beside the snapshot ``previous`` (the stage ledger is
    reset, so a retry after a crash starts over under fresh version
    names). The positions stage is rebuilt the same way from
    positions_raw when every batch captured it. One plan.json commit then
    retires the dirs ``previous`` named, and the GC reclaims them after
    its grace; until it, readers serve ``previous`` whole."""
    _mark_stage(index_path, "postings", {"streamed": True}, reset=True)
    batch_ids = sorted(batch_rows)
    n_docs = int(sum(r.n_docs for r in batch_rows.values()))
    n_postings = int(sum(r.n_postings for r in batch_rows.values()))
    # index ONLY the logged batches: a batch whose postings landed but
    # whose log row hasn't (the sink writes postings first) must wait for
    # the next compaction, or it would be indexed now AND re-read as "new"
    # later — double-counted (see finish_from_postings)
    plan = IndexBuilder(index_path, cfg).finish_from_postings(
        spark, n_docs, n_postings, batch_ids
    )
    # phrase queries stay servable on streamed indexes across major
    # compactions when the ingest captured per-batch raw positions
    if _positions_raw_complete(index_path, batch_ids):
        new_version(
            index_path, plan, "positions",
            _raw_positions(spark, index_path, plan, batch_ids),
            "term_bucket", whole=True,
        )
        plan["positions"] = True
    plan["last_batch_id"] = max(batch_rows, default=-1)
    commit_plan(index_path, plan, previous)
    _mark_stage(index_path, "lineage")
    plan["compaction"] = {
        "mode": "full",
        "batches_compacted": batch_ids,
        "postings_read": n_postings,
        "docs_added": n_docs,
    }
    return plan


def minor_compact(
    spark: SparkSession,
    index_path: str,
) -> dict:
    """Restore per-(term, bucket) block-segment DISJOINTNESS after
    interleaved incremental epochs — O(touched), not the major
    compaction's O(corpus) (VERDICT r3 item 2).

    Incremental compactions append one block SEGMENT per epoch per
    (term, bucket). When ingested doc ids interleave across epochs (url-
    derived ids do), segment docid ranges overlap and the WAND cursor
    must eagerly decode + merge-sort those groups
    (operators/wand._TermBlocks._merge_overlapping_segments) — correct,
    but a streamed head term loses block-max skipping until a major
    compaction. This pass:

      1. finds (term, bucket) groups whose sorted segments violate
         ``first_docid > prev last_docid`` (one window pass over block
         METADATA — no payload decode),
      2. decodes ONLY those groups' blocks back to postings
         (codec_blocks.blocks_to_postings), re-encodes them with the
         plan's frozen bucket_size into disjoint blocks with CURRENT
         df/idf/avgdl statistics, and
      3. commits a new blocks version (snapshot.py): the rewritten
         term_bucket partitions from the new encode, every other
         partition carried over byte-identical, one plan.json rename.

    The codec configuration comes from the INDEX's plan.json (like
    IndexReader), never from a caller argument — re-encoding under another
    block_size or BM25 constants would corrupt the block metadata.

    Returns {mode, groups, rewritten_term_buckets}."""
    from pyspark.sql import Window

    from colbert_jl_spark.operators.codec_blocks import blocks_to_postings

    plan = snapshot.load(index_path, "plan.json")
    if plan is None or "last_batch_id" not in plan:
        raise RuntimeError(
            "minor_compact applies to streamed indexes (their plan.json "
            "records the last compacted batch); batch-built indexes are "
            "disjoint by construction"
        )
    cfg = EngineConfig.from_plan_config(plan["config"])
    blocks = spark.read.parquet(
        os.path.join(index_path, plan.get("blocks_dir", "blocks"))
    )

    # 1. overlap detection on metadata only
    w = Window.partitionBy("term", "bucket").orderBy(
        "first_docid", "last_docid"
    )
    flagged = blocks.withColumn(
        "_prev_last", F.lag("last_docid").over(w)
    ).withColumn(
        "_ov",
        F.col("_prev_last").isNotNull()
        & (F.col("first_docid") <= F.col("_prev_last")),
    )
    overlapping = (
        flagged.groupBy("term", "bucket", "term_bucket")
        .agg(F.max(F.col("_ov").cast("int")).alias("has_ov"))
        .where(F.col("has_ov") == 1)
        .select("term", "bucket", "term_bucket")
        .cache()
    )
    try:
        tbs = sorted(
            r.term_bucket
            for r in overlapping.select("term_bucket").distinct().collect()
        )
        if not tbs:
            return {"mode": "noop", "groups": 0, "rewritten_term_buckets": []}
        n_groups = overlapping.count()

        # 2. decode ONLY the overlapping groups, re-encode disjoint
        sub = blocks.where(F.col("term_bucket").isin(tbs))
        marked = sub.join(
            F.broadcast(overlapping.select("term", "bucket")).withColumn(
                "_redo", F.lit(True)
            ),
            ["term", "bucket"],
            "left",
        )
        keep = marked.where(F.col("_redo").isNull()).drop("_redo")
        redo = marked.where(F.col("_redo")).drop("_redo")
        # 3. re-encode them against the overlapping groups' terms only,
        # bucket-pruned to the rewritten term_buckets — O(touched), never
        # O(vocab) (see _delta_dictionary); each rewritten bucket lands as
        # ONE consolidated file (write_blocks' delta layout)
        write_blocks(
            index_path, plan, blocks_to_postings(redo),
            _delta_dictionary(
                IndexReader(spark, index_path).dictionary,
                overlapping.select("term"),
                set(tbs),
            ),
            cfg, replace=tbs, keep=keep,
        ).unpersist()
    finally:
        overlapping.unpersist()

    # the minor_compactions counter makes the pass observable
    inc = plan.setdefault("incremental", {"epochs": 1, "min_enc_avgdl": plan["avgdl"]})
    inc["minor_compactions"] = int(inc.get("minor_compactions", 0)) + 1
    commit_plan(index_path, plan)
    out = {
        "mode": "minor",
        "groups": int(n_groups),
        "rewritten_term_buckets": tbs,
    }
    # fold the positional stage into the same pass (VERDICT r4 item 4):
    # incremental epochs append per-bucket delta files to positions with
    # no rewrite path of their own — minor compaction is the natural
    # periodic hook
    if plan.get("positions"):
        out["positions"] = compact_positions(spark, index_path)
    return out


def compact_positions(
    spark: SparkSession,
    index_path: str,
    max_files_per_bucket: int = 4,
) -> dict:
    """Consolidate the positional stage's per-epoch delta files
    (VERDICT r4 item 4): incremental compactions APPEND one parquet file
    per term_bucket per epoch (streamed positional ingest), so many small
    waves accumulate unbounded small-file counts per bucket — a metadata/
    open-cost tax on every phrase scan. This pass rewrites ONLY the
    buckets whose file count exceeds ``max_files_per_bucket`` (one file
    per bucket afterwards, rows sorted by (term, doc_id) so parquet
    row-group min/max stats prune the reader's term IN-filters), carries
    every other bucket over byte-identical, and commits the new positions
    version with one plan.json rename (snapshot.py). Pure file
    consolidation: positional rows are one per (term, doc_id) with
    disjoint doc sets across epochs, so no merge logic is needed and
    phrase output is identical across the swap (gated in tests).

    Returns {mode, rewritten_term_buckets, max_files_seen}."""
    plan = snapshot.load(index_path, "plan.json")
    if not plan.get("positions"):
        return {"mode": "noop", "rewritten_term_buckets": [], "max_files_seen": 0}
    cur_dir = os.path.join(index_path, plan.get("positions_dir", "positions"))
    counts = bucket_file_counts(cur_dir)
    max_seen = max(counts.values(), default=0)
    crowded = sorted(b for b, c in counts.items() if c > max_files_per_bucket)
    if not crowded:
        return {
            "mode": "noop", "rewritten_term_buckets": [],
            "max_files_seen": max_seen,
        }
    # one shuffle keyed by term_bucket → exactly one file per rewritten
    # bucket, rows sorted for row-group pruning
    new_version(
        index_path, plan, "positions",
        spark.read.parquet(cur_dir)
        .where(F.col("term_bucket").isin(crowded))
        .repartition("term_bucket")
        .sortWithinPartitions("term", "doc_id"),
        "term_bucket", crowded,
    )
    commit_plan(index_path, plan)
    return {
        "mode": "positions",
        "rewritten_term_buckets": crowded,
        "max_files_seen": max_seen,
    }

