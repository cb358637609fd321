"""Positional phrase matching: hand-computed fixtures (overlapping
occurrences, repeated-term phrases, stopword slots, truncation) + the
structural guarantee that the phrase side broadcasts."""

from __future__ import annotations

from pyspark.sql import functions as F

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.operators.phrase import phrase_matches, token_positions


def _as_dict(df):
    return {(r.pid, r.doc_id): r.n_occurrences for r in df.collect()}


def _on_driver(df) -> bool:
    """True iff ``df`` is driver-computed rows (the driver executor)."""
    return df._jdf.queryExecution().executedPlan().toString().startswith(
        "LocalTableScan"
    )


def test_phrase_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b a"),          # "a b a" occurs at 0 and 2 (overlap)
            (1, "big big data now"),   # repeated-term phrase
            (2, "big data now"),       # "big big data" must NOT match
            (3, "the cat sat"),        # stopword keeps its position slot
            (4, "cat the sat"),        # same words, wrong order
        ],
        "doc_id long, text string",
    )
    got = _as_dict(
        phrase_matches(
            docs,
            [(0, "a b a"), (1, "big big data"), (2, "the cat"), (3, "sat cat")],
        )
    )
    assert got == {
        (0, 0): 2,   # overlapping occurrences both count
        (1, 1): 1,   # repeated term needs two distinct positions
        (2, 3): 1,   # "the cat" matches only where "the" precedes "cat"
    }


def test_phrase_respects_doc_maxlen_truncation(spark):
    docs = spark.createDataFrame(
        [(0, "x y " + "pad " * 10 + "x y")], "doc_id long, text string"
    )
    cfg = EngineConfig(doc_maxlen=4)  # truncates before the second "x y"
    got = _as_dict(phrase_matches(docs, [(0, "x y")], cfg))
    assert got == {(0, 0): 1}


def test_token_positions_are_zero_based_raw(spark):
    docs = spark.createDataFrame([(7, "The quick the")], "doc_id long, text string")
    rows = sorted(
        (r.pos, r.term) for r in token_positions(docs).collect()
    )
    # raw stream: lowercased, stopwords KEPT, 0-based consecutive positions
    assert rows == [(0, "the"), (1, "quick"), (2, "the")]


def test_phrase_side_never_shuffles_corpus(spark, docs001):
    """The phrase side must never force a shuffle of the positional
    stream. r7: for interactive phrase sets (≤32 distinct terms) the
    phrase side is compiled as a literal map expression (a Generate node,
    no join operator at all — and no broadcast-build job); bulk sets fall
    back to a broadcast hash join. Either way: no SortMerge/ShuffledHash
    join."""
    plan = phrase_matches(
        docs001, [(0, "data table")],
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # interactive path: literal map attach, no join and no broadcast
    assert "Generate explode(map(" in plan, plan
    assert "BroadcastHashJoin" not in plan


def test_phrase_matching_is_single_shuffle(spark, docs001):
    """The matching core groups candidates ONCE (run-length aggregate over
    sorted starts replaces the per-start count + per-doc count pair) — at
    corpus scale the second exchange of the same candidate rows was pure
    waste. Exactly one hash-partitioned Exchange in the DAG (the
    broadcast exchange of the phrase side doesn't count)."""
    spark.catalog.clearCache()
    plan = phrase_matches(
        docs001, [(0, "data table"), (1, "big big data")],
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_persisted_phrase_index_matches_inline_and_prunes(
    spark, docs01, tmp_path
):
    """VERDICT r3 item 1: phrase queries served from the persisted
    positions stage must be output-identical to the inline operator, and
    the query DAG must scan the positions table (term-pruned) — NOT the
    corpus (the round-3 shape re-tokenized every doc per phrase query)."""
    import os

    import pytest

    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

    cfg = EngineConfig(block_size=32, min_bucket_docs=64)
    idx = str(tmp_path / "idx")
    builder = IndexBuilder(idx, cfg)
    builder.build(docs01)
    builder.build_positions(docs01)

    reader = IndexReader(spark, idx)
    phrases = [
        (0, "fast table"), (1, "table table"), (2, "the data"),
        (3, "zzzmissing phrase"),
    ]
    got = _as_dict(reader.phrase(phrases))
    want = _as_dict(phrase_matches(docs01, phrases, cfg))
    assert got == want
    assert got, "fixture phrases must produce matches"

    # plan gate: the DAG reads the pruned positions table, never the docs
    spark.catalog.clearCache()
    plan = (
        reader.phrase(phrases)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "positions" in plan, plan
    assert "documents" not in plan, "corpus parquet must not be scanned"
    assert "In(term" in plan or "term#" in plan and "PushedFilters" in plan
    assert "term_bucket" in plan  # directory pruning reached the scan

    # the stage is resumable (second call is a no-op)...
    stamp = os.path.getmtime(os.path.join(idx, "positions"))
    builder.build_positions(docs01)
    assert os.path.getmtime(os.path.join(idx, "positions")) == stamp

    # ...and an index built WITHOUT it fails loudly, naming both fixes
    idx2 = str(tmp_path / "idx2")
    IndexBuilder(idx2, cfg).build(docs01)
    with pytest.raises(RuntimeError, match="positions stage"):
        IndexReader(spark, idx2).phrase(phrases)

    # driver-side latency mode: output-identical to the distributed path
    local = reader.phrase_local(phrases[:2] + phrases[3:])  # no stopword
    assert _on_driver(local)
    assert _as_dict(local) == {k: v for k, v in want.items() if k[0] != 2}

    # stopword-bearing phrases run the distributed executor (their
    # positions volume is invisible to the dictionary-df size guard), as
    # do head phrases over the size threshold — outputs stay identical
    routed = reader.phrase_local(phrases)
    assert not _on_driver(routed), "stopword phrase must fall back"
    assert _as_dict(routed) == want
    reader.max_local_postings = 1
    routed = reader.phrase_local([(0, "fast table")])
    assert not _on_driver(routed), "over-threshold phrase must fall back"
    assert _as_dict(routed) == {k: v for k, v in want.items() if k[0] == 0}

    # a phrase set above max_inlist_terms: the positions scan is cut by a
    # broadcast semi-join instead of a giant In(term, …) list, and the
    # phrase side broadcasts — same output
    reader.max_inlist_terms = 2
    spark.catalog.clearCache()
    bulk = reader.phrase(phrases)
    plan = bulk._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "In(term," not in plan, plan
    assert _as_dict(bulk) == want


def test_phrase_anchor_prunes_by_rarest_term(spark, tmp_path):
    """VERDICT r4 item 3: a phrase containing a head term must not move
    the head term's corpus-scale positions through the candidate shuffle
    — the matching core semi-joins candidate starts against the RAREST
    indexable term's doc set (broadcast, map-side) first. Zipfian
    fixture: "common" is in every doc, "zebra" in 3 — the row-count gate
    asserts the head term's surviving candidate rows are bounded by the
    rare term's df, and the output stays identical to the unpruned
    executor (including unanchorable phrases riding the same call)."""
    import os

    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

    rows = [(i, f"common filler{i} w{i % 7}", "en") for i in range(200)]
    rows += [(200 + j, "common zebra here", "en") for j in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cfg = EngineConfig(block_size=32)
    idx = str(tmp_path / "idx")
    builder = IndexBuilder(idx, cfg)
    builder.build(docs)
    builder.build_positions(docs)
    reader = IndexReader(spark, idx)

    phrases = [
        (0, "common zebra"),     # anchored by "zebra" (df=3)
        (1, "the common"),       # stopword + head term: anchored by "common"
        (2, "zebra zebra"),      # single distinct term: unanchorable
        (3, "common qqqabsent"), # df=0 anchor → provably unmatchable
    ]
    # benefit gate: with the default candidate-volume floor, the small
    # all-indexable phrase 0 skips the anchor subtree (pure latency tax
    # at this Σdf); the stopword-bearing phrase 1 and the df=0 phrase 3
    # anchor regardless (their volume is invisible / the kill is free)
    pos = reader._stage_df("positions_dir", "positions")
    gated = reader._phrase_plan(phrases, sized=False).anchor()
    assert gated is not None and gated[1] == [1, 3]

    # force-anchor everything estimable for the pruning assertions below
    reader.anchor_min_candidate_postings = 0
    anchor = reader._phrase_plan(phrases, sized=False).anchor()
    assert anchor is not None
    anchor_docs, anchored_pids, all_anchored = anchor
    assert anchored_pids == [0, 1, 3] and not all_anchored
    per_pid = {
        p: n for p, n in anchor_docs.groupBy("pid").count().collect()
    }
    assert per_pid[0] == 3            # zebra's doc set, not common's
    assert per_pid[1] == 203          # "the" never anchors (stoplisted)
    assert 3 not in per_pid           # df=0 anchor: empty doc set

    # row-count gate: the head term's candidate rows surviving pid 0's
    # semi-join are bounded by the RARE term's df (3 docs × 1 occurrence)
    head = pos.where(F.col("term") == "common").select(
        "doc_id", F.explode("positions").alias("pos")
    )
    assert head.count() == 203
    survivors = head.join(
        anchor_docs.where(F.col("pid") == 0).select("doc_id"),
        "doc_id",
        "leftsemi",
    ).count()
    assert survivors == 3

    # output identity: pruned serving == inline oracle == unpruned core
    got = _as_dict(reader.phrase(phrases))
    want = _as_dict(phrase_matches(docs, phrases, cfg))
    assert got == want == {(0, 200): 1, (0, 201): 1, (0, 202): 1}
    from colbert_jl_spark.operators.phrase import (
        phrase_matches_from_positions,
        phrase_term_rows,
    )

    terms = sorted({t for _, tx in phrases for t in tx.split()})
    unpruned = _as_dict(
        phrase_matches_from_positions(
            pos.where(F.col("term").isin(terms)), phrase_term_rows(phrases)
        )
    )
    assert unpruned == want

    # plan shape: the anchored DAG still has exactly ONE hash Exchange
    # (the anchor doc set rides a broadcast, not a shuffle)
    spark.catalog.clearCache()
    plan = (
        reader.phrase([(0, "common zebra")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
