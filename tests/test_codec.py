"""Codec round-trip properties — mirror of the reference's codec invariants
(_unbinarize∘_binarize = id, _unpackbits∘_packbits = id;
reference test/indexing/codecs/residual.jl:154-161, 844-850, 975-991)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.functions.codec import (
    block_max_score,
    bm25_idf,
    bm25_partial,
    decode_block,
    encode_block,
    encode_blocks,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


def test_varint_boundaries():
    # every power-of-128 boundary where byte count changes
    vals = []
    for j in range(9):
        for d in (-1, 0, 1):
            v = 128**j + d
            if 0 <= v < 2**63:
                vals.append(v)
    arr = np.array(sorted(set(vals)), dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == arr.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),  # docid gap
            st.integers(min_value=1, max_value=255),     # tf
            st.integers(min_value=0, max_value=300),     # doclen
        ),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_block_roundtrip(run):
    # strictly increasing docids from gaps (FIXTURES.md §5 property input)
    gaps = np.array([g for g, _, _ in run], dtype=np.int64)
    docids = np.cumsum(gaps)
    tfs = np.array([t for _, t, _ in run], dtype=np.int64)
    dls = np.array([d for _, _, d in run], dtype=np.int64)
    d2, t2, l2 = decode_block(encode_block(docids, tfs, dls))
    assert d2.tolist() == docids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),  # docid gap
            st.integers(min_value=1, max_value=255),     # tf
            st.integers(min_value=0, max_value=300),     # doclen
            st.booleans(),                               # starts a block
        ),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_encode_blocks_matches_encode_block(run):
    """The segmented batch encoder cuts into exactly encode_block's bytes
    per block, whatever the preceding block's last docid was."""
    docids = np.cumsum([g for g, _, _, _ in run])
    tfs = np.array([t for _, t, _, _ in run], dtype=np.int64)
    dls = np.array([d for _, _, d, _ in run], dtype=np.int64)
    starts = np.flatnonzero([i == 0 or s for i, (_, _, _, s) in enumerate(run)])
    data, offsets = encode_blocks(docids, tfs, dls, starts)
    ends = np.append(starts[1:], len(run))
    for i, (s, e) in enumerate(zip(starts, ends)):
        got = data[offsets[i] : offsets[i + 1]].tobytes()
        assert got == encode_block(docids[s:e], tfs[s:e], dls[s:e])


def test_empty_block():
    d, t, l = decode_block(b"")
    assert len(d) == len(t) == len(l) == 0
    assert encode_block(np.array([]), np.array([]), np.array([])) == b""


def test_block_max_score_is_true_upper_bound():
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, size=128)
    dls = rng.integers(1, 300, size=128)
    idf, avgdl, k1, b = 2.5, 60.0, 1.2, 0.75
    partials = bm25_partial(tfs, dls, idf, avgdl, k1, b)
    mx = block_max_score(tfs, dls, idf, avgdl, k1, b)
    assert mx == pytest.approx(partials.max())
    assert (partials <= mx + 1e-12).all()


def test_block_encoder_matches_per_block_reference(spark):
    """The mapInArrow encoder (operators/codec_blocks.posting_blocks) ==
    a per-block reference built from encode_block and block_max_score,
    row for row, payload bytes included. Batches of a small prime size
    make groups and blocks straddle batch boundaries: the fixture holds a
    group exactly block_size long, one of block_size + 1, and one spanning
    many batches, over several doc-range buckets."""
    from colbert_jl_spark.operators.codec_blocks import posting_blocks

    bs, bucket_size, n_docs, avgdl = 8, 50, 200, 20.0
    rng = np.random.default_rng(5)
    runs = {  # term -> doc_ids
        "exact": np.arange(8) * 3,  # one block, exactly full
        "plus1": np.arange(9) * 5,  # full block + 1-row tail
        "head": np.arange(0, 200, 2),  # 25 rows/bucket: spans >= 3 batches
        "single": np.array([77]),
    }
    for j in range(30):
        runs[f"t{j}"] = np.sort(rng.choice(n_docs, rng.integers(1, 40), replace=False))
    rows = [
        (t, int(d), int(rng.integers(1, 6)), int(rng.integers(1, 60)))
        for t, ds in runs.items()
        for d in ds
    ]
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long, doclen int")
    df = {t: len(ds) for t, ds in runs.items()}
    dictionary = spark.createDataFrame(list(df.items()), "term string, df long")
    cfg = EngineConfig(block_size=bs)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = posting_blocks(
            postings, dictionary, n_docs, avgdl, cfg, bucket_size=bucket_size, salt=0
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    want = {}  # (term, bucket, block_id) -> (df, first, last, n, max_tf_norm, payload)
    by_group: dict = {}
    for t, d, tf, dl in rows:
        by_group.setdefault((t, d // bucket_size), []).append((d, tf, dl))
    for (t, bucket), posts in by_group.items():
        posts.sort()
        for block_id, i in enumerate(range(0, len(posts), bs)):
            d, tf, dl = (np.array(c, dtype=np.int64) for c in zip(*posts[i : i + bs]))
            want[(t, bucket, block_id)] = (
                df[t], int(d[0]), int(d[-1]), len(d),
                block_max_score(tf, dl, 1.0, avgdl, cfg.k1, cfg.b),
                encode_block(d, tf, dl),
            )
    assert max(len(p) for p in by_group.values()) >= 3 * 7
    assert bs in {len(p) for p in by_group.values()}
    assert len(got) == len(want)
    got_rows = {(r.term, r.bucket, r.block_id): r for r in got}
    assert got_rows.keys() == want.keys()
    for key, r in got_rows.items():
        w_df, first, last, n, max_tf_norm, payload = want[key]
        assert (r.df, r.first_docid, r.last_docid, r.n_docs, bytes(r.payload)) == (
            w_df, first, last, n, payload,
        ), key
        assert r.idf == pytest.approx(bm25_idf(r.df, n_docs), rel=1e-15)
        # idf times the exact idf-free block max, as the encoder stores it
        assert r.max_score == r.idf * max_tf_norm, key
