"""Posting-block codec: delta + varint packed (docid_gap, tf, doclen) runs.

The engine's C-layer (SURVEY.md §2.5) — the capability analogue of the
reference's residual codec, which quantizes embeddings and bit-packs them
into UInt8 matrices (reference src/indexing/codecs/residual.jl:518-604
``binarize``/``compress``, 698-784 ``decompress_residuals``/``decompress``).
Here the "quantize + bit-pack into bytes" capability is re-grounded as
d-gap delta encoding + LEB128 varints over posting runs:

    encode: sorted docids → gaps; interleave (gap, tf, doclen); varint-pack
    decode: exact inverse (decode ∘ encode == id — the same round-trip
            invariant the reference pins for _packbits/_binarize,
            reference test/indexing/codecs/residual.jl:154-161, 844-850)

``doclen`` rides inside the block so BM25 scoring needs NO doc-side join at
query time — the analogue of the reference persisting doclens next to the
compressed embeddings (reference src/savers.jl:64-68), denormalized into
the block for single-pass scoring at 10^12-doc scale.

All functions are numpy-vectorized (no per-element Python loops over
postings; the only loop is over the ≤10 varint byte positions) so they run
at Arrow-batch speed inside Python UDFs; ``encode_blocks`` packs every
block of an Arrow batch in one pass (operators/codec_blocks.py).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 63 bits / 7


def varint_pack(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of a uint64 array (uint8 array) plus each value's byte
    count. Vectorized: loops over the ≤10 byte slots, not over values."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for j in range(1, _MAX_VARINT_BYTES):
        wide = v >= np.uint64(1 << (7 * j))
        if not wide.any():
            break
        nbytes += wide
    val_idx = np.repeat(np.arange(v.size), nbytes)
    within = np.arange(val_idx.size) - (np.cumsum(nbytes) - nbytes)[val_idx]
    out = (
        (v[val_idx] >> (np.uint64(7) * within.astype(np.uint64))) & np.uint64(0x7F)
    ).astype(np.uint8)
    # continuation bit on every byte except the last of each value
    out[within < nbytes[val_idx] - 1] |= 0x80
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return varint_pack(values)[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode → uint64 array."""
    data = np.frombuffer(buf, dtype=np.uint8)
    if data.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (data & 0x80) == 0
    n = int(is_last.sum())
    # value id per byte: 0-based index of the value this byte belongs to
    val_id = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.flatnonzero(is_last)[:-1] + 1
    within = np.arange(data.size) - starts[val_id]
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(
        out,
        val_id,
        (data & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64)),
    )
    return out


def encode_block(docids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray) -> bytes:
    """Pack one posting block. docids must be strictly increasing.

    Layout: varint stream of interleaved (gap, tf, doclen) where
    gap[0] = docids[0] (absolute), gap[i] = docids[i] - docids[i-1].
    """
    d = np.asarray(docids, dtype=np.uint64)
    if d.size == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    gaps[1:] = d[1:] - d[:-1]
    inter = np.empty(d.size * 3, dtype=np.uint64)
    inter[0::3] = gaps
    inter[1::3] = np.asarray(tfs, dtype=np.uint64)
    inter[2::3] = np.asarray(doclens, dtype=np.uint64)
    return varint_encode(inter)


def encode_blocks(
    docids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """encode_block over many blocks in one vectorized pass.

    ``starts`` holds the ascending first-row index of every block
    (``starts[0] == 0``); docids increase strictly within a block. Returns
    ``(data, offsets)``: block i is ``data[offsets[i]:offsets[i + 1]]``,
    byte-identical to ``encode_block`` of its rows — each block's first
    gap is re-anchored to its absolute docid."""
    d = np.asarray(docids, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    gaps = np.empty_like(d)
    gaps[1:] = d[1:] - d[:-1]  # wraps across block starts; overwritten next
    gaps[starts] = d[starts]
    inter = np.empty(d.size * 3, dtype=np.uint64)
    inter[0::3] = gaps
    inter[1::3] = np.asarray(tfs, dtype=np.uint64)
    inter[2::3] = np.asarray(doclens, dtype=np.uint64)
    data, nbytes = varint_pack(inter)
    value_offsets = np.concatenate(([0], np.cumsum(nbytes)))
    return data, value_offsets[np.append(3 * starts, inter.size)]


def decode_block(buf: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_block → (docids int64, tfs int64, doclens int64)."""
    inter = varint_decode(buf)
    if inter.size == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty.copy(), empty.copy()
    gaps = inter[0::3].astype(np.int64)
    tfs = inter[1::3].astype(np.int64)
    doclens = inter[2::3].astype(np.int64)
    docids = np.cumsum(gaps)
    return docids, tfs, doclens


def bm25_idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    """Lucene-form idf — MUST match operators/bm25.idf_col digit for digit."""
    return np.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5))


def bm25_partial(
    tf: np.ndarray, doclen: np.ndarray, idf: float, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Per-(term, doc) BM25 partial — same expression as the oracle
    (operators/bm25.bm25_scores): idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl))."""
    tf = tf.astype(np.float64)
    k_norm = k1 * (1.0 - b + b * doclen.astype(np.float64) / float(avgdl))
    return idf * (tf * (k1 + 1.0)) / (tf + k_norm)


def block_max_score(
    tfs: np.ndarray, doclens: np.ndarray, idf: float, avgdl: float, k1: float, b: float
) -> float:
    """Exact per-block score upper bound: max over the block's (tf, doclen)
    pairs of the true partial — the block-max metadata for WAND (the
    capability analogue of the reference's per-chunk metadata,
    reference src/savers.jl:74-84)."""
    if len(tfs) == 0:
        return 0.0
    return float(np.max(bm25_partial(np.asarray(tfs), np.asarray(doclens), idf, avgdl, k1, b)))
