"""Seeded inputs of the two workloads: pages, query streams and the small
write-path input of the traced run.

Text is shaped as in FIXTURES.md §1, over a smaller vocabulary: Zipf(s=1.07)
over the closed 1,000-term vocabulary ``w0..w999``, lognormal lengths (mean about 60 content tokens)
clamped to [1, 300], about 1% of pages carrying a unique ``needle{i}``
marker. Stopwords are mixed in at 15% of positions, so the raw token stream
of a long page runs past the 300-token truncation point. The ``build``
workload replaces 8% of the content tokens by an open vocabulary
(``x{k}``, k drawn from an unbounded Zipf law): new terms keep arriving as
the corpus grows, as in web text (Heaps' law), so encoder groups grow with
it.
"""

from __future__ import annotations

import numpy as np

from reference import STOPWORDS, Corpus

HEAD_VOCAB = 1000
ZIPF_S = 1.07
SIZES = {
    # docs, share of content tokens from the open vocabulary
    "serve": (4_000, 0.0),
    "build": (800, 0.08),
}
_STOP = sorted(STOPWORDS)
_WORKLOAD_STREAM = {"serve": 1, "build": 2, "write": 3}
WRITE_DOCS = 180  # originals; each planted near-duplicate adds one more
WRITE_PLANTED = 20
EMB_DIM = 64
MARKER = "freshmarker"


def make_texts(workload: str, seed: int) -> list[str]:
    n_docs, open_share = SIZES[workload]
    rng = np.random.default_rng([seed, _WORKLOAD_STREAM[workload], 0])
    p = np.arange(1, HEAD_VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    lens = np.clip(np.round(rng.lognormal(np.log(60), 0.6, n_docs)).astype(np.int64), 1, 300)
    total = int(lens.sum())
    words = np.char.add("w", rng.choice(HEAD_VOCAB, size=total, p=p).astype(str))
    if open_share:
        opened = rng.random(total) < open_share
        words[opened] = np.char.add("x", rng.zipf(1.3, size=int(opened.sum())).astype(str))
    stop_at = rng.random(total) < 0.15
    words[stop_at] = np.asarray(_STOP)[rng.integers(0, len(_STOP), int(stop_at.sum()))]
    needles = set(rng.choice(n_docs, size=max(1, n_docs // 100), replace=False).tolist())
    off = np.concatenate(([0], np.cumsum(lens)))
    texts = []
    for i in range(n_docs):
        body = " ".join(words[off[i] : off[i + 1]].tolist())
        if i in needles:
            body += f" needle{i}"
        texts.append(body[:1].upper() + body[1:] + ".")
    return texts


class WriteInputs:
    """Small seeded input of the traced run's write-path phase.

    ``texts``: ``WRITE_DOCS`` pages shaped as the ``serve`` corpus (at least
    40 content tokens each), then ``WRITE_PLANTED`` near-copies of distinct
    originals with one middle token replaced by a fresh word, so each
    planted pair's 3-shingle Jaccard is above 0.85. One original that is
    not a copy source carries ``MARKER``. ``vectors``: one ``EMB_DIM``
    Gaussian vector per page, and for each planted pair a second vector
    that is the first plus 5% noise (cosine about 0.999)."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, _WORKLOAD_STREAM["write"], 0])
        p = np.arange(1, HEAD_VOCAB + 1, dtype=np.float64) ** -ZIPF_S
        p /= p.sum()
        lens = np.clip(np.round(rng.lognormal(np.log(70), 0.4, WRITE_DOCS)).astype(np.int64), 40, 200)
        docs = [
            [f"w{j}" for j in rng.choice(HEAD_VOCAB, size=int(n), p=p)] for n in lens
        ]
        sources = rng.choice(WRITE_DOCS, size=WRITE_PLANTED + 1, replace=False).tolist()
        marker_doc, sources = sources[0], sorted(sources[1:])
        docs[marker_doc].append(MARKER)
        self.planted = []
        for k, src in enumerate(sources):
            copy = list(docs[src])
            copy[len(copy) // 2] = f"edit{k}"
            self.planted.append((src, len(docs)))
            docs.append(copy)
        self.texts = [" ".join(d) + "." for d in docs]
        self.marker_doc = marker_doc
        n = len(self.texts)
        vecs = rng.standard_normal((n, EMB_DIM))
        for a, b in self.planted:
            vecs[b] = vecs[a] + 0.05 * rng.standard_normal(EMB_DIM)
        self.vectors = vecs.astype(np.float32)


def pages_frame(texts: list[str]):
    """The ``input_hint`` pages table (url, warc_ts, html, text, lang); the
    url carries the doc id, the html is the fixed FIXTURES.md template."""
    import pandas as pd

    n = len(texts)
    ids = np.arange(n)
    return pd.DataFrame(
        {
            "url": [f"https://example.org/doc/{i:08d}" for i in ids],
            "warc_ts": (pd.Timestamp("2024-10-22", tz="UTC") + pd.to_timedelta(ids, unit="s")).astype("datetime64[us, UTC]"),
            "html": [
                f"<html><head><title>t{i}</title></head><body><p>{t}</p></body></html>".encode()
                for i, t in zip(ids, texts)
            ],
            "text": texts,
            "lang": ["en" if i % 50 else "de" for i in ids],
        }
    )


class QueryStream:
    """Fresh queries of fixed shapes, drawn from the corpus' df ranking.

    Shapes: ``head`` (two of the 30 most frequent terms and a mid term of
    df rank 100-500), ``mid`` (two mid terms), ``tail`` (a mid term and a
    needle or a term of df rank 800 or more) and ``unseen``
    (a term absent from the corpus, a mid and a head term). Draws are
    fresh, so most queries carry terms the reader has not looked up yet.
    Phrases are 2 or 3 consecutive raw tokens of a random page."""

    SHAPES = ("head", "mid", "tail", "unseen")

    def __init__(self, corpus: Corpus, seed: int, workload: str) -> None:
        self.rng = np.random.default_rng([seed, _WORKLOAD_STREAM[workload], 1])
        self.corpus = corpus
        ranked = sorted(corpus.postings, key=lambda t: (-corpus.df(t), t))
        self.head = ranked[:30]
        self.mid = ranked[100:500]
        self.tail = ranked[800:]
        self.needles = [t for t in ranked if t.startswith("needle")]
        self._absent = 0

    def _pick(self, pool: list[str], n: int = 1) -> list[str]:
        return [pool[j] for j in self.rng.choice(len(pool), size=n, replace=False)]

    def query(self, shape: str) -> str:
        if shape == "head":
            ts = self._pick(self.head, 2) + self._pick(self.mid)
        elif shape == "mid":
            ts = self._pick(self.mid, 2)
        elif shape == "tail":
            rare = self.needles if self.rng.random() < 0.5 and self.needles else self.tail
            ts = self._pick(self.mid) + self._pick(rare)
        else:
            self._absent += 1
            ts = [f"zq{self.rng.integers(1 << 30)}n{self._absent}"] + self._pick(self.mid) + self._pick(self.head)
        return " ".join(ts)

    def phrase(self, length: int) -> str:
        while True:
            toks = self.corpus.raw[int(self.rng.integers(self.corpus.n_docs))]
            if len(toks) >= length and set(toks) - STOPWORDS:
                s = int(self.rng.integers(len(toks) - length + 1))
                words = toks[s : s + length]
                if set(words) - STOPWORDS:
                    return " ".join(words)

    def batch(self, n: int) -> list[str]:
        return [self.query(self.SHAPES[i % len(self.SHAPES)]) for i in range(n)]

