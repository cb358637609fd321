"""Independent reference results for the benchmark.

Everything here is computed from the generated text with numpy and the
standard library; nothing is imported from the engine. The semantics are
the engine's documented ones (README "Correctness gates", FIXTURES.md):

* tokens: lowercase, split on ``[^a-z0-9]+``, drop empty strings;
* indexable terms: the first 300 tokens, minus the 25 stopwords;
* BM25 with Lucene idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``, k1=1.2,
  b=0.75, avgdl over all documents, query-term multiplicity as a weight;
* scores rounded HALF_UP to 6 places on the shortest decimal form of the
  double (Spark's ``round``), ties broken by ``doc_id`` ascending;
* phrases: raw tokens (no stoplist) matched at consecutive positions of
  each document's first 300 tokens; the count is the number of starts;
* near duplicates: the distinct word 3-shingles of the first 300 raw
  tokens (documents with fewer than 3 tokens have none), exact set
  Jaccard over every document pair, cosine of raw vectors, and connected
  components by union-find, labelled by their smallest member.

``python3 benchmark/reference.py`` runs the self-test on a hand-checkable
corpus whose expected values are written out below.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

STOPWORDS = frozenset(
    (
        "a an and are as at be by for from has he in is it its of on that "
        "the to was were will with"
    ).split()
)
DOC_MAXLEN = 300
K1, B = 1.2, 0.75
_SPLIT = re.compile(r"[^a-z0-9]+")
_Q6 = Decimal("0.000001")


def tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def terms(text: str, maxlen: int | None = DOC_MAXLEN) -> list[str]:
    toks = tokens(text)
    if maxlen is not None:
        toks = toks[:maxlen]
    return [t for t in toks if t not in STOPWORDS]


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


class Corpus:
    """Inverted lists and per-document statistics of one document set."""

    def __init__(self, doc_ids, texts) -> None:
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.raw = [tokens(t)[:DOC_MAXLEN] for t in texts]
        self.text_bytes = sum(len(t.encode("utf-8")) for t in texts)
        n = self.n_docs = len(self.raw)
        flat = np.array([t for toks in self.raw for t in toks] or [""])[: sum(map(len, self.raw))]
        doc_of = np.repeat(np.arange(n), [len(toks) for toks in self.raw])
        vocab, tid = np.unique(flat, return_inverse=True)
        keep = ~np.isin(vocab, sorted(STOPWORDS))[tid]
        self.doclen = np.bincount(doc_of[keep], minlength=n)
        self.total_tokens = int(self.doclen.sum())
        self.avgdl = self.total_tokens / n if n else 0.0
        # one (term, doc) key per posting; counting equal keys gives tf
        key, tf = np.unique(tid[keep].astype(np.int64) * n + doc_of[keep], return_counts=True)
        term_of, doc = key // n if n else key, key % n if n else key
        cuts = np.flatnonzero(np.diff(term_of)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [key.size]))
        self.postings = {
            str(vocab[term_of[a]]): (doc[a:b], tf[a:b].astype(np.int64))
            for a, b in zip(starts.tolist(), ends.tolist())
            if b > a
        }
        self._knorm = K1 * (1 - B + B * self.doclen / self.avgdl) if n else self.doclen.astype(float)

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else int(p[0].size)

    def dictionary(self) -> dict[str, tuple[int, int]]:
        """term -> (df, cf)."""
        return {t: (int(ix.size), int(tf.sum())) for t, (ix, tf) in self.postings.items()}

    def idf(self, df: int) -> float:
        return math.log(1 + (self.n_docs - df + 0.5) / (df + 0.5))

    def topk(self, query: str, k: int = 10, conjunctive: bool = False) -> list[tuple[int, float]]:
        """Exhaustive top-k [(doc_id, rounded score)]."""
        qtf: dict[str, int] = {}
        for t in terms(query, None):
            qtf[t] = qtf.get(t, 0) + 1
        if not qtf:
            return []
        if conjunctive and any(t not in self.postings for t in qtf):
            return []
        score = np.zeros(self.n_docs, dtype=np.float64)
        hits = np.zeros(self.n_docs, dtype=np.int64)
        for t in sorted(qtf):
            if t not in self.postings:
                continue
            ix, tf = self.postings[t]
            w = qtf[t] * self.idf(ix.size)
            score[ix] += w * tf * (K1 + 1) / (tf + self._knorm[ix])
            hits[ix] += 1
        cand = np.flatnonzero(hits == len(qtf) if conjunctive else hits > 0)
        if cand.size > k:
            # rounding to 6 places moves a score by at most 5e-7, so only docs
            # within 1e-6 of the k-th best raw score can reach the rounded top k
            kth = np.partition(score[cand], cand.size - k)[cand.size - k]
            cand = cand[score[cand] >= kth - 1e-6]
        r6 = np.array([round6(s) for s in score[cand]])
        ids = self.doc_ids[cand]
        order = np.lexsort((ids, -r6))[:k]
        return [(int(ids[j]), float(r6[j])) for j in order]

    def phrase_counts(self, phrase: str) -> dict[int, int]:
        """doc_id -> number of start positions matching the phrase."""
        ptoks = tokens(phrase)
        if not ptoks:
            return {}
        # candidate docs hold every indexable phrase term; a phrase made of
        # stopwords alone is scanned against every document
        cand = None
        for t in set(ptoks) - STOPWORDS:
            ix = set(self.postings[t][0].tolist()) if t in self.postings else set()
            cand = ix if cand is None else cand & ix
        L = len(ptoks)
        out: dict[int, int] = {}
        for i in sorted(cand) if cand is not None else range(self.n_docs):
            toks = self.raw[i]
            n = sum(1 for s in range(len(toks) - L + 1) if toks[s : s + L] == ptoks)
            if n:
                out[int(self.doc_ids[i])] = n
        return out


def shingles(text: str, n: int = 3) -> frozenset[str]:
    toks = tokens(text)[:DOC_MAXLEN]
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def jaccard_pairs(docs: dict[int, str], threshold: float, n: int = 3) -> dict[tuple[int, int], float]:
    """Every pair (a < b) whose exact n-shingle Jaccard is at least
    ``threshold``, with its rounded Jaccard. All pairs are compared; an
    inverted shingle index only skips pairs that share no shingle."""
    sh = {d: shingles(t, n) for d, t in docs.items()}
    by_shingle: dict[str, list[int]] = {}
    for d in sorted(sh):
        for g in sh[d]:
            by_shingle.setdefault(g, []).append(d)
    cand = {(a, b) for ds in by_shingle.values() for i, a in enumerate(ds) for b in ds[i + 1 :]}
    out = {}
    for a, b in sorted(cand):
        j = jaccard(sh[a], sh[b])
        if j >= threshold:
            out[(a, b)] = round6(j)
    return out


def cosine(u, v) -> float:
    u, v = np.asarray(u, dtype=np.float64), np.asarray(v, dtype=np.float64)
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))


def components(nodes, edges) -> dict[int, int]:
    """node -> smallest node of its connected component (union-find)."""
    parent = {int(x): int(x) for x in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], tol: float = 2e-6) -> bool:
    """Rank lists agree: equal length and, rank by rank, the same doc and
    score. Float summation order may differ between the engine and the
    reference by a few ulps, which can move a score across a 6-place
    rounding boundary; such docs may trade places only when their reference
    scores tie within ``tol``."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
        if gd != wd:
            wscore = dict(want)
            if gd not in wscore and not (abs(gs - want[-1][1]) <= tol):
                return False
            if gd in wscore and abs(wscore[gd] - ws) > tol:
                return False
    return True


# ---------------------------------------------------------------------------
# self-test on a hand-checkable corpus
# ---------------------------------------------------------------------------

_DOCS = [
    (0, "cat dog"),
    (1, "Cat cat, fish!"),
    (2, "dog bird bird bird"),
    (3, "the a of"),
    (4, "fish cat dog bird fish"),
]
# N=5, doclens [2, 3, 4, 0, 5], avgdl = 14/5 = 2.8
# df: cat 3, dog 3, fish 2, bird 2
# idf(df=3) = ln(1 + 2.5/3.5) = 0.5389965007326871
# idf(df=2) = ln(1 + 3.5/2.5) = 0.8754687373538999
_EXPECTED_TOPK = {
    # K(d) = 1.2 * (0.25 + 0.75 * dl / 2.8); s = idf * tf * 2.2 / (tf + K)
    # cat: doc1 tf2 dl3 -> 0.726525, doc0 tf1 dl2 -> 0.610334,
    #      doc4 tf1 dl5 -> 0.407889
    # fish: doc1 tf1 dl3 -> 0.850613, doc4 tf2 dl5 -> 0.985903
    ("cat", False): [(1, 0.726525), (0, 0.610334), (4, 0.407889)],
    ("cat fish", False): [(1, 1.577138), (4, 1.393792), (0, 0.610334)],
    ("cat fish", True): [(1, 1.577138), (4, 1.393792)],
    ("penguin cat", True): [],
    ("the of", False): [],
}
_EXPECTED_PHRASES = {"cat dog": {0: 1, 4: 1}, "bird bird": {2: 2}, "the a": {3: 1}, "dog cat": {}}


_DUP_DOCS = {
    10: "a b c d",  # shingles {a b c, b c d}
    11: "A b c, e",  # shingles {a b c, b c e}: Jaccard with 10 = 1/3
    12: "a b c d a b c d",  # {a b c, b c d, c d a, d a b}: with 10 = 2/4
    13: "x y",  # fewer than 3 tokens: no shingles
}
_EXPECTED_JACCARD = {0.2: {(10, 11): 0.333333, (10, 12): 0.5, (11, 12): 0.2}, 0.5: {(10, 12): 0.5}}
_EXPECTED_COMPONENTS = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}  # edges 3-2, 2-1, 6-5


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(f"reference self-test: {what}")


def self_test() -> None:
    c = Corpus([d for d, _ in _DOCS], [t for _, t in _DOCS])
    _check((c.n_docs, c.total_tokens) == (5, 14), f"n_docs, total_tokens = {c.n_docs}, {c.total_tokens}")
    dic = c.dictionary()
    _check(dic == {"cat": (3, 4), "dog": (3, 3), "fish": (2, 3), "bird": (2, 4)}, f"dictionary {dic}")
    _check(abs(c.idf(3) - 0.5389965007326871) < 1e-15, "idf(3)")
    for (q, conj), want in _EXPECTED_TOPK.items():
        got = c.topk(q, 10, conj)
        _check(same_topk(got, want, tol=0.0), f"topk({q!r}, conj={conj}) = {got}, want {want}")
    for p, want in _EXPECTED_PHRASES.items():
        got = c.phrase_counts(p)
        _check(got == want, f"phrase {p!r} = {got}, want {want}")
    _check(terms("AAA the 9x-Y") == ["aaa", "9x", "y"], "tokenizer")
    _check(round6(1.5000015) == 1.500002 and round6(0.0000005) == 0.000001, "round6")
    _check(same_topk([(2, 1.0), (1, 1.0)], [(1, 1.0), (2, 1.0)]), "tie swap accepted")
    _check(not same_topk([(3, 1.0)], [(1, 1.0), (2, 0.5)]), "length mismatch refused")
    _check(shingles("x y") == frozenset(), "short document has no shingles")
    for th, want in _EXPECTED_JACCARD.items():
        got = jaccard_pairs(_DUP_DOCS, th)
        _check(got == want, f"jaccard_pairs(threshold={th}) = {got}, want {want}")
    _check(round6(cosine([1, 0], [1, 1])) == 0.707107 and cosine([2, 0], [-1, 0]) == -1.0, "cosine")
    got = components(range(1, 8), [(3, 2), (2, 1), (6, 5)])
    _check(got == _EXPECTED_COMPONENTS, f"components = {got}")


if __name__ == "__main__":
    self_test()
    print("reference self-test passed")
