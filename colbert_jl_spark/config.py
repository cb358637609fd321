"""Engine configuration.

Analogue of the reference's ``ColBERTConfig`` immutable kwdef struct
(reference src/infra/config.jl:54-90): a plain dataclass persisted as JSON
next to the index (reference src/savers.jl:110-121 ``save(config)``),
re-loaded by the searcher (reference src/loaders.jl:66-74).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field


# Frozen stopword list — analogue of the reference's punctuation skiplist
# built at reference src/indexing.jl:30-34 and applied by mask_skiplist!
# (reference src/modelling/embedding_utils.jl:172-177). Must stay in lockstep
# with the oracle SQL (__spark_entry__.oracle_sql) — both sides filter the
# exact same set.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
)

# Tokenizer split pattern (applied to lowercased text). ASCII-alphanumeric
# runs only, so the DuckDB oracle can reproduce it byte-for-byte with
# string_split_regex — analogue of the WordPiece step P1
# (reference src/modelling/tokenization/tokenizer_utils.jl:82-100), frozen
# like the reference freezes its tokenizer vocabulary.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


@dataclass(frozen=True)
class EngineConfig:
    """Build + query configuration.

    Field mapping to the reference config (src/infra/config.jl:54-90):

    * ``doc_maxlen``    — same name: truncate docs to this many tokens
      (reference default 300, src/infra/config.jl:72).
    * ``block_size``    — posting-block granularity; plays the role of the
      reference's ``chunksize`` persistence unit
      (src/infra/config.jl:82, 25k docs/chunk) at posting level.
    * ``k1``/``b``      — BM25 parameters (the north-rule re-grounding of
      the reference's MaxSim scoring, SURVEY.md §2.7 Q6).
    * ``num_index_partitions`` — analogue of ``num_partitions`` chosen by
      setup() (src/indexing/collection_indexer.jl:115-139).
    * ``salt_buckets``  — fan-out of the skew-handling salted merge
      (SURVEY.md §4 "Skew"); the reference never needed this because
      k-means balances clusters.
    """

    k1: float = 1.2
    b: float = 0.75
    doc_maxlen: int = 300
    block_size: int = 128
    num_index_partitions: int = 32
    # floor on docs per doc-range bucket: below this, more buckets only add
    # per-group overhead (each (qid,bucket) is a pandas group at query
    # time, and each (term,bucket) group starts a new block run at build).
    # 50k docs ≈ a few MB of postings per head-term group.
    min_bucket_docs: int = 50_000
    salt_buckets: int = 8
    # explicit term-hash directory fan-out for the dictionary + block
    # tables; None (default) sizes it to the data in the build driver
    # (~2M postings per partition dir, clamped to [4, 4096])
    term_partitions: int | None = None
    stopwords: tuple[str, ...] = field(default=STOPWORDS)
    token_split_re: str = TOKEN_SPLIT_RE
    top_k: int = 10

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, payload: str) -> "EngineConfig":
        return cls.from_plan_config(json.loads(payload))

    @classmethod
    def from_plan_config(cls, raw: dict) -> "EngineConfig":
        """Reconstruct from a plan.json ``config`` dict — THE way every
        consumer (IndexReader, compactors) must derive an index's codec
        configuration: JSON round-trips tuples as lists, and decoding
        blocks under a caller-supplied default config instead of the
        index's own is the silent-corruption class the compactors guard
        against."""
        raw = dict(raw)
        raw["stopwords"] = tuple(raw.get("stopwords", STOPWORDS))
        # block payloads have one format, delta + varint (functions/codec.py);
        # plans written while other formats existed name theirs here, and
        # decoding those blocks as varint would corrupt them silently
        fmt = raw.pop("block_format", "varint")
        if fmt != "varint":
            raise ValueError(
                f"index blocks use the {fmt!r} block format, which this engine "
                "no longer reads; rebuild the index (only 'varint' is supported)"
            )
        return cls(**raw)
