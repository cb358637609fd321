from colbert_jl_spark.streaming.ingest import (
    compact_positions,
    compact_streamed_index,
    minor_compact,
    stream_pages_to_postings,
)

__all__ = [
    "compact_positions",
    "compact_streamed_index",
    "minor_compact",
    "stream_pages_to_postings",
]
