#!/usr/bin/env python
"""Production build entrypoint — run via spark-submit (north rule):

    spark-submit --py-files colbert_jl_spark.zip scripts/build_index.py \
        --input  <pages-or-documents path/table> \
        --index  <index root> \
        [--format pages|documents] [--force]

On a cluster, --input is an Iceberg/parquet pages table
(url, warc_ts, html, text, lang); the html→text extraction and build
pipeline are identical to the tested local path. The build is resumable:
re-running after a crash skips completed stages (see plans/build.py).

Exit code 0 only if the post-build validation report is clean — the
_check_all_files_are_saved analogue (reference
src/indexing/collection_indexer.jl:299-340).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--format", choices=("pages", "documents"), default="documents")
    ap.add_argument("--force", action="store_true", help="rebuild from scratch")
    ap.add_argument("--positions", action="store_true",
                    help="also build the optional positional stage "
                         "(phrase-query serving via IndexReader.phrase)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from colbert_jl_spark.config import EngineConfig
    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader
    from colbert_jl_spark.session import get_spark
    from colbert_jl_spark.sources.pages import docs_from_pages

    spark = get_spark("colbert-build", master=args.master)
    docs = spark.read.parquet(args.input)
    if args.format == "pages":
        docs = docs_from_pages(docs)

    builder = IndexBuilder(args.index, EngineConfig())
    plan = builder.build(docs, force=args.force)
    if args.positions:
        builder.build_positions(docs)
        plan = builder.plan()
    report = IndexReader(spark, args.index).validate()
    print(json.dumps({"plan": plan, "validation": report}, default=str))
    spark.stop()
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
