"""Serving fast-path gates.

These optimizations changed the search DAG's construction (results must be
bit-identical; these tests pin both the identity and the plan shape):

* functions/smalldf.local_df — tiny driver-side row sets become
  LocalRelations (no ``Scan ExistingRDD``, no job for collect).
* wand.wand_topk — the batch's (qid, term, qtf) rows ride in the closure
  of one Arrow call per doc bucket; the block rows are cut to the batch's
  terms by an In(term, …) filter, or by a broadcast left-semi join above
  ``max_inlist_terms``.
* IndexReader.load_hot pins the block cache hash-partitioned by
  ``bucket``, which satisfies the executor's bucket grouping — a hot
  query DAG, single query or batch, has NO hash Exchange.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from colbert_jl_spark.config import EngineConfig
from colbert_jl_spark.functions.smalldf import local_df
from colbert_jl_spark.operators.bm25 import query_terms
from colbert_jl_spark.operators.codec_blocks import (
    posting_blocks,
    term_postings_with_doclen,
)
from colbert_jl_spark.operators.docstats import corpus_stats, doclens
from colbert_jl_spark.operators.postings import term_df
from colbert_jl_spark.operators.wand import wand_topk

DOCS = [
    (0, "spark table join merge spark"),
    (1, "window table batch row"),
    (2, "the of and"),  # all stopwords
    (3, "spark spark spark table"),
    (4, "join window merge column key value"),
    (5, "data data table spark join window"),
]
QUERIES = [(0, "spark table join"), (1, "window merge"), (2, "zzzmissing")]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _outside_cache(plan: str) -> str:
    """The plan tree minus every InMemoryRelation subtree (the one-time
    pin, whose own exchange is not on the per-query path)."""
    out, inside = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if inside is not None and col > inside:
            continue
        inside = col if "InMemoryRelation" in line else None
        if inside is None:
            out.append(line)
    return "\n".join(out)


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_local_df_is_local_relation_and_schema_identical(spark):
    rows = [(0, "spark", 1), (1, "table", 2)]
    ddl = "qid long, term string, qtf long"
    fast = local_df(spark, rows, ddl)
    classic = spark.createDataFrame(rows, ddl)
    assert fast.schema == classic.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, classic.collect())
    )
    opt = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "ExistingRDD" not in opt


def test_local_df_empty_is_empty_local_relation(spark):
    ddl = "qid long, rank int, doc_id long, score double"
    fast = local_df(spark, [], ddl)
    assert fast.schema == spark.createDataFrame([], ddl).schema
    assert fast.collect() == []
    opt = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" in opt


@pytest.mark.parametrize("mode", ["topk", "intersect"])
def test_semi_join_filter_identical_to_inlist_filter(spark, mode):
    """The two term filters in front of the executor (In(term, …) up to
    max_inlist_terms distinct terms, broadcast left-semi join above) give
    identical rows, for the batch and for a single query."""
    cfg = EngineConfig()
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    stats = corpus_stats(doclens(docs, cfg))
    pdl = term_postings_with_doclen(docs, cfg).cache()
    dic = term_df(pdl.select("term", "doc_id", "tf")).cache()
    blocks = posting_blocks(pdl, dic, stats["n_docs"], stats["avgdl"], cfg, salt=0)
    qdf = spark.createDataFrame(QUERIES, "qid long, query string")
    qt_rows = [
        (int(r.qid), r.term, int(r.qtf)) for r in query_terms(qdf, cfg).collect()
    ]
    for rows in (qt_rows, [r for r in qt_rows if r[0] == 0]):
        inlist = wand_topk(blocks, rows, cfg, stats["avgdl"], mode=mode)
        semi = wand_topk(
            blocks, rows, cfg, stats["avgdl"], mode=mode, max_inlist_terms=0
        )
        assert "In(term," not in _formatted(semi)
        assert "LeftSemi" in _executed(semi)
        got = sorted(map(tuple, semi.collect()))
        assert got and got == sorted(map(tuple, inlist.collect()))
    pdl.unpersist()
    dic.unpersist()


def test_hot_single_query_plan_has_no_exchange_or_rdd_scan(spark, tmp_path):
    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, EngineConfig()).build(docs)
    reader = IndexReader(spark, idx)
    reader.load_hot()
    df = reader.search([(0, "spark table join")])
    plan = _executed(df)
    # the single-stage hot path: the only Exchange is INSIDE the cached
    # relation (the one-time pin repartition), never on the per-query path
    per_query_plan = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in per_query_plan
    assert "ExistingRDD" not in plan
    assert "BroadcastExchange" not in plan
    assert "FlatMapGroupsInArrow" in plan
    # identical rows to the cold distributed path on a fresh reader
    cold = IndexReader(spark, idx)
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, cold.search([(0, "spark table join")]).collect())
    )
    # a batch runs in the same one-stage shape: no hash Exchange on the
    # per-query side, and a BroadcastExchange only for the semi-join
    # (above max_inlist_terms)
    for limit, semi in ((32, False), (2, True)):
        reader.max_inlist_terms = limit
        bplan = _outside_cache(_executed(reader.search(QUERIES)))
        assert "FlatMapGroupsInArrow" in bplan
        hash_exchanges = [
            l for l in bplan.splitlines()
            if "Exchange" in l and "BroadcastExchange" not in l
        ]
        assert not hash_exchanges, bplan
        assert ("BroadcastExchange" in bplan) == semi, bplan
        assert ("LeftSemi" in bplan) == semi, bplan
    reader.release()


def test_queries_df_is_local_relation(spark):
    from colbert_jl_spark.queries import queries_df

    q = queries_df(spark)
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "ExistingRDD" not in opt


# the driver-side tokenizers, and the IndexReader planners allowed to call
# them: every search/phrase entry point prepares its call through one
# planner, which tokenizes each query once
_TOKENIZERS = {"py_terms", "py_tokens", "phrase_term_rows"}
_PLANNERS = {"IndexReader._search_plan", "IndexReader._phrase_plan"}


def _tokenize_calls(source: str) -> list[tuple[str, int]]:
    """(qualified function, line) of every tokenizer call in ``source``."""
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in _TOKENIZERS:
                    out.append((scope or "<module>", child.lineno))
            visit(child, inner)

    visit(ast.parse(source), "")
    return out


def test_only_the_planners_tokenize_queries():
    """plans/build.py tokenizes queries and phrases only inside the two
    planners, at one call site each, so no entry point or fallback grows
    its own prep path back. The scan itself is checked on a sample with
    the shapes it must catch."""
    build = Path(__file__).resolve().parent.parent / "colbert_jl_spark/plans/build.py"
    calls = _tokenize_calls(build.read_text())
    assert not [c for c in calls if c[0] not in _PLANNERS], calls
    assert sorted(scope for scope, _ in calls) == sorted(_PLANNERS)
    sample = (
        "class IndexReader:\n"
        "    def _query_rows(self, q):\n"
        "        return [py_terms(t, None, s) for _, t in q]\n"
        "    def phrase(self, ps):\n"
        "        return {t for _, x in ps for t in tok.py_tokens(x, None)}\n"
        "    def _phrase_plan(self, ps):\n"
        "        def rows():\n"
        "            return phrase_term_rows(ps)\n"
        "        return rows()\n"
    )
    assert [s for s, _ in _tokenize_calls(sample)] == [
        "IndexReader._query_rows", "IndexReader.phrase",
        "IndexReader._phrase_plan.rows",
    ]
