"""LocalRelation-backed construction of tiny driver-side DataFrames.

``spark.createDataFrame(list_of_tuples, schema)`` goes through
``SparkContext.parallelize`` — the result is an RDD-backed DataFrame
(``Scan ExistingRDD`` in the plan) and every action that touches it,
including building a broadcast side from it, schedules a real Spark job
with tasks. On the serving hot path that is one extra job (~0.15-0.3 s of
scheduling + py4j floor in local mode) per ``search()`` call just to ship
a handful of query-term rows.

``spark.createDataFrame(pandas_df, schema)`` with Arrow enabled converts
driver-side into a ``LocalRelation``: no RDD — a ``collect()`` of it never
leaves the driver. Same rows, same schema, zero jobs (measured: 0.29 s ->
0.014 s for an empty collect; plan gate in tests/test_plans.py asserts no
ExistingRDD scan in search DAGs). A broadcast built from it still runs one
1-task job (Spark 4.1, AQE on).

Every tiny driver-known row set (query terms, phrase anchors,
driver-computed result rows) goes through here; data-scale DataFrames
never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _field_names(schema: str | StructType) -> list[str]:
    if isinstance(schema, StructType):
        return schema.fieldNames()
    # DDL string: "a long, b string, ..." — names are the first token of
    # each top-level comma-separated field (no nested structs are used in
    # any caller's schema)
    return [f.strip().split()[0] for f in schema.split(",")]


def local_df(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """LocalRelation-backed DataFrame from driver-side rows (see module
    docstring). Falls back to the classic path if the Arrow conversion is
    unavailable (Arrow disabled in the session) — output-identical either
    way."""
    import pandas as pd

    names = _field_names(schema)
    try:
        if not rows:
            # the Arrow conversion falls back to the RDD path for 0-row
            # frames — build a one-null-row LocalRelation and let the
            # optimizer's PropagateEmptyRelation fold filter(false) into
            # an empty LocalRelation of the same schema instead
            from pyspark.sql import functions as F

            pdf = pd.DataFrame([tuple([None] * len(names))], columns=names)
            return spark.createDataFrame(pdf, schema=schema).where(F.lit(False))
        pdf = pd.DataFrame(rows, columns=names)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:  # pragma: no cover - defensive fallback
        return spark.createDataFrame(rows, schema)


# above this many distinct terms a driver-known term set stops being an
# In(term, …) scan filter and becomes a broadcast left-semi join, so a bulk
# batch never compiles a giant IN list into the scan. 32 covers every
# interactive query; only bulk batched suites cross it.
MAX_INLIST_TERMS = 32


def term_cut(
    df: DataFrame, terms: list[str], max_inlist_terms: int = MAX_INLIST_TERMS
) -> DataFrame:
    """``df``'s rows whose ``term`` is one of ``terms``: an In(term, …)
    filter (pushed into the parquet reader, so row groups prune by min/max)
    for up to ``max_inlist_terms`` terms, else a broadcast left-semi join
    against the terms as a LocalRelation."""
    from pyspark.sql import functions as F

    if len(terms) <= max_inlist_terms:
        return df.where(F.col("term").isin(list(terms)))
    wanted = local_df(df.sparkSession, [(t,) for t in terms], "term string")
    return df.join(F.broadcast(wanted), "term", "left_semi")
