"""Set operations (maps reference §2.7 U1 UNION ALL plus INTERSECT/EXCEPT).

U2 CTE composition needs no operator: intermediate DataFrames are the
CTEs. U3 recursive CTEs exist in the reference only for lineage
traversal (``logs/data_lineage.py:378-435``), which
``plans.lineage.traverse`` implements as a bounded driver-side walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1 — UNION ALL by column name (schema-aligned, no dedup)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """Plain SQL UNION (dedup) — one extra shuffle for the distinct."""
    return union_all(*dfs).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bag INTERSECT ALL — keeps min(multiplicity) copies per row, the
    multiset semantics ``intersect`` (distinct) loses."""
    return a.intersectAll(b)
