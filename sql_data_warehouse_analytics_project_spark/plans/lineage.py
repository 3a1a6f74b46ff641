"""Data-lineage traversal & impact analysis (maps reference
``logs/data_lineage.py``: L8 recursive upstream/downstream
:358-584, L9 medallion flow summary :586-655, L10 impact analysis
:670-751).

PostgreSQL recursive CTEs (``WITH RECURSIVE`` + ``ARRAY`` path accumulator
+ ``= ANY(path)`` cycle guard, ``data_lineage.py:393,413,420``) become a
bounded breadth-first walk on the driver: a lineage graph is metadata
(thousands of tables), so the edge list collects in one job and each
depth extends every frontier path by one edge, skipping nodes already on
the path (the cycle guard). Depth is bounded like the reference
(default 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.session import local_rows

#: Largest distinct edge list ``traverse`` walks.
MAX_EDGES = 1_000_000
#: Largest number of (node, depth, path) rows ``traverse`` enumerates.
MAX_PATHS = 2_000_000

#: node identity = "schema.table" (the reference keys edges the same way)


def _edges(lineage: DataFrame) -> DataFrame:
    return lineage.select(
        F.concat_ws(".", "source_schema", "source_table").alias("src"),
        F.concat_ws(".", "target_schema", "target_table").alias("dst"),
    ).distinct()


def traverse(
    lineage: DataFrame,
    start_node: str,
    direction: str = "upstream",
    max_depth: int = 5,
) -> DataFrame:
    """All nodes reachable from ``start_node``, with depth and full path.

    ``direction='upstream'`` walks target→source (what feeds this table);
    ``'downstream'`` walks source→target (what this table feeds).
    Returns (node, depth, path:array<string>): one row per distinct
    cycle-free path of length 1..``max_depth``; the walk stops early at
    the first depth that adds no path.

    The distinct edge list is read with one ``collect()`` and walked on
    the driver. A graph above ``MAX_EDGES`` edges, or a walk that
    enumerates more than ``MAX_PATHS`` rows, raises ``ValueError``: that
    is no longer a lineage graph.
    """
    if direction not in ("upstream", "downstream"):
        raise ValueError(direction)
    edges = _edges(lineage)
    # orient edges so traversal is always "from 'node' to 'next'"
    if direction == "upstream":
        oriented = edges.select(F.col("dst").alias("node"), F.col("src").alias("next"))
    else:
        oriented = edges.select(F.col("src").alias("node"), F.col("dst").alias("next"))
    edge_rows = oriented.collect()
    if len(edge_rows) > MAX_EDGES:
        raise ValueError(
            f"lineage graph has more than MAX_EDGES={MAX_EDGES} edges"
        )
    adj: dict[str, list[str]] = {}
    for row in edge_rows:
        adj.setdefault(row["node"], []).append(row["next"])
    frontier: set[tuple] = {(start_node, 0, (start_node,))}
    rows: list[tuple] = []
    for depth in range(1, max_depth + 1):
        nxt: set[tuple] = set()
        for node, _d, path in frontier:
            for nb in adj.get(node, ()):
                if nb not in path:  # cycle guard
                    nxt.add((nb, depth, path + (nb,)))
        if not nxt:
            break
        rows.extend(nxt)
        if len(rows) > MAX_PATHS:
            raise ValueError(
                f"lineage traversal from {start_node!r} enumerates more "
                f"than MAX_PATHS={MAX_PATHS} paths"
            )
        frontier = nxt
    return local_rows(
        lineage.sparkSession, [(n, d, list(p)) for n, d, p in rows],
        "node string, depth int, path array<string>",
    )


def upstream(lineage: DataFrame, node: str, max_depth: int = 5) -> DataFrame:
    return traverse(lineage, node, "upstream", max_depth)


def downstream(lineage: DataFrame, node: str, max_depth: int = 5) -> DataFrame:
    return traverse(lineage, node, "downstream", max_depth)


def flow_summary(lineage: DataFrame) -> DataFrame:
    """L9 — per source→target edge: transformation count, distinct
    transforms, latest update, record sum; bucketed by medallion stage
    (``data_lineage.py:586-655``)."""
    stage = (
        F.when(
            F.col("source_schema").contains("bronze")
            & F.col("target_schema").contains("silver"),
            "bronze→silver",
        )
        .when(
            F.col("source_schema").contains("silver")
            & F.col("target_schema").contains("gold"),
            "silver→gold",
        )
        .when(F.col("target_schema").contains("bronze"), "source→bronze")
        .otherwise("other")
    )
    return (
        lineage.groupBy("source_schema", "source_table", "target_schema", "target_table")
        .agg(
            F.count(F.lit(1)).alias("transformation_count"),
            F.count_distinct("transformation_logic").alias("unique_transformations"),
            F.max("created_timestamp").alias("latest_update"),
            F.sum("record_count").alias("total_records"),
        )
        .withColumn("flow_stage", stage)
    )


def impact_analysis(lineage: DataFrame, node: str, max_depth: int = 5) -> dict:
    """L10 — downstream blast radius: severity LOW/MEDIUM/HIGH at >2/>5
    downstream tables (``data_lineage.py:694-698``), critical paths that
    reach gold, recommendations."""
    down = downstream(lineage, node, max_depth).cache()
    affected = [r.node for r in down.select("node").distinct().collect()]
    n = len(affected)
    severity = "HIGH" if n > 5 else "MEDIUM" if n > 2 else "LOW"
    critical = [
        r.path
        for r in down.filter(F.col("node").contains("gold")).select("path").collect()
    ]
    recommendations = []
    if n:
        recommendations.append(
            f"validate {n} downstream table(s) before altering {node}"
        )
    if critical:
        recommendations.append(
            f"{len(critical)} path(s) reach the gold layer — coordinate with consumers"
        )
    down.unpersist()
    return {
        "node": node,
        "downstream_count": n,
        "severity": severity,
        "affected_tables": sorted(affected),
        "critical_paths": critical,
        "recommendations": recommendations,
    }
