"""Declarative validation-rule framework (Q5 — the reference *planned*
this but never built it: rule specs with severities compiling to checks,
failures recorded to the error log, ``BRONZE_LAYER_PLAN.md:211-263``).

Rule specs (plain dicts, serializable into ``logs.configuration_log``):

    {"rule": "not_null",  "column": c, "severity": "ERROR"}
    {"rule": "unique",    "columns": [c, ...], "severity": "ERROR"}
    {"rule": "data_type", "column": c, "expected": "bigint", "severity": "ERROR"}
    {"rule": "range",     "column": c, "min": lo, "max": hi, "severity": "WARNING"}
    {"rule": "regex",     "column": c, "pattern": r"...", "severity": "WARNING"}

Two evaluation shapes, both single-scan:
- ``validate`` — one aggregated pass → summary row per rule (count-style,
  like Q1–Q3); ``data_type`` is a schema check (zero-scan).
- ``violating_rows`` — per-row failed-rule array (``filter(size > 0)``),
  for quarantine/dead-letter flows; one scan regardless of rule count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce
from operator import and_
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.session import local_rows

SEVERITIES = ("ERROR", "WARNING")


def _rule_name(spec: Mapping[str, Any]) -> str:
    kind = spec["rule"]
    if kind == "unique":
        return "unique_" + "_".join(spec["columns"])
    return f"{kind}_{spec['column']}"


def _row_predicate(spec: Mapping[str, Any]) -> Column | None:
    """Violation predicate for row-level rules; None for schema/set rules."""
    kind = spec["rule"]
    if kind == "not_null":
        return F.col(spec["column"]).isNull()
    if kind == "range":
        c = F.col(spec["column"])
        return (c < F.lit(spec["min"])) | (c > F.lit(spec["max"]))
    if kind == "regex":
        c = F.col(spec["column"])
        return c.isNotNull() & ~c.rlike(spec["pattern"])
    if kind in ("unique", "data_type"):
        return None
    raise ValueError(f"unknown rule: {kind!r}")


def validate(df: DataFrame, rules: Sequence[Mapping[str, Any]]) -> DataFrame:
    """Summary per rule: (rule_name, rule_type, severity, violation_count,
    total_rows, passed). Row rules + unique rules fold into ONE ``.agg``
    pass; data_type rules are answered from ``df.schema`` without a scan."""
    spark = df.sparkSession
    if not rules:
        return local_rows(
            spark, [],
            "rule_name string, rule_type string, severity string,"
            " violation_count long, total_rows long, passed boolean",
        )
    aggs: list[Column] = [F.count(F.lit(1)).alias("_total")]
    agg_rules: list[Mapping[str, Any]] = []
    schema_rows: list[tuple] = []
    dtypes = dict(df.dtypes)

    for spec in rules:
        sev = spec.get("severity", "ERROR")
        if sev not in SEVERITIES:
            raise ValueError(f"severity must be one of {SEVERITIES}: {sev!r}")
        if spec["rule"] == "data_type":
            actual = dtypes.get(spec["column"])
            ok = actual == spec["expected"]
            schema_rows.append(
                (_rule_name(spec), "data_type", sev, 0 if ok else 1, ok)
            )
            continue
        if spec["rule"] == "unique":
            # UNIQUE semantics: rows with a NULL key don't violate (they
            # fail a not_null rule instead). count_distinct already skips
            # NULL-keyed rows, so the minuend must too, or every NULL row
            # would be reported as a duplicate.
            cols = [F.col(c) for c in spec["columns"]]
            all_not_null = reduce(and_, [c.isNotNull() for c in cols])
            expr = F.count(F.when(all_not_null, F.lit(1))) - F.count_distinct(*cols)
        else:
            expr = F.sum(_row_predicate(spec).cast("long"))
        aggs.append(F.coalesce(expr, F.lit(0)).alias(f"_r{len(agg_rules)}"))
        agg_rules.append(spec)

    parts: list[DataFrame] = []
    if agg_rules:
        wide = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{_rule_name(s)}', '{s['rule']}', '{s.get('severity', 'ERROR')}', _r{i}"
            for i, s in enumerate(agg_rules)
        )
        parts.append(
            wide.select(
                F.expr(
                    f"stack({len(agg_rules)}, {stack_args})"
                    " as (rule_name, rule_type, severity, violation_count)"
                ),
                F.col("_total").alias("total_rows"),
            ).withColumn("passed", F.col("violation_count") == 0)
        )
    if schema_rows:
        sdf = local_rows(
            spark, schema_rows,
            "rule_name string, rule_type string, severity string,"
            " violation_count long, passed boolean",
        ).withColumn("total_rows", F.lit(0).cast("long"))
        parts.append(sdf.select(*parts[0].columns) if parts else sdf)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def violating_rows(
    df: DataFrame, rules: Sequence[Mapping[str, Any]], *, keep_passing: bool = False
) -> DataFrame:
    """Rows annotated with ``failed_rules: array<string>`` (row-level rules
    only — unique/data_type are set/schema properties). One scan: all
    predicates evaluate in a single projection."""
    entries = []
    for spec in rules:
        pred = _row_predicate(spec)
        if pred is not None:
            entries.append(F.when(pred, F.lit(_rule_name(spec))))
    failed = F.array_compact(F.array(*entries)) if entries else F.array()
    out = df.withColumn("failed_rules", failed)
    return out if keep_passing else out.filter(F.size("failed_rules") > 0)


def validate_and_log(
    df: DataFrame,
    rules: Sequence[Mapping[str, Any]],
    run_context,
    *,
    table_name: str,
    process_log_id: int | None = None,
) -> DataFrame:
    """Run ``validate`` and record each failed rule into ``logs.error_log``
    (severity → log level, reference error-log contract
    ``logs/error_handler.py:185-376``). Returns the summary DataFrame."""
    summary = validate(df, rules)
    for r in summary.filter(~F.col("passed")).collect():
        run_context.log_error(
            f"VALIDATION_{r['rule_type'].upper()} {r['rule_name']}:"
            f" {r['violation_count']} violation(s) in {table_name}",
            level=r["severity"],
            table_name=table_name,
            process_log_id=process_log_id,
        )
    return summary


def profile_table(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column data profile: one row per column with row/null/distinct
    counts and min/max (stringified so every column type fits one output
    schema) — the data-profiling face of S8 catalog introspection
    (extends the reference's table-stats metadata query,
    ``sql/query_builder.py:490-567``, from table-level to column-level).

    Plan shape: one independent aggregate branch per column, unioned.
    Each branch column-prunes to a SINGLE column's scan, so at 100 TB
    this reads each parquet column chunk once — deliberately NOT one
    N-column aggregate with N ``count_distinct``s, which Catalyst
    rewrites into an Expand that duplicates every row N times (measured
    8x slowdown on q42's sketch query; see NOTES lesson 7)."""
    cols = list(columns) if columns is not None else list(df.columns)
    parts = []
    for c in cols:
        one = df.select(F.col(c))
        parts.append(
            one.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.count_distinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
