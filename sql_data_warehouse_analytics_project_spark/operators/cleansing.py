"""Generic silver-layer cleansing operators.

The reference declares silver as "cleansed, standardized data"
(``README.md:58-73``) but leaves it unimplemented (``main.py:551-603``);
the concrete rules are dictated by the deliberate defects in its source
CSVs (SURVEY.md §1.4). These are the reusable, columnar building blocks —
all built-in expressions, no UDFs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def standardize_codes(
    column: str,
    mapping: Mapping[str, str],
    default: str = "n/a",
    *,
    normalize: bool = True,
) -> Column:
    """Code→label standardization (e.g. gender M/F/Male/Female/blank →
    canonical labels). ``normalize`` upper-trims the input first so padded
    variants ('M ', ' male') hit the mapping. Returns a Column expression
    so callers compose it in a single select."""
    src = F.upper(F.trim(F.col(column))) if normalize else F.col(column)
    expr = None
    for code, label in mapping.items():
        key = code.upper() if normalize else code
        branch = (src == key, F.lit(label))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    return (expr.otherwise(F.lit(default)) if expr is not None else F.lit(default))


def dedup_keep_latest(
    df: DataFrame,
    key_columns: Sequence[str],
    order_column: str,
    *,
    tiebreak_columns: Sequence[str] = (),
) -> DataFrame:
    """Keep the newest row per key (duplicate ``cst_id`` defect →
    dedup-keep-latest by ``cst_create_date``). One shuffle on the key;
    ``row_number()==1`` over a desc window."""
    if "_rn" in df.columns:
        # the row-number helper column would silently replace (and drop) it
        raise ValueError("dedup_keep_latest reserves the internal column name '_rn'")
    order = [F.col(order_column).desc()] + [F.col(c).desc() for c in tiebreak_columns]
    w = Window.partitionBy(*key_columns).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def null_if_blank(column: str | Column) -> Column:
    """'' and whitespace-only → NULL (blank-vs-null standardization)."""
    c = F.col(column) if isinstance(column, str) else column
    return F.when(F.trim(c) == "", F.lit(None)).otherwise(c)


def scd2_end_dates(
    df: DataFrame,
    key_columns: Sequence[str],
    start_column: str,
    end_column: str,
) -> DataFrame:
    """Repair SCD2 validity windows: end date := day before the next
    version's start (the reference's products have overlapping/inverted
    ``prd_end_dt < prd_start_dt`` rows; rule per SURVEY.md §1.4 —
    ``lead(prd_start_dt) - 1``). NULL end = current version."""
    w = Window.partitionBy(*key_columns).orderBy(F.col(start_column))
    return df.withColumn(
        end_column, F.date_sub(F.lead(F.col(start_column)).over(w), 1)
    )


def clamp_to_null(
    column: str | Column, *, min_value=None, max_value=None
) -> Column:
    """Out-of-range → NULL (future birthdates, invalid dates)."""
    c = F.col(column) if isinstance(column, str) else column
    cond = F.lit(False)
    if min_value is not None:
        cond = cond | (c < F.lit(min_value))
    if max_value is not None:
        cond = cond | (c > F.lit(max_value))
    return F.when(cond, F.lit(None)).otherwise(c)
