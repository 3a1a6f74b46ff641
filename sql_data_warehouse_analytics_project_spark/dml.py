"""Write-path DML semantics (maps reference §2.9, ``sql/dml.py``).

The reference's mutations are PostgreSQL statements (ON CONFLICT upsert,
UPDATE, data-modifying CTE merge with RETURNING counts). On an immutable
columnar store these become **join-reconcile + deterministic rewrite**:
classify source rows against the target by key, build the new table state
as one DataFrame, and swap it in. Counts come from the classification join
(not RETURNING). On Delta these map to native MERGE/UPDATE — the pure
functions here are the format-independent core.

Every function is DataFrame-in → DataFrame-out (testable without a
catalog); ``*_table`` wrappers apply the result through ``Catalog``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.functions.scalars import row_hash
from sql_data_warehouse_analytics_project_spark.operators.relational import (
    compile_condition,
)

# ---------------------------------------------------------------------------
# M1 — upsert (INSERT ... ON CONFLICT DO UPDATE, sql/dml.py:96-167)
# ---------------------------------------------------------------------------


def upsert(
    target: DataFrame,
    source: DataFrame,
    key_columns: Sequence[str],
    update_columns: Sequence[str] | None = None,
    *,
    updated_by: str = "engine",
) -> tuple[DataFrame, dict[str, int]]:
    """Reconcile source into target by key.

    - unmatched source rows → inserted as-is
    - matched keys → target row with ``update_columns`` (default: all
      non-key source columns) replaced, ``updated_at``/``updated_by``
      bumped (the reference auto-bumps these, ``sql/dml.py:139-146``)
    - duplicate keys inside source → latest wins is the caller's job
      (dedupe first); this function requires unique source keys

    Returns (new_table_state, {"inserted": n, "updated": n}).
    Shuffle profile: one hash join on the keys; at scale pre-bucket both
    sides on the key to make this shuffle-free.
    """
    keys = list(key_columns)
    upd_cols = list(update_columns) if update_columns is not None else [
        c for c in source.columns if c not in keys
    ]
    src = source.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_src_{c}") for c in upd_cols],
    )
    updated = _apply_updates(target, src, keys, upd_cols, updated_by)
    inserts = source.join(target.select(*keys).distinct(), keys, "left_anti")
    n_updated = target.join(src.select(*keys), keys, "left_semi").count()
    n_inserted = inserts.count()
    new_state = updated.unionByName(
        _conform(inserts, updated.columns), allowMissingColumns=True
    )
    return new_state, {"inserted": n_inserted, "updated": n_updated}


def _conform(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    for c in columns:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None))
    return df.select(*columns)


def _apply_updates(
    target: DataFrame,
    src: DataFrame,
    keys: Sequence[str],
    upd_cols: Sequence[str],
    updated_by: str,
) -> DataFrame:
    """Target rows with matched keys take source values + metadata bump.
    A dedicated ``_src_matched`` flag (not value-null checks) marks matches,
    so NULL source values still overwrite."""
    src_flagged = src.withColumn("_src_matched", F.lit(True))
    joined = target.join(src_flagged, list(keys), "left")
    out = joined
    for c in upd_cols:
        if c in target.columns:
            out = out.withColumn(
                c,
                F.when(F.col("_src_matched"), F.col(f"_src_{c}")).otherwise(F.col(c)),
            )
    if "updated_at" in target.columns:
        out = out.withColumn(
            "updated_at",
            F.when(F.col("_src_matched"), F.current_timestamp()).otherwise(
                F.col("updated_at")
            ),
        )
    if "updated_by" in target.columns:
        out = out.withColumn(
            "updated_by",
            F.when(F.col("_src_matched"), F.lit(updated_by)).otherwise(
                F.col("updated_by")
            ),
        )
    drop = ["_src_matched"] + [f"_src_{c}" for c in upd_cols]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# M2 — soft delete (UPDATE SET is_deleted=TRUE, sql/dml.py:170-203)
# ---------------------------------------------------------------------------


def soft_delete(
    df: DataFrame,
    condition: Column | str | Mapping,
    *,
    deleted_by: str = "engine",
) -> DataFrame:
    cond = compile_condition(condition)
    base = F.coalesce(F.col("is_deleted"), F.lit(False)) if "is_deleted" in df.columns else F.lit(False)
    out = df.withColumn("is_deleted", F.when(cond, F.lit(True)).otherwise(base))
    if "updated_at" in df.columns:
        out = out.withColumn(
            "updated_at", F.when(cond, F.current_timestamp()).otherwise(F.col("updated_at"))
        )
    if "updated_by" in df.columns:
        out = out.withColumn(
            "updated_by", F.when(cond, F.lit(deleted_by)).otherwise(F.col("updated_by"))
        )
    return out


# ---------------------------------------------------------------------------
# M3 — batch update (UPDATE SET {col: expr} WHERE cond, sql/dml.py:206-245)
# ---------------------------------------------------------------------------


def batch_update(
    df: DataFrame,
    set_map: Mapping[str, Column],
    condition: Column | str | Mapping,
    *,
    updated_by: str = "engine",
) -> DataFrame:
    cond = compile_condition(condition)
    out = df
    for col_name, expr in set_map.items():
        out = out.withColumn(col_name, F.when(cond, expr).otherwise(F.col(col_name)))
    if "updated_at" in df.columns:
        out = out.withColumn(
            "updated_at", F.when(cond, F.current_timestamp()).otherwise(F.col("updated_at"))
        )
    if "updated_by" in df.columns:
        out = out.withColumn(
            "updated_by", F.when(cond, F.lit(updated_by)).otherwise(F.col("updated_by"))
        )
    return out


# ---------------------------------------------------------------------------
# M4 — merge with counts (sql/dml.py:248-337)
# ---------------------------------------------------------------------------


def merge(
    target: DataFrame,
    source: DataFrame,
    key_columns: Sequence[str],
    *,
    delete_condition: Column | str | Mapping | None = None,
    updated_by: str = "engine",
) -> tuple[DataFrame, dict[str, int]]:
    """INSERT+UPDATE (+optional DELETE) in one reconcile; returns the new
    state and {'inserted','updated','deleted'} counts (the reference gets
    these from data-modifying-CTE RETURNING, ``sql/dml.py:301-325``)."""
    new_state, counts = upsert(target, source, key_columns, updated_by=updated_by)
    deleted = 0
    if delete_condition is not None:
        cond = compile_condition(delete_condition)
        deleted = new_state.filter(cond).count()
        new_state = new_state.filter(~F.coalesce(cond, F.lit(False)))
    counts = {**counts, "deleted": deleted}
    return new_state, counts


# ---------------------------------------------------------------------------
# M5 — incremental high-watermark load (sql/dml.py:340-391)
# ---------------------------------------------------------------------------


def incremental_batch(
    source: DataFrame,
    incremental_column: str,
    last_processed_value,
    batch_size: int | None = None,
) -> DataFrame:
    """``WHERE inc_col > watermark`` [+ value-boundary batch cap].
    The watermark filter pushes down to the scan (partition pruning when the
    table is partitioned on a derived date of the watermark column).

    ``batch_size`` cuts on VALUE boundaries, not row counts: the cutoff is
    the max inc-col value among the first ``batch_size`` rows, and every
    row with ``inc_col <= cutoff`` is included. A plain ORDER BY/LIMIT
    (the reference's ``sql/dml.py:378-384``) can split rows sharing the
    boundary value; advancing the watermark past it then permanently skips
    the remainder — silent data loss for non-unique watermark columns.
    The batch may slightly exceed ``batch_size`` when the boundary value
    has ties; ``next_watermark`` on the result is always loss-free.
    The cutoff is a broadcast one-row aggregate over a top-k of just the
    inc column — no extra full-table pass, still fully lazy."""
    out = source
    if last_processed_value is not None:
        out = out.filter(F.col(incremental_column) > F.lit(last_processed_value))
    if batch_size is not None:
        cut = "_cutoff"
        while cut in out.columns:  # never shadow a source column
            cut += "_"
        cutoff = (
            out.select(incremental_column)
            .orderBy(F.col(incremental_column))
            .limit(batch_size)
            .agg(F.max(incremental_column).alias(cut))
        )
        out = (
            out.crossJoin(F.broadcast(cutoff))
            .filter(F.col(incremental_column) <= F.col(cut))
            .drop(cut)
        )
    return out


def next_watermark(batch: DataFrame, incremental_column: str):
    row = batch.agg(F.max(incremental_column).alias("wm")).collect()[0]
    return row["wm"]


# ---------------------------------------------------------------------------
# M6 — hash-based change detection / CDC (bronze.py:255-301, plan :388-392)
# ---------------------------------------------------------------------------


def changed_rows(
    incoming: DataFrame,
    existing: DataFrame,
    hash_columns: Sequence[str],
    hash_col: str = "_row_hash",
) -> DataFrame:
    """Insert-only-new-or-changed: anti-join incoming hashes against the
    existing hash set. Only the 64-char hash column shuffles from the
    existing side."""
    inc = incoming
    if hash_col not in inc.columns:
        inc = inc.withColumn(hash_col, row_hash(*hash_columns))
    ex = existing
    if hash_col not in ex.columns:
        ex = ex.withColumn(hash_col, row_hash(*hash_columns))
    return inc.join(ex.select(hash_col).distinct(), hash_col, "left_anti")


def recompute_is_current(
    df: DataFrame,
    key_columns: Sequence[str],
    ts_column: "str | Sequence[str]" = "_ingestion_timestamp",
    flag_column: str = "_is_current",
) -> DataFrame:
    """CDC-style ``_is_current``: latest row per key wins
    (``row_number()==1`` over desc-timestamp window — SURVEY.md §1.1).

    ``ts_column`` accepts a list for a composite order — pass a unique
    tiebreaker (e.g. ``["updated_at", "id"]``) when the timestamp alone
    can tie, or the winner is engine/partitioning-dependent."""
    ts_cols = [ts_column] if isinstance(ts_column, str) else list(ts_column)
    w = Window.partitionBy(*key_columns).orderBy(
        *[F.col(c).desc() for c in ts_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn(flag_column, F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Catalog-applied wrappers
# ---------------------------------------------------------------------------


def upsert_table(
    catalog: Catalog,
    layer: str,
    table: str,
    source: DataFrame,
    key_columns: Sequence[str],
    **kw,
) -> dict[str, int]:
    target = catalog.read(layer, table, include_deleted=True)
    new_state, counts = upsert(target, source, key_columns, **kw)
    catalog.overwrite(new_state, layer, table)
    return counts


def soft_delete_table(
    catalog: Catalog, layer: str, table: str, condition, **kw
) -> None:
    target = catalog.read(layer, table, include_deleted=True)
    catalog.overwrite(soft_delete(target, condition, **kw), layer, table)
