"""Deterministic hash-based sampling & splitting for training-data
pipelines (north-star extension, beyond the reference's surface).

``df.sample()`` is the wrong tool for corpus curation: its output depends
on the RNG seed *and* the physical partitioning, so re-running after a
repartition (or on a different cluster) silently yields a different
sample, and train/test membership can't be recomputed later. The standard
fix — used by every large-scale data pipeline — is content-addressed
sampling: a row is kept iff ``hash(salt || id) mod M`` falls under the
threshold. Fully deterministic, engine-portable (md5-based, so a DuckDB
oracle replays it bit-exactly), stable under repartitioning, and
map-side-only: every operator here is a pure column predicate with ZERO
shuffles — it pushes into the scan pipeline at 100 TB.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.llm.text import md5_60bit
from sql_data_warehouse_analytics_project_spark.session import local_rows

#: Bucket space. 10^6 buckets ⇒ rate granularity of 0.0001%.
DEFAULT_MOD = 1_000_000


def hash_bucket(
    id_col: str | Column, *, salt: str = "", mod: int = DEFAULT_MOD
) -> Column:
    """Uniform bucket in [0, mod) from the row id: first 60 bits of
    md5(salt ‖ id) mod ``mod``. md5 rather than xxhash64 so an ANSI-SQL
    oracle computes the identical bucket; the hot path is still one hash
    per row inside codegen."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (md5_60bit(F.concat(F.lit(salt), c.cast("string"))) % mod).alias("bucket")


def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    *,
    salt: str = "sample",
    mod: int = DEFAULT_MOD,
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows (exact membership is a
    pure function of the id — rerunning, repartitioning, or recomputing
    downstream always selects the same rows)."""
    return df.filter(hash_bucket(id_col, salt=salt, mod=mod) < int(fraction * mod))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "sample",
    mod: int = DEFAULT_MOD,
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample common
    languages, keep all of rare ones) — the mixing-weights primitive of a
    corpus pipeline. One predicate, no shuffle, no per-stratum pass."""
    threshold = F.lit(int(default_fraction * mod))
    for value, frac in fractions.items():
        threshold = (
            F.when(F.col(strata_col) == value, F.lit(int(frac * mod))).otherwise(threshold)
        )
    return df.filter(hash_bucket(id_col, salt=salt, mod=mod) < threshold)


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: Mapping[str, float],
    *,
    salt: str = "split",
    mod: int = DEFAULT_MOD,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test …) by
    contiguous bucket ranges. Fractions must sum to ≤ 1; any remainder is
    labeled NULL (excluded rows). Membership is recomputable forever from
    (salt, id) — the property that makes held-out sets trustworthy."""
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    bucket = hash_bucket(id_col, salt=salt, mod=mod)
    expr: Column = F.lit(None).cast("string")
    hi = 0
    for name, frac in splits.items():
        lo, hi = hi, hi + int(frac * mod)
        expr = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def rebalance_mix(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weights: Mapping[str, float],
    *,
    salt: str = "mix",
    mod: int = DEFAULT_MOD,
) -> DataFrame:
    """Rebalance a corpus to target mixing proportions — THE dataset-mixing
    primitive: given target weights w_s per stratum (language, source,
    quality tier), downsample each stratum so the output hits the largest
    feasible total T = min_s(n_s / w_s) with composition w_s·T, keeping
    every row of the binding (scarcest-relative-to-target) stratum.

    Entirely distributed: stratum counts are one aggregation, the binding
    ratio is a one-row aggregate broadcast back, per-stratum keep-rates
    ride a broadcast join, and membership is the deterministic md5 bucket
    (same reproducibility contract as :func:`hash_sample`). Strata absent
    from ``weights`` are dropped. No driver-side collect anywhere."""
    spark = df.sparkSession
    wdf = local_rows(
        spark,
        [(k, float(v)) for k, v in weights.items()], f"{strata_col} string, _w double"
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n")).join(
        wdf, strata_col
    )
    binding = counts.agg(F.min(F.col("_n") / F.col("_w")).alias("_t"))
    rates = counts.crossJoin(F.broadcast(binding)).select(
        strata_col,
        (F.col("_w") * F.col("_t") / F.col("_n")).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(hash_bucket(id_col, salt=salt, mod=mod) < F.col("_rate") * mod)
        .drop("_rate")
    )


def cap_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    cap: int,
    *,
    salt: str = "cap",
) -> DataFrame:
    """Hard per-stratum row cap: keep at most ``cap`` rows per stratum,
    selected by deterministic content-addressed hash rank — the
    domain-cap primitive ("at most N pages per domain/source",
    C4/Gopher-style) that rate-based :func:`rebalance_mix` cannot express
    on heavy-tailed strata, and that a naive "first cap rows seen" gets
    partitioning-dependently wrong.

    One shuffle on the stratum (the rank window); the md5 order makes the
    selection a uniform without-replacement draw per stratum,
    reproducible across engines and partitionings (same portability
    contract as :func:`hash_sample`); the id tiebreak keeps the rank a
    total order even on hash collisions."""
    if "_cap_rk" in df.columns:
        raise ValueError("cap_per_stratum: column '_cap_rk' already exists")
    w = Window.partitionBy(strata_col).orderBy(
        md5_60bit(F.concat(F.lit(f"{salt}#"), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    return (
        df.withColumn("_cap_rk", F.row_number().over(w))
        .filter(F.col("_cap_rk") <= cap)
        .drop("_cap_rk")
    )


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    is_target: Column,
    text_col: str = "text",
    *,
    num_buckets: int = 4096,
    add_k: float = 0.5,
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023 —
    the public method behind "select raw-corpus documents that look like
    the target domain"): fit two hashed-bigram bag models — one on the
    ``is_target`` subset, one on the full corpus — and score every
    document by its mean per-feature log-likelihood ratio
    ``ln p_target(b) − ln p_raw(b)``. Positive weight ⇒ the document's
    transition distribution resembles the target domain more than the
    corpus average; selection keeps the top-weighted docs
    (:func:`dsir_select`). Returns ``(id, n_features, weight)``;
    documents with fewer than two tokens have no bigram features and are
    omitted (the qd51 convention).

    Hashing: features are bigrams hashed into ``num_buckets`` via the
    module's portable md5-60-bit idiom (``text.md5_60bit``), so a DuckDB
    oracle replays the bucketing bit-exactly and — per DSIR — the model
    is FIXED-SIZE regardless of vocabulary: the two models together are
    one ``num_buckets``-row table, broadcastable at any corpus scale.

    Plan (100 TB story): ONE corpus tokenize+explode builds per-doc
    bucket tf (map-side combined groupBy); the bucket model is a single
    conditional aggregation over it (``num_buckets`` rows out — raw and
    target counts in one pass, no second corpus scan); totals are one
    1-row cross-joined aggregate (broadcast); the scoring join is
    per-doc-features ⋈ broadcast(bucket model). Nothing
    after the first explode scales past ``num_buckets`` except the
    per-doc reduction itself.

    Determinism: integer counts ⇒ identical IEEE ratios on any engine;
    the per-doc mean rounds to 6dp (ln-then-round, the qd51/qd45
    convention) so distributed summation-order ulps are absorbed."""
    from sql_data_warehouse_analytics_project_spark.llm.text import tokens

    if add_k <= 0:
        raise ValueError("add_k must be positive (unsmoothed buckets can be empty)")
    t = tokens(text_col)
    base = df.select(
        F.col(id_col), is_target.cast("boolean").alias("_is_t"), t.alias("_t")
    )
    feat = (
        base.filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            "_is_t",
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, F.size("_t") - 1).alias("w1"),
                    F.slice("_t", 2, F.size("_t") - 1).alias("w2"),
                )
            ).alias("_bg"),
        )
        .select(
            F.col(id_col),
            "_is_t",
            (
                md5_60bit(
                    F.concat(
                        F.lit(f"{salt}|"),
                        F.col("_bg.w1"),
                        F.lit(" "),
                        F.col("_bg.w2"),
                    )
                )
                % num_buckets
            ).alias("bucket"),
        )
    )
    doc_feat = feat.groupBy(id_col, "_is_t", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    model = doc_feat.groupBy("bucket").agg(
        F.sum("tf").alias("cr"),
        F.sum(F.when(F.col("_is_t"), F.col("tf")).otherwise(F.lit(0))).alias("ct"),
    )
    totals = model.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    k = float(add_k)
    kb = k * num_buckets
    ratios = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("ct") + F.lit(k)) / (F.col("tt") + F.lit(kb)))
                - F.log((F.col("cr") + F.lit(k)) / (F.col("tr") + F.lit(kb)))
            ).alias("_lr"),
        )
    )
    return (
        doc_feat.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_features"),
            F.round(
                F.sum(F.col("tf") * F.col("_lr")) / F.sum("tf"), 6
            ).alias("weight"),
        )
    )


def dsir_select(
    weights: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Deterministic top-``k`` selection over :func:`dsir_importance_weights`
    output: highest weight first, id ascending on ties (the 6dp-rounded
    weights make ties real). ``orderBy().limit()`` compiles to
    TakeOrderedAndProject — a distributed per-partition top-k + driver
    merge of k rows, never a global sort."""
    return weights.orderBy(F.col("weight").desc(), F.col(id_col)).limit(k)
