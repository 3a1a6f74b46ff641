"""Analytics over the ``logs`` tables (maps reference L6 error-pattern
analysis ``error_handler.py:573-699``, L12 perf summary
``performance_monitor.py:385-450``, L13 bottleneck identification
:552-636). All plain groupBy aggregations — one pass each."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.functions.scalars import pct
from sql_data_warehouse_analytics_project_spark.ops.context import RunContext


# -- L6: error pattern analysis --------------------------------------------


def error_frequency(ctx: RunContext, days: int = 30) -> DataFrame:
    """Frequency by error_code × level (error_handler.py:585-598)."""
    return (
        _recent_errors(ctx, days)
        .groupBy("error_code", "error_level")
        .agg(
            F.count(F.lit(1)).alias("error_count"),
            F.max("error_timestamp").alias("latest_occurrence"),
        )
        .orderBy(F.col("error_count").desc())
    )


def resolution_rate(ctx: RunContext, days: int = 30) -> DataFrame:
    errs = _recent_errors(ctx, days)
    return errs.agg(
        F.count(F.lit(1)).alias("total_errors"),
        F.sum(F.col("is_resolved").cast("long")).alias("resolved_errors"),
        pct(
            F.sum(F.col("is_resolved").cast("long")), F.count(F.lit(1))
        ).alias("resolution_pct"),
    )


def _recent_errors(ctx: RunContext, days: int) -> DataFrame:
    return ctx.table("error_log").filter(
        F.col("error_timestamp") >= F.date_sub(F.current_timestamp(), days)
    )


# -- L12: performance summary ----------------------------------------------


def performance_summary(ctx: RunContext) -> DataFrame:
    """count/avg/min/max/stddev per metric (performance_monitor.py:385-450)."""
    return (
        ctx.table("performance_metrics")
        .groupBy("metric_name", "metric_unit")
        .agg(
            F.count(F.lit(1)).alias("n_measurements"),
            F.avg("metric_value").alias("avg_value"),
            F.min("metric_value").alias("min_value"),
            F.max("metric_value").alias("max_value"),
            F.stddev("metric_value").alias("stddev_value"),
        )
    )


def shuffle_summary(ctx: RunContext) -> DataFrame:
    """Per-target executor-resource rollup over the auto-captured /
    measured telemetry: for every metric prefix (``gold.fact_sales``,
    ``external.curated``, a ``measure()`` block name) — write count,
    total shuffle read/write bytes, spill bytes, executor task time,
    wall time, and ``parallelism`` (task-seconds per wall-second: ~1 ⇒
    the job ran single-task; ≫1 ⇒ the cluster actually worked in
    parallel). The table that says WHERE the shuffle budget goes and
    which builds aren't using their executors — the view the
    reference's psutil telemetry (performance_monitor.py:385-450) could
    never produce. One pass: suffix-classified conditional sums. Byte
    volumes are recorded and rolled up in MB (``ops/spark_metrics.py`` —
    DECIMAL(15,4) can't hold 100 TB-scale byte counts)."""
    m = ctx.table("performance_metrics")
    suffix = F.regexp_extract("metric_name", r"\.([a-z_]+)$", 1)
    known = (
        "shuffle_write_mb", "shuffle_read_mb", "spill_memory_mb",
        "spill_disk_mb", "task_time", "write_time", "execution_time",
    )
    base = m.filter(suffix.isin(*known)).select(
        F.expr(
            "substring(metric_name, 1, "
            "length(metric_name) - length(regexp_extract(metric_name, "
            r"'\\.([a-z_]+)$', 1)) - 1)"
        ).alias("target"),
        suffix.alias("s"),
        F.col("metric_value").cast("double").alias("v"),
    )

    def total(name):
        return F.sum(F.when(F.col("s") == name, F.col("v"))).alias(name)

    wall = F.sum(
        F.when(F.col("s").isin("write_time", "execution_time"), F.col("v"))
    )
    return (
        base.groupBy("target")
        .agg(
            F.count(F.when(F.col("s").isin("write_time", "execution_time"), 1))
            .alias("n_measured"),
            total("shuffle_write_mb"),
            total("shuffle_read_mb"),
            (F.sum(F.when(F.col("s").isin("spill_memory_mb",
                                          "spill_disk_mb"), F.col("v"))))
            .alias("spill_mb"),
            total("task_time"),
            wall.alias("wall_time"),
            F.round(
                F.sum(F.when(F.col("s") == "task_time", F.col("v")))
                / F.nullif(wall, F.lit(0.0)),
                2,
            ).alias("parallelism"),
        )
        .orderBy(F.col("shuffle_write_mb").desc_nulls_last(), "target")
    )


# -- L13: bottleneck identification ----------------------------------------


def identify_bottlenecks(
    ctx: RunContext,
    percentile: float = 0.95,
    *,
    shuffle_heavy_mb: float = 64.0,
) -> DataFrame:
    """Measurements beyond the p-th execution-time threshold, categorized
    (performance_monitor.py:552-636 flags SLOW_EXECUTION/LOW_THROUGHPUT
    from wall-clock alone — the only signal psutil telemetry has):
    per-metric p95 via percentile_approx (mergeable sketch — the scalable
    variant of PERCENTILE_CONT), broadcast of the per-metric thresholds
    back onto measurements.

    With the status-store executor telemetry (``ops/spark_metrics.py``,
    recorded by auto-capture under a shared ``capture:<id>`` tag in
    ``additional_context``), a slow measurement whose correlated shuffle
    volume (read + write, in MB — the telemetry's recording unit) reaches
    ``shuffle_heavy_mb`` is categorized ``SHUFFLE_HEAVY`` — the fix is
    partitioning/broadcast, not faster code — and ``SLOW_EXECUTION``
    otherwise. Both ``.execution_time`` (the measure() contract) and
    auto-capture's ``.write_time`` rows participate. The default
    threshold (64 MB) is a local-mode default; a cluster deployment sets
    it to the volume at which ITS shuffle tier dominates a stage. Output
    adds ``shuffle_mb`` (null when the row has no correlated telemetry).
    """
    metrics = ctx.table("performance_metrics")
    times = metrics.filter(
        F.col("metric_name").endswith(".execution_time")
        | F.col("metric_name").endswith(".write_time")
    )
    thresholds = times.groupBy("metric_name").agg(
        F.percentile_approx("metric_value", percentile).alias("p_threshold")
    )
    # correlated shuffle volume per capture group — capture-group count is
    # bounded by the write count, and only slow rows join against it
    shuffle = (
        metrics.filter(
            F.col("additional_context").startswith("capture:")
            & (
                F.col("metric_name").endswith(".shuffle_write_mb")
                | F.col("metric_name").endswith(".shuffle_read_mb")
            )
        )
        .groupBy("additional_context")
        .agg(F.sum("metric_value").cast("double").alias("shuffle_mb"))
    )
    return (
        times.join(F.broadcast(thresholds), "metric_name")
        .filter(F.col("metric_value") > F.col("p_threshold"))
        .join(F.broadcast(shuffle), "additional_context", "left")
        .select(
            "metric_name",
            F.col("metric_value").alias("execution_time"),
            "p_threshold",
            F.when(
                F.coalesce(F.col("shuffle_mb"), F.lit(0.0))
                >= float(shuffle_heavy_mb),
                F.lit("SHUFFLE_HEAVY"),
            )
            .otherwise(F.lit("SLOW_EXECUTION"))
            .alias("bottleneck_type"),
            "shuffle_mb",
            "measurement_timestamp",
        )
        .orderBy(F.col("execution_time").desc())
    )
