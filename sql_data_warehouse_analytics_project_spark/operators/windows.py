"""Window-function operators (maps reference §2.5: W1 generic builder
``sql/query_builder.py:278-327``, W2 running totals
``sql/common_queries.py:344-396``, W3 lag/lead :399-445, W4 gap detection
:514-580, W5 cohort retention :448-511).

Scale note: every window here is ``partitionBy(...)`` — per-key state, one
shuffle on the partition keys, no global sort. A window WITHOUT partitionBy
collapses to a single task; the helpers refuse that unless the caller
explicitly opts in.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from sql_data_warehouse_analytics_project_spark.session import local_rows

_RESET_EXTRACTORS = {
    "yearly": lambda d: [F.year(d)],
    "monthly": lambda d: [F.year(d), F.month(d)],
    "quarterly": lambda d: [F.year(d), F.quarter(d)],
}


def window_spec(
    partition_by: Sequence[str | Column] | None,
    order_by: Sequence[str | Column] | None = None,
    *,
    rows_between: tuple[int, int] | None = None,
    range_between: tuple[int, int] | None = None,
    allow_unpartitioned: bool = False,
) -> WindowSpec:
    """W1 — generic window builder (PARTITION BY / ORDER BY / frame)."""
    if not partition_by and not allow_unpartitioned:
        raise ValueError(
            "unpartitioned window collapses to one task; pass "
            "allow_unpartitioned=True only for small results"
        )
    w = Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    if order_by:
        w = w.orderBy(*order_by)
    if rows_between is not None:
        w = w.rowsBetween(*rows_between)
    elif range_between is not None:
        w = w.rangeBetween(*range_between)
    return w


def running_totals(
    df: DataFrame,
    value_column: str,
    date_column: str,
    partition_columns: Sequence[str] = (),
    reset_frequency: str | None = None,
    *,
    value_expr: Column | None = None,
    allow_unpartitioned: bool = False,
) -> DataFrame:
    """W2 — running SUM + running AVG over date order
    (reference ``compute_running_totals`` ``common_queries.py:344-396``:
    ``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW``, optional reset
    partitions by EXTRACT(YEAR/MONTH/QUARTER)).

    Adds ``running_total`` and ``running_avg`` columns. With neither
    ``partition_columns`` nor ``reset_frequency`` the window would
    collapse to one task — refused unless ``allow_unpartitioned=True``
    (same policy as :func:`window_spec`; opt in only for small
    post-aggregation frames).
    """
    d = F.col(date_column)
    parts: list[Column] = [F.col(c) for c in partition_columns]
    if reset_frequency:
        try:
            parts += _RESET_EXTRACTORS[reset_frequency.lower()](d)
        except KeyError:
            raise ValueError(f"unknown reset_frequency: {reset_frequency!r}") from None
    v = value_expr if value_expr is not None else F.col(value_column)
    w = window_spec(
        parts or None,
        [d],
        rows_between=(Window.unboundedPreceding, Window.currentRow),
        allow_unpartitioned=allow_unpartitioned,
    )
    return df.withColumn("running_total", F.sum(v).over(w)).withColumn(
        "running_avg", F.avg(v).over(w)
    )


def lag_lead(
    df: DataFrame,
    value_column: str,
    date_column: str,
    partition_columns: Sequence[str] = (),
    periods: Sequence[int] = (1,),
    *,
    allow_unpartitioned: bool = False,
) -> DataFrame:
    """W3 — multi-period LAG/LEAD with absolute and % change
    (reference ``analyze_lag_lead`` ``common_queries.py:399-445``; NULLIF
    divide guard at :433).

    Per period k adds: lag_k, lead_k, change_k, pct_change_k. Empty
    ``partition_columns`` is refused unless ``allow_unpartitioned=True``
    (single-task global sort — opt in only for small frames).
    """
    base = window_spec(
        [F.col(c) for c in partition_columns] or None,
        [F.col(date_column)],
        allow_unpartitioned=allow_unpartitioned,
    )
    v = F.col(value_column)
    out = df
    for k in periods:
        lag_v = F.lag(v, k).over(base)
        out = (
            out.withColumn(f"lag_{k}", lag_v)
            .withColumn(f"lead_{k}", F.lead(v, k).over(base))
            .withColumn(f"change_{k}", v - lag_v)
            .withColumn(
                f"pct_change_{k}",
                F.round(
                    F.when(lag_v == 0, F.lit(None)).otherwise((v - lag_v) * 100.0 / lag_v),
                    2,
                ),
            )
        )
    return out


_FREQ_DAYS = {"daily": 1, "weekly": 7, "monthly": 31}


def detect_gaps(
    df: DataFrame,
    date_column: str,
    partition_columns: Sequence[str] = (),
    expected_frequency: str = "daily",
    *,
    allow_unpartitioned: bool = False,
) -> DataFrame:
    """W4 — time-series gap detection via LEAD
    (reference ``detect_time_series_gaps`` ``common_queries.py:514-580``).

    Emits one row per gap: partition cols + gap_start, gap_end,
    gap_length_days (strictly-greater-than-frequency rule, matching the
    reference's ``next - curr > INTERVAL freq``). Empty
    ``partition_columns`` is refused unless ``allow_unpartitioned=True``
    — the LEAD window runs over the (distinct-date-reduced) series, but
    a global series still sorts in one task.
    """
    if expected_frequency not in _FREQ_DAYS:
        raise ValueError(f"unknown expected_frequency: {expected_frequency!r}")
    thresh = _FREQ_DAYS[expected_frequency]
    d = F.to_date(F.col(date_column))
    # distinct dates per partition first: gaps are between observed dates
    dcols = [*partition_columns]
    dates = df.select(*dcols, d.alias("_d")).distinct()
    w = window_spec(
        dcols or None, [F.col("_d")], allow_unpartitioned=allow_unpartitioned
    )
    nxt = F.lead(F.col("_d")).over(w)
    return (
        dates.withColumn("_next", nxt)
        .withColumn("_gap", F.datediff(F.col("_next"), F.col("_d")))
        .filter(F.col("_gap") > thresh)
        .select(
            *dcols,
            F.col("_d").alias("gap_start"),
            F.col("_next").alias("gap_end"),
            F.col("_gap").alias("gap_length_days"),
        )
    )


def cohort_retention(
    df: DataFrame,
    user_id_column: str,
    event_date_column: str,
    cohort_date_column: str,
    metric_column: str | None = None,
    periods: int = 12,
) -> DataFrame:
    """W5 — cohort retention matrix (reference ``analyze_cohort_retention``
    ``common_queries.py:448-511``): period_number = month-diff(event,
    cohort); cohort×period aggregate (COUNT DISTINCT user or SUM metric);
    join back to period-0 cohort size; retention %.

    Output: (cohort_month, period_number, metric_value, cohort_size,
    retention_pct). One shuffle for the groupBy; period-0 sizes are tiny →
    broadcast join back.
    """
    # DATE (not timestamp) bucket: immune to session/process timezone
    cohort_month = F.trunc(F.col(cohort_date_column), "month")
    period = (
        (F.year(F.col(event_date_column)) - F.year(F.col(cohort_date_column))) * 12
        + (F.month(F.col(event_date_column)) - F.month(F.col(cohort_date_column)))
    ).cast("int")
    metric = (
        F.count_distinct(F.col(user_id_column))
        if metric_column is None
        else F.sum(F.col(metric_column))
    )
    cohorts = (
        df.select(
            cohort_month.alias("cohort_month"),
            period.alias("period_number"),
            F.col(user_id_column).alias("_uid"),
            *( [F.col(metric_column)] if metric_column else [] ),
        )
        .filter((F.col("period_number") >= 0) & (F.col("period_number") <= periods))
    )
    agg = cohorts.groupBy("cohort_month", "period_number").agg(
        (
            F.count_distinct("_uid") if metric_column is None else F.sum(metric_column)
        ).alias("metric_value")
    )
    sizes = (
        agg.filter(F.col("period_number") == 0)
        .select("cohort_month", F.col("metric_value").alias("cohort_size"))
    )
    return agg.join(F.broadcast(sizes), "cohort_month", "left").select(
        "cohort_month",
        "period_number",
        "metric_value",
        "cohort_size",
        F.round(
            F.when(F.col("cohort_size") == 0, F.lit(None)).otherwise(
                F.col("metric_value") * 100.0 / F.col("cohort_size")
            ),
            2,
        ).alias("retention_pct"),
    )


def _contiguous_local_ranks(
    df: DataFrame, order_by: Sequence[str | Column], num_partitions: int | None
) -> DataFrame:
    """Phase 1+2 of :func:`contiguous_rank` as a lazy plan (exposed for
    plan tests): range-repartition on the order key, sort within each
    partition, and read (partition id, 1-based ordinal) out of
    ``monotonically_increasing_id`` — whose documented layout is
    ``pid << 33 | row-ordinal-within-partition``, assigned in output
    order above the sort. ONE exchange total: a per-pid ``row_number``
    window would re-shuffle on pid (Spark cannot see that the range
    exchange already clusters it); the id decode gets the same numbers
    from the sorted stream for free. No single-partition exchange, no
    Window anywhere."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions is not None
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    mid = F.monotonically_increasing_id()
    return (
        part.withColumn("_cr_mid", mid)
        .withColumn("_cr_pid", F.shiftright(F.col("_cr_mid"), 33).cast("int"))
        .withColumn(
            "_cr_lrn",
            (F.col("_cr_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1).cast("int"),
        )
        .drop("_cr_mid")
    )


def contiguous_rank(
    df: DataFrame,
    order_by: Sequence[str | Column],
    name: str,
    *,
    key_type: str = "int",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally contiguous 1-based rank in ``order_by`` order WITHOUT the
    single-partition sort of ``row_number() OVER (ORDER BY ...)`` — the
    scale-safe way to mint SERIAL-style surrogate keys (reference
    ``setup/setup_orchestrator.py:488``: ``customer_key SERIAL``).

    Two-phase rank: (1) range-repartition on the order key — every
    partition holds a contiguous key range, all partitions sort in
    parallel; (2) ``row_number()`` per partition id; (3) per-partition
    row counts (one tiny job, ≤ numPartitions rows) become cumulative
    offsets attached by broadcast join. ``rank = offset(pid) + local``.

    Bit-identical to the global window whenever ``order_by`` is a total
    order (unique keys): range partitioning keeps equal keys in one
    partition and orders partitions by key range, so offset+local IS the
    global rank regardless of where the sampled range boundaries fall.

    The ranked frame is localCheckpointed before the counts job: range
    boundaries come from sampling whose seed varies per RDD
    instantiation, so the counts job and the consuming job MUST observe
    one materialized partitioning — recomputation could legally shuffle
    rows across partition borders between the two jobs and corrupt the
    offsets. The checkpoint is LAZY (``eager=False``): the counts
    aggregate below is a full scan, so it doubles as the materializing
    action — one driver job pins the partitioning AND returns the
    per-partition counts, where the eager form paid a separate
    materialization job first (measured: 1 job / ~0.3 s saved per rank
    at bench scale; a fixed driver round-trip at every scale). The
    checkpoint is dim-sized; the collect is bounded by the partition
    count (cluster topology, not data volume).

    Why lazy is safe under task retry/speculation (round-11 ADVICE):
    the hazard would be the counts job observing a different partition
    assignment than the blocks it pins. Rows cannot cross partition
    borders on retry — the range exchange's boundaries are computed
    once at plan time and reused by retried tasks — so a retried
    partition holds the same row SET, and per-partition counts are
    order-invariant, so the offsets are correct for whatever block
    attempt wins. The only retry-visible freedom is WITHIN-partition
    tie order under a non-total ``order_by``, which the contract above
    already leaves unspecified (bit-identical is promised only for
    total orders, where the sort result is unique). Eager would not
    remove that freedom either: its internal materializing action has
    exactly the same retry semantics.
    """
    for reserved in ("_cr_pid", "_cr_lrn", "_cr_off", name):
        if reserved in df.columns:
            raise ValueError(f"contiguous_rank: column {reserved!r} already exists")
    ranked = _contiguous_local_ranks(df, order_by, num_partitions).localCheckpoint(
        eager=False
    )
    counts = {
        r["_cr_pid"]: r["_cr_n"]
        for r in ranked.groupBy("_cr_pid")
        .agg(F.count(F.lit(1)).alias("_cr_n"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if len(offsets) <= 4096:
        # literal-array lookup: offsets become a plan constant indexed by
        # pid — no broadcast exchange, no join subtree (measured ~0.5 s of
        # fixed overhead saved per build vs a broadcast join at local
        # scale; identical output)
        arr = [0] * (max(counts) + 1 if counts else 0)
        for pid, off in offsets:
            arr[pid] = off
        off_expr = (
            F.element_at(
                F.array(*[F.lit(int(v)).cast("long") for v in arr]),
                F.col("_cr_pid") + 1,
            )
            if arr
            else F.lit(0).cast("long")
        )
        return (
            ranked.withColumn(name, (off_expr + F.col("_cr_lrn")).cast(key_type))
            .drop("_cr_pid", "_cr_lrn")
        )
    # thousands of partitions: keep the plan small, attach by broadcast
    off = F.broadcast(
        local_rows(df.sparkSession, offsets, "_cr_pid int, _cr_off long")
    )
    return (
        ranked.join(off, "_cr_pid")
        .withColumn(name, (F.col("_cr_off") + F.col("_cr_lrn")).cast(key_type))
        .drop("_cr_pid", "_cr_lrn", "_cr_off")
    )


def date_spine(df: DataFrame, keys: Sequence[str], date_col: str) -> DataFrame:
    """Dense per-key calendar: one row per key per day across that key's
    [min, max] date range — the spine for gap-filling sparse time series
    (a reporting query that skips empty days silently lies about them).

    One aggregation to find each key's range, then ``sequence`` + explode
    generates days inside the executors — the spine never routes through
    the driver and its row count is Σ per-key day-spans, independent of
    the source row count."""
    rng = df.groupBy(*keys).agg(
        F.min(date_col).alias("_d0"), F.max(date_col).alias("_d1")
    )
    return rng.select(
        *keys, F.explode(F.sequence("_d0", "_d1")).alias(date_col)
    )


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    cols: Sequence[str],
    *,
    suffix: str = "_ffill",
) -> DataFrame:
    """Carry each column's last non-NULL value forward along the key's
    timeline (`last(ignorenulls)` over rows-unbounded-preceding — one
    shuffle on the keys, same frame the asof join rides)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{suffix}", F.last(c, ignorenulls=True).over(w))
    return out


def funnel_analysis(
    events: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: float | None = None,
) -> DataFrame:
    """Ordered-sequence funnel: how many users performed ``steps`` IN
    ORDER (each step at-or-after the previous one's first completion;
    optionally within ``within_seconds`` of it). Returns one row per step
    — ``(step, step_index, n_users, pct_of_first)`` — the drop-off curve.

    Plan shape: step 0 is one groupBy(user); each later step is one
    user-keyed join + conditional min — k-1 shuffles all on the SAME key,
    so Catalyst reuses the exchange, and per-user state is a handful of
    timestamps, never the user's whole event list (no collect_list of
    fact-scale arrays). Earliest-completion semantics: a user converts on
    the first opportunity, matching the standard funnel definition."""
    if not steps:
        raise ValueError("funnel_analysis needs at least one step")
    user = F.col(user_col)
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    for i, step in enumerate(steps[1:], start=1):
        nxt = events.filter(F.col(type_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("_ts")
        )
        cond = F.col("_ts") >= F.col(f"_t{i-1}")
        if within_seconds is not None:
            cond = cond & (
                F.col("_ts").cast("double")
                <= F.col(f"_t{i-1}").cast("double") + within_seconds
            )
        carry = [f"_t{j}" for j in range(i)]
        cur = (
            cur.join(nxt, user_col, "left")
            .groupBy(user_col, *carry)
            .agg(F.min(F.when(cond, F.col("_ts"))).alias(f"_t{i}"))
        )
    counts = cur.agg(
        *[
            F.count(F.col(f"_t{i}")).alias(f"_n{i}")
            for i in range(len(steps))
        ]
    )
    rows = None
    for i, step in enumerate(steps):
        one = counts.select(
            F.lit(step).alias("step"),
            F.lit(i).cast("int").alias("step_index"),
            F.col(f"_n{i}").cast("bigint").alias("n_users"),
            (F.col(f"_n{i}") / F.col("_n0")).alias("pct_of_first"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


def interpolate_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    cols: Sequence[str],
    *,
    suffix: str = "_interp",
) -> DataFrame:
    """Linear interpolation across NULL gaps along each key's timeline —
    forward_fill's smooth sibling (sensor/metric series where holding the
    last value misrepresents a trend). Each NULL gets
    ``prev + (next - prev) * elapsed_fraction`` between its neighboring
    known points; leading/trailing runs (no neighbor on one side) fall
    back to the nearest known value.

    Same one-shuffle shape as forward_fill: two frames over one window
    partitioning (unbounded-preceding ``last`` + unbounded-following
    ``first``), all codegen'd — no per-key collect, no UDF. ``order_col``
    may be numeric or DATE (dates interpolate on day offsets)."""
    from pyspark.sql import types as T

    is_date = isinstance(df.schema[order_col].dataType, T.DateType)
    ord_num = (
        F.unix_date(F.col(order_col)) if is_date else F.col(order_col).cast("double")
    )
    wp = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = df
    for c in cols:
        known_ord = F.when(F.col(c).isNotNull(), ord_num)
        prev_v = F.last(c, ignorenulls=True).over(wp)
        next_v = F.first(c, ignorenulls=True).over(wn)
        prev_o = F.last(known_ord, ignorenulls=True).over(wp)
        next_o = F.first(known_ord, ignorenulls=True).over(wn)
        frac = (ord_num - prev_o).cast("double") / (next_o - prev_o)
        interp = F.when(
            prev_v.isNotNull() & next_v.isNotNull() & (next_o != prev_o),
            prev_v + (next_v - prev_v) * frac,
        )
        out = out.withColumn(
            f"{c}{suffix}", F.coalesce(interp, prev_v, next_v)
        )
    return out


def sessionize(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    *,
    gap_seconds: float = 1800,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign an inactivity-gap session id to EVERY event (the row-level
    twin of the session-window aggregate, q27): a new session starts when
    the gap since the key's previous event exceeds ``gap_seconds``;
    ``session_id`` is the running count of session starts along the
    key's timeline (1-based, deterministic).

    One shuffle on the keys, two stacked frames over the same window
    partitioning (lag + running sum) — never a per-key collect or loop.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_start = (
        prev_ts.isNull()
        | (
            F.col(ts_col).cast("double") - prev_ts.cast("double")
            > gap_seconds
        )
    ).cast("long")
    run = Window.partitionBy(*keys).orderBy(F.col(ts_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn(session_col, F.sum(is_start).over(run))


def rolling_zscore(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    *,
    window_rows: int = 30,
    threshold: float = 3.0,
    suffix: str = "_zscore",
) -> DataFrame:
    """Trailing-window anomaly score: each value's z-score against the
    PRECEDING ``window_rows`` observations of its key (current row
    excluded — an outlier must not dilute its own baseline), plus an
    ``is_anomaly`` flag at ``threshold``. NULL until the baseline has 2+
    points or while its stddev is 0.

    One shuffle on the keys; the baseline rides MOMENTS (count, sum,
    sum-of-squares) over a single ROWS frame — with a DECIMAL value
    column the moments are exact and order-insensitive, so the score is
    reproducible bit-for-bit across engines and partitionings (a
    floating stddev buffer varies with accumulation order). The
    metric-stream watchdog (reference L12/L13 perf monitoring,
    ``logs/performance_monitor.py:589-593``) as a scalable window op.
    ``order_col`` may be a column name or a list for a composite
    (tie-broken, deterministic) ordering."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-window_rows, -1)
    )
    v = F.col(value_col)
    n = F.count(v).over(w)
    s1 = F.sum(v).over(w).cast("double")
    s2 = F.sum(v * v).over(w).cast("double")
    nd = n.cast("double")
    var = (s2 - s1 * s1 / nd) / (nd - 1)
    z = F.when((n >= 2) & (var > 0), (v.cast("double") - s1 / nd) / F.sqrt(var))
    return df.withColumn(f"{value_col}{suffix}", z).withColumn(
        "is_anomaly", F.coalesce(F.abs(z) > threshold, F.lit(False))
    )


def cumulative_distinct(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    out_col: str = "n_distinct_cum",
) -> DataFrame:
    """Cumulative COUNT(DISTINCT value) per partition in ``order_by``
    order — the windowed distinct aggregate Spark does not support
    directly (``count_distinct`` is rejected in window frames, and the
    ``size(collect_set(...))`` workaround materializes a per-row SET —
    O(distinct) memory per row, a driver-killer on high-cardinality
    keys at 100 TB).

    Scale-correct formulation: flag each (partition, value)'s FIRST
    occurrence with one window (``row_number()==1`` over the composite
    key), then running-sum the flags with a second window over the
    partition alone. Two key-partitioned windows, bounded state, exact.

    ``order_by`` must be a deterministic total order within each
    partition (include a unique id): with ties, which duplicate counts
    as "first" — and therefore the cumulative value ON the tied rows —
    would otherwise be engine-dependent. NULL values are ignored, like
    SQL's ``COUNT(DISTINCT ...)``.
    """
    keys = list(partition_by)
    order = [F.col(c) for c in order_by]
    w_first = Window.partitionBy(*keys, value_col).orderBy(*order)
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = (
        (F.row_number().over(w_first) == 1) & F.col(value_col).isNotNull()
    ).cast("long")
    return df.withColumn(out_col, F.sum(flag).over(w_cum))


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[str | Column],
    value_column: str,
    name: str,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered running SUM of ``value_column`` WITHOUT the
    single-partition sort of ``SUM() OVER (ORDER BY …)`` — the cumulative
    twin of :func:`contiguous_rank`, for prefix selections over a total
    order (token-budget corpus cuts, cumulative-share cutoffs).

    Two-phase: (1) range-repartition on the order key + parallel local
    sorts (the :func:`_contiguous_local_ranks` plumbing — every partition
    owns a contiguous key range); (2) per-partition running sum via a
    pid-keyed window — one parallel hash exchange, every partition
    aggregates its own range concurrently (the naive global window is
    also one exchange, but to ONE task); (3) per-partition value totals
    (tiny job, ≤ numPartitions rows) become cumulative offsets attached
    as a plan literal (or broadcast beyond 4096 partitions).
    ``running = offset(pid) + local_running``.

    Bit-identical to the global window whenever ``order_by`` is a total
    order (tie-break to uniqueness, as everywhere in this engine).
    ``value_column`` must be INTEGRAL (counts, token lengths, bytes) —
    the offsets ride as long literals; decimal/float prefix sums would
    need a typed-offset variant and are not this operator's use case.
    The ranked frame is localCheckpointed for the same
    range-boundary-reseeding reason :func:`contiguous_rank` documents —
    and, like there, the checkpoint is LAZY: the totals aggregate below
    is a full scan, so its job both pins the partitioning and returns
    the per-partition totals (one driver job instead of two). Retry
    safety of the lazy pin is argued in :func:`contiguous_rank`
    (partition ASSIGNMENT is plan-fixed; per-partition SUMS are
    order-invariant, so the offsets hold for whichever task attempt's
    block wins)."""
    for reserved in ("_cr_pid", "_cr_lrn", name):
        if reserved in df.columns:
            raise ValueError(f"global_running_sum: column {reserved!r} already exists")
    part = _contiguous_local_ranks(df, order_by, num_partitions).localCheckpoint(
        eager=False
    )
    totals = {
        r["_cr_pid"]: r["_t"]
        for r in part.groupBy("_cr_pid")
        .agg(F.sum(value_column).alias("_t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    w = window_spec(
        ["_cr_pid"], [F.col("_cr_lrn")],
        rows_between=(Window.unboundedPreceding, Window.currentRow),
    )
    local = F.sum(value_column).over(w)
    if len(offsets) <= 4096:
        arr = [0] * (max(offsets) + 1 if offsets else 0)
        for pid, off in offsets.items():
            arr[pid] = off
        off_expr = (
            F.element_at(
                F.array(*[F.lit(int(v)).cast("long") for v in arr]),
                F.col("_cr_pid") + 1,
            )
            if arr
            else F.lit(0).cast("long")
        )
        return part.withColumn(name, off_expr + local).drop("_cr_pid", "_cr_lrn")
    off = F.broadcast(
        local_rows(
            df.sparkSession, list(offsets.items()), "_cr_pid int, _cr_off long"
        )
    )
    return (
        part.join(off, "_cr_pid")
        .withColumn(name, F.col("_cr_off") + local)
        .drop("_cr_pid", "_cr_lrn", "_cr_off")
    )
