"""Gold-layer star schema (maps reference sample gold shapes,
``setup/setup_orchestrator.py:484-516``: dim_customers, dim_products,
fact_sales + KPI aggregates per ``README.md:69-73``).

Surrogate keys: the reference uses SERIAL (``customer_key SERIAL``,
``setup_orchestrator.py:488``). A contiguous global sequence needs a total
order over the natural key; it is minted by
:func:`~..operators.windows.contiguous_rank` — a two-phase
range-partitioned rank (parallel per-partition sorts + broadcast
cumulative offsets), bit-identical to ``row_number() OVER (ORDER BY ...)``
but with no single-partition sort, so a 100M-row dim builds across the
cluster instead of through one task. Fact tables reference dims via the
natural key join, never a global sequence (SURVEY.md §7.2 risk 3).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.catalog import (
    MEDALLION_METADATA_COLUMNS,
    observe_rows,
    with_medallion_metadata,
)
from sql_data_warehouse_analytics_project_spark.operators.windows import (
    contiguous_rank,
)
from sql_data_warehouse_analytics_project_spark.session import fan_out, local_rows


def build_dim_customers(
    crm_customers: DataFrame,
    erp_customers: DataFrame,
    erp_locations: DataFrame,
) -> DataFrame:
    """CRM master + ERP birthdate/gender + ERP country. CRM gender wins
    unless n/a (CRM is the system of record). Dimension-sized data →
    broadcast joins; the surrogate key is a two-phase contiguous rank
    (no single-partition window — see module docstring)."""
    c = crm_customers.alias("c")
    e = F.broadcast(erp_customers).alias("e")
    l = F.broadcast(erp_locations).alias("l")
    joined = (
        c.join(e, F.col("c.cst_key") == F.col("e.cid"), "left")
        .join(l, F.col("c.cst_key") == F.col("l.cid"), "left")
    )
    base = joined.select(
        F.col("c.cst_id").alias("customer_id"),
        F.col("c.cst_key").alias("customer_number"),
        F.col("c.cst_firstname").alias("first_name"),
        F.col("c.cst_lastname").alias("last_name"),
        F.coalesce(F.col("l.cntry"), F.lit("n/a")).alias("country"),
        F.col("c.cst_marital_status").alias("marital_status"),
        F.when(F.col("c.cst_gndr") != "n/a", F.col("c.cst_gndr"))
        .otherwise(F.coalesce(F.col("e.gen"), F.lit("n/a")))
        .alias("gender"),
        F.col("e.bdate").alias("birthdate"),
        F.col("c.cst_create_date").alias("create_date"),
    )
    return contiguous_rank(base, ["customer_id"], "customer_key").select(
        "customer_key",
        "customer_id",
        "customer_number",
        "first_name",
        "last_name",
        "country",
        "marital_status",
        "gender",
        "birthdate",
        "create_date",
    )


def build_dim_products(
    crm_products: DataFrame, erp_product_categories: DataFrame
) -> DataFrame:
    """Current product versions (SCD2 end date NULL) + category
    attributes. Surrogate key: two-phase contiguous rank over
    (start_date, product_number)."""
    p = crm_products.filter(F.col("prd_end_dt").isNull()).alias("p")
    cat = F.broadcast(erp_product_categories).alias("cat")
    joined = p.join(cat, F.col("p.cat_id") == F.col("cat.id"), "left")
    base = joined.select(
        F.col("p.prd_id").alias("product_id"),
        F.col("p.prd_key").alias("product_number"),
        F.col("p.prd_nm").alias("product_name"),
        F.col("p.cat_id").alias("category_id"),
        F.col("cat.cat").alias("category"),
        F.col("cat.subcat").alias("subcategory"),
        F.col("cat.maintenance").alias("maintenance"),
        F.col("p.prd_cost").alias("cost"),
        F.col("p.prd_line").alias("product_line"),
        F.col("p.prd_start_dt").alias("start_date"),
    )
    return contiguous_rank(
        base, ["start_date", "product_number"], "product_key"
    ).select(
        "product_key",
        "product_id",
        "product_number",
        "product_name",
        "category_id",
        "category",
        "subcategory",
        "maintenance",
        "cost",
        "product_line",
        "start_date",
    )


def fact_key_skew(crm_sales: DataFrame, *, top_n: int = 20) -> DataFrame:
    """Pre-flight skew probe for the fact→dim join keys: heavy hitters and
    global skew ratio per join side (``customer`` / ``product``), via
    :func:`~..operators.aggregates.key_skew_stats`. Run this before a
    non-broadcast fact build — a ``skew_ratio`` in the hundreds on the
    customer side says pick ``dim_strategy="salted"`` (one whale customer
    would otherwise pin the whole sort-merge join on one task)."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        key_skew_stats,
    )

    def side(name, col):
        return key_skew_stats(
            crm_sales.select(F.col(col).cast("string").alias("key_value")),
            ["key_value"],
            top_n=top_n,
        ).select(F.lit(name).alias("join_side"), "*")

    return side("customer", "sls_cust_id").unionByName(
        side("product", "sls_prd_key")
    )


def build_fact_sales(
    crm_sales: DataFrame,
    dim_products: DataFrame,
    dim_customers: DataFrame,
    *,
    dim_strategy: str = "broadcast",
    salt_buckets: int = 16,
    auto_skew_threshold: float = 32.0,
) -> DataFrame:
    """Sales facts keyed to the dims' surrogate keys.

    ``dim_strategy`` picks the join physical shape (output is identical):

    - ``"broadcast"`` (default): dims ride a broadcast hint — the fact
      never shuffles. Right whenever each dim fits in executor memory
      (the reference dataset, and most real dims).
    - ``"shuffle"``: plain equi joins — sort-merge at scale, with AQE's
      skew-join splitting absorbing moderate hot keys at runtime
      (plan-asserted in ``tests/test_medallion.py``). For dims too large
      to broadcast (a 100M-row customer dim).
    - ``"salted"``: like ``"shuffle"`` but the customer join is salted
      (:func:`~..operators.joins.salted_join`, ``salt_buckets`` splits
      per key) — the pathological case where one customer dominates the
      fact and even an AQE-split partition exceeds executor memory.
      Probe first with :func:`fact_key_skew`.
    - ``"auto"``: run that probe HERE — one map-side-combined count
      shuffle over the fact's customer keys (the pre-flight any
      non-broadcast 100 TB build should pay) — and pick ``"salted"``
      when the measured ``skew_ratio`` (max key count / mean) reaches
      ``auto_skew_threshold``, ``"shuffle"`` otherwise. Auto never picks
      broadcast: when the dims are known to fit in memory the caller
      says so (the default) and skew is moot — auto exists for the
      non-broadcast regime, where the hot-key decision is exactly what
      should be measured, not guessed.
    """
    if dim_strategy not in ("broadcast", "shuffle", "salted", "auto"):
        raise ValueError(f"unknown dim_strategy: {dim_strategy!r}")
    if dim_strategy == "auto":
        from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
            key_skew_stats,
        )

        probe = key_skew_stats(
            crm_sales.select(F.col("sls_cust_id").cast("string").alias("key_value")),
            ["key_value"],
            top_n=1,
        ).collect()
        ratio = float(probe[0]["skew_ratio"]) if probe else 1.0
        dim_strategy = "salted" if ratio >= auto_skew_threshold else "shuffle"
    dp_sel = dim_products.select("product_key", "product_number")
    dc_sel = dim_customers.select("customer_key", "customer_id")
    s = crm_sales.alias("s")
    if dim_strategy == "broadcast":
        dp_sel, dc_sel = F.broadcast(dp_sel), F.broadcast(dc_sel)
    dp = dp_sel.alias("dp")
    joined = s.join(
        dp, F.col("s.sls_prd_key") == F.col("dp.product_number"), "left"
    )
    if dim_strategy == "salted":
        from sql_data_warehouse_analytics_project_spark.operators.joins import (
            salted_join,
        )

        joined = salted_join(
            joined.withColumnRenamed("sls_cust_id", "customer_id"),
            dc_sel,
            ["customer_id"],
            "left",
            salt_buckets=salt_buckets,
        ).withColumnRenamed("customer_id", "sls_cust_id")
        return joined.select(
            F.col("sls_ord_num").alias("order_number"),
            F.col("product_key"),
            F.col("customer_key"),
            F.col("sls_order_dt").alias("order_date"),
            F.col("sls_ship_dt").alias("shipping_date"),
            F.col("sls_due_dt").alias("due_date"),
            F.col("sls_sales").alias("sales_amount"),
            F.col("sls_quantity").alias("quantity"),
            F.col("sls_price").alias("price"),
        )
    dc = dc_sel.alias("dc")
    return (
        joined.join(dc, F.col("s.sls_cust_id") == F.col("dc.customer_id"), "left")
        .select(
            F.col("s.sls_ord_num").alias("order_number"),
            F.col("dp.product_key").alias("product_key"),
            F.col("dc.customer_key").alias("customer_key"),
            F.col("s.sls_order_dt").alias("order_date"),
            F.col("s.sls_ship_dt").alias("shipping_date"),
            F.col("s.sls_due_dt").alias("due_date"),
            F.col("s.sls_sales").alias("sales_amount"),
            F.col("s.sls_quantity").alias("quantity"),
            F.col("s.sls_price").alias("price"),
        )
    )


def build_customer_report(
    fact_sales: DataFrame, dim_customers: DataFrame
) -> DataFrame:
    """Gold KPI view: one row per purchasing customer with order counts,
    exact-decimal revenue, lifespan/recency (integer month arithmetic —
    engine-portable, unlike months_between), behavioral segment
    (VIP/Regular/New) and per-order / per-month averages — the
    "Aggregations, KPIs & metrics, optimized for BI tools" gold layer the
    reference promises (``README.md:69-73``) but never implements.

    Determinism at the oracle: recency is measured against the corpus'
    MAX order date (data-derived, not wall clock); money sums ride
    DECIMAL(18,2) and convert to DOUBLE before any division so every
    derived ratio is the same IEEE operation on both engines. The dim is
    broadcast; the fact aggregates shuffle once on customer_key.

    Scale note: the two exact COUNT(DISTINCT)s plan as one Expand
    (3 projections per fact row) feeding a single partial-aggregated
    shuffle — deliberately chosen over the three-shuffle
    join-of-separate-aggregates rewrite: 3× map-side rows that combine
    before the exchange beat three full fact shuffles. Swap the counts
    for ``approx_count_distinct`` if a 100 TB report can tolerate ~2%
    error and the Expand shows up in profiles."""
    f = fact_sales.filter(
        F.col("order_date").isNotNull() & F.col("customer_key").isNotNull()
    )
    ref = fact_sales.agg(F.max("order_date").alias("_ref_date"))
    dc = F.broadcast(
        dim_customers.select(
            "customer_key", "customer_number", "first_name", "last_name"
        )
    )
    agg = (
        f.join(dc, "customer_key")
        .groupBy("customer_key", "customer_number", "first_name", "last_name")
        .agg(
            F.countDistinct("order_number").cast("long").alias("total_orders"),
            F.sum(F.col("sales_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_sales"),
            F.sum("quantity").cast("long").alias("total_quantity"),
            F.countDistinct("product_key").cast("long").alias("total_products"),
            F.min("order_date").alias("first_order"),
            F.max("order_date").alias("last_order"),
        )
    )
    months = lambda a, b: (  # noqa: E731 — portable month delta
        (F.year(b) - F.year(a)) * 12 + (F.month(b) - F.month(a))
    ).cast("long")
    lifespan = months(F.col("first_order"), F.col("last_order"))
    out = agg.crossJoin(F.broadcast(ref)).select(
        "customer_key",
        "customer_number",
        F.concat_ws(" ", "first_name", "last_name").alias("customer_name"),
        "total_orders",
        "total_sales",
        "total_quantity",
        "total_products",
        "first_order",
        "last_order",
        lifespan.alias("lifespan_months"),
        months(F.col("last_order"), F.col("_ref_date")).alias("recency_months"),
        F.when((lifespan >= 12) & (F.col("total_sales") > 5000), "VIP")
        .when(lifespan >= 12, "Regular")
        .otherwise("New")
        .alias("segment"),
        (F.col("total_sales") / F.col("total_orders")).alias("avg_order_value"),
        (F.col("total_sales") / F.greatest(lifespan, F.lit(1))).alias(
            "avg_monthly_spend"
        ),
    )
    return out


def build_product_report(
    fact_sales: DataFrame, dim_products: DataFrame
) -> DataFrame:
    """Gold KPI view: one row per sold product — order/customer reach,
    exact-decimal revenue, sales lifespan/recency, revenue segment
    (High/Mid/Low performer) and average selling price. Same determinism
    contract as :func:`build_customer_report` (data-derived reference
    date, DECIMAL→DOUBLE before division, broadcast dim)."""
    f = fact_sales.filter(
        F.col("order_date").isNotNull() & F.col("product_key").isNotNull()
    )
    ref = fact_sales.agg(F.max("order_date").alias("_ref_date"))
    dp = F.broadcast(
        dim_products.select(
            "product_key", "product_name", "category", "subcategory", "cost"
        )
    )
    agg = (
        f.join(dp, "product_key")
        .groupBy("product_key", "product_name", "category", "subcategory", "cost")
        .agg(
            F.countDistinct("order_number").cast("long").alias("total_orders"),
            F.sum(F.col("sales_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_sales"),
            F.sum("quantity").cast("long").alias("total_quantity"),
            F.countDistinct("customer_key").cast("long").alias("total_customers"),
            F.min("order_date").alias("first_sale"),
            F.max("order_date").alias("last_sale"),
        )
    )
    months = lambda a, b: (  # noqa: E731
        (F.year(b) - F.year(a)) * 12 + (F.month(b) - F.month(a))
    ).cast("long")
    lifespan = months(F.col("first_sale"), F.col("last_sale"))
    return agg.crossJoin(F.broadcast(ref)).select(
        "product_key",
        "product_name",
        "category",
        "subcategory",
        "cost",
        "total_orders",
        "total_sales",
        "total_quantity",
        "total_customers",
        "first_sale",
        "last_sale",
        lifespan.alias("lifespan_months"),
        months(F.col("last_sale"), F.col("_ref_date")).alias("recency_months"),
        F.when(F.col("total_sales") > 50000, "High-Performer")
        .when(F.col("total_sales") >= 10000, "Mid-Range")
        .otherwise("Low-Performer")
        .alias("segment"),
        (F.col("total_sales") / F.col("total_quantity")).alias(
            "avg_selling_price"
        ),
        (F.col("total_sales") / F.greatest(lifespan, F.lit(1))).alias(
            "avg_monthly_revenue"
        ),
    )


# one lineage edge per real input table (multi-source fan-in like the
# reference's log_table_lineage, data_lineage.py:233-266) so upstream
# traversal crosses the gold boundary table-by-table
GOLD_INPUTS = {
    "dim_customers": [("silver", "crm_customers"), ("silver", "erp_customers"),
                      ("silver", "erp_locations")],
    "dim_products": [("silver", "crm_products"), ("silver", "erp_product_categories")],
    "fact_sales": [("silver", "crm_sales"), ("gold", "dim_products"),
                   ("gold", "dim_customers")],
    "report_customers": [("gold", "fact_sales"), ("gold", "dim_customers")],
    "report_products": [("gold", "fact_sales"), ("gold", "dim_products")],
}

#: logs-layer ledger of silver sales batches already reflected in gold
GOLD_BATCH_LOG_TABLE = "gold_batch_log"

#: logs-layer durable worklist of an in-flight incremental gold refresh:
#: written BEFORE the first destructive step (dim swap), cleared after the
#: last (ledger write). A crash in between leaves the affected-month list
#: on disk, so a replay rebuilds exactly those fact months + reports even
#: though the dim diff now reads as "unchanged" against the already-
#: swapped dims (round-6 ADVICE: the in-memory worklist hole).
GOLD_PENDING_TABLE = "gold_pending_months"

_PENDING_SCHEMA = "kind string, order_month date"


def _read_pending(catalog) -> tuple[list, bool]:
    """(pending month values, refresh-in-flight flag) from a prior
    crashed incremental run; ([], False) when none."""
    if not catalog.table_exists("logs", GOLD_PENDING_TABLE):
        return [], False
    rows = (
        catalog.spark.table(catalog.qualified("logs", GOLD_PENDING_TABLE))
        .select("kind", "order_month")
        .collect()
    )
    months = [r["order_month"] for r in rows if r["kind"] == "month"]
    return months, bool(rows)


def _write_pending(catalog, months) -> None:
    """Durably record the refresh worklist: one 'sync' sentinel (reports
    must be rebuilt) plus one 'month' row per affected fact month."""
    rows = [("sync", None)] + [("month", m) for m in months]
    df = local_rows(catalog.spark, rows, _PENDING_SCHEMA).withColumn(
        "recorded_at", F.current_timestamp()
    )
    catalog.overwrite(df, "logs", GOLD_PENDING_TABLE)


def _clear_pending(catalog) -> None:
    if not catalog.table_exists("logs", GOLD_PENDING_TABLE):
        return
    empty = local_rows(
        catalog.spark, [], _PENDING_SCHEMA + ", recorded_at timestamp"
    )
    catalog.overwrite(empty, "logs", GOLD_PENDING_TABLE)


def _write_gold(
    catalog, name: str, df, *, run_context=None, partial: bool = False
) -> int:
    """Write one gold table and its lineage edges. ``partial`` replaces
    only the ``fact_sales`` month partitions present in ``df`` and
    returns the rebuilt row count; otherwise the whole table is replaced
    and its row count returned."""
    managed, count = observe_rows(
        with_medallion_metadata(df, created_by="gold", source_system="silver")
    )
    if partial:
        catalog.overwrite_partitions(managed, "gold", "fact_sales")
    else:
        parts = ["order_month"] if name == "fact_sales" else []
        catalog.overwrite(managed, "gold", name, partition_by=parts)
    n = count()
    if run_context is not None:
        for src_layer, src_table in GOLD_INPUTS[name]:
            run_context.log_lineage(
                source_schema=catalog.db(src_layer),
                source_table=src_table,
                target_schema=catalog.db("gold"),
                target_table=name,
                transformation_logic=f"build_{name}"
                + ("[incremental]" if partial else ""),
                record_count=n,
            )
    return n


def _write_side_by_side(catalog, dfs: dict, run_context) -> dict[str, int]:
    """:func:`_write_gold` for independent gold tables at once
    (:func:`session.fan_out`); returns ``{name: rows}`` in ``dfs`` order."""
    rows = fan_out(catalog.spark, [
        functools.partial(_write_gold, catalog, name, df, run_context=run_context)
        for name, df in dfs.items()
    ])
    return dict(zip(dfs, rows))


def run_gold(catalog, *, run_context=None) -> dict[str, int]:
    """Silver → gold star schema + KPI report views as managed tables: the
    refresh of :func:`run_gold_incremental` with every silver sales batch
    treated as new and every gold table replaced. Records the batches it
    applied in ``logs.gold_batch_log``. Returns ``{gold_table: rows}``."""
    return _refresh(catalog, full=True, run_context=run_context)["tables"]


def run_gold_incremental(catalog, *, run_context=None) -> dict:
    """Silver → gold refreshing ONLY what new data touched.

    Extends the silver batch ledger through gold (the reference's
    incremental-load intent, ``sql/dml.py:340-391``, carried across the
    full medallion): ``logs.gold_batch_log`` records which silver sales
    batches (the ``_ingestion_batch_id`` provenance every silver sales
    row carries) are already reflected in ``gold.fact_sales``, and a
    refresh rebuilds only the ``order_month`` partitions whose inputs
    changed — at a 100 TB fact a one-batch refresh re-scans and rewrites
    one month, not every month.

    Affected months are the union of:

    - months of the NEW silver sales batches (ledger set-difference —
      exact, no timestamp boundary);
    - months of existing fact rows whose dim surrogate mapping CHANGED
      or VANISHED (full dim rebuilds are cheap — dims are small — but a
      ``row_number`` surrogate shift must invalidate the fact rows that
      reference the old keys; detected by diffing the old vs new
      (natural key → surrogate key) pairs, read via a column-pruned
      scan of just (order_month, customer_key/product_key));
    - months of NULL-surrogate fact rows when a dim gained new natural
      keys (late-arriving dimension: a previously unmatched fact row
      may now resolve).

    Dims rebuild fully but are REWRITTEN only when their content
    actually changed (row-level symmetric difference on the data
    columns); reports rebuild whenever the fact or a dim changed. The
    partition swap is a dynamic-partition overwrite, so untouched month
    directories keep their files byte-for-byte.

    Crash-safety: the affected-month worklist is persisted to
    ``logs.gold_pending_months`` BEFORE the first destructive step (the
    dim swap) and cleared only after the last (the ledger write). Every
    step in between is idempotent (dim generation publishes, deterministic
    partition rebuilds), and a replay after a crash unions the durable
    worklist into its own — so even the window where the dims are
    already swapped (and the dim diff reads "unchanged") still rebuilds
    the fact months whose surrogate keys shifted, plus the reports.
    The ledger itself is written LAST. When gold does not exist yet the
    refresh builds every table, as :func:`run_gold` does (mode ``full``).
    """
    return _refresh(catalog, full=False, run_context=run_context)


def _refresh(catalog, *, full: bool, run_context=None) -> dict:
    """The one gold write path. ``full`` replaces every table; otherwise
    only what the new batches and the dim changes touched. The steps run
    in order — dims, fact, reports, ledger, worklist clear — and within a
    step the independent tables write side by side: the two dims, then
    the two reports."""
    from sql_data_warehouse_analytics_project_spark.medallion.silver import (
        _ledger_diff,
        _record_batches,
    )

    read = lambda t: catalog.read("silver", t)  # noqa: E731
    sales = read("crm_sales")
    full = full or not all(
        catalog.table_exists("gold", t)
        for t in ("dim_customers", "dim_products", "fact_sales")
    )
    new_sales, new_batches = _ledger_diff(
        catalog, GOLD_BATCH_LOG_TABLE, "crm_sales", sales
    )
    dim_c = build_dim_customers(
        read("crm_customers"), read("erp_customers"), read("erp_locations")
    )
    dim_p = build_dim_products(read("crm_products"), read("erp_product_categories"))
    if full:
        c_changed = p_changed = True
        months, in_flight = [], False
    else:
        # materialize once: the change probe, the mapping diff, and the
        # possible rewrite all reuse the result
        dim_c = dim_c.localCheckpoint(eager=False)
        dim_p = dim_p.localCheckpoint(eager=False)
        c_changed, p_changed, months, in_flight = _affected_months(
            catalog, new_sales, new_batches, dim_c, dim_p
        )
        if months is None:
            return {"mode": "noop", "batches": 0, "rebuilt_months": [], "tables": {}}
        # persist the worklist BEFORE the first swap: a crash anywhere
        # below leaves it on disk for the replay to pick up
        _write_pending(catalog, months)

    dims = (("dim_customers", dim_c, c_changed), ("dim_products", dim_p, p_changed))
    tables = _write_side_by_side(
        catalog, {name: df for name, df, changed in dims if changed}, run_context
    )
    # Each table is built from the PERSISTED tables upstream of it (the
    # fact from the written dims, the reports from the written fact), so
    # the silver→dims→fact pipeline executes once and the declared
    # lineage edges describe what physically happened.
    dim_customers = catalog.read("gold", "dim_customers")
    dim_products = catalog.read("gold", "dim_products")
    if full or months:
        # The persisted fact is directory-partitioned by order month: BI
        # queries are overwhelmingly month-scoped, and partition pruning
        # turns them into a scan of 1/N of a 100 TB fact. Rows with an
        # unparseable order date land in the NULL partition. A refresh
        # reads its months through silver's own ``_order_month``
        # partitions — every silver row of those months (all batches),
        # so each rebuilt partition is complete.
        scoped = sales
        if not full:
            month = F.col("_order_month")
            vals = [m for m in months if m is not None]
            cond = month.isin(vals) if vals else F.lit(False)
            if None in months:
                cond = cond | month.isNull()
            scoped = sales.filter(cond)
        tables["fact_sales"] = _write_gold(
            catalog,
            "fact_sales",
            build_fact_sales(scoped, dim_products, dim_customers).withColumn(
                "order_month", F.trunc("order_date", "month")
            ),
            run_context=run_context,
            partial=not full,
        )
    if months or c_changed or p_changed or in_flight:
        fact_sales = catalog.read("gold", "fact_sales")
        tables |= _write_side_by_side(catalog, {
            "report_customers": build_customer_report(fact_sales, dim_customers),
            "report_products": build_product_report(fact_sales, dim_products),
        }, run_context)

    _record_batches(catalog, "crm_sales", new_batches, table=GOLD_BATCH_LOG_TABLE)
    # done: drop the worklist (a full build writes none, and it also
    # supersedes one that a crashed refresh left; rerun a crashed full
    # build as a full build)
    _clear_pending(catalog)
    if full:
        return {"mode": "full", "batches": None, "rebuilt_months": None,
                "tables": tables}
    return {
        "mode": "incremental",
        "batches": len(new_batches),
        "rebuilt_months": sorted(
            m.isoformat() if m is not None else "NULL" for m in months
        ),
        "replayed_pending": in_flight,
        "tables": tables,
    }


def _affected_months(catalog, new_sales, new_batches, new_dim_c, new_dim_p):
    """``(customers changed, products changed, fact months to rebuild,
    replaying a crashed refresh)`` for an incremental refresh; the months
    are ``None`` when nothing gold reads changed. The two dim diffs run
    side by side (:func:`session.fan_out`)."""
    spark = catalog.spark
    # durable worklist of a refresh that crashed mid-swap (see docstring)
    carry_months, in_flight = _read_pending(catalog)

    def dim_state(name, new_df, natural, skey):
        """Hash-bucketed dim diff: one narrow join instead of five
        full-width ``exceptAll`` shuffles.

        Both sides reduce to ``(natural key, surrogate key, sha2 row
        hash over the data columns)`` and meet in a single null-safe
        full-outer join on the natural key. At a 100M-row dim this
        shuffles three narrow columns once; the previous exceptAll
        formulation shuffled every dim column four times (change probe
        both ways) plus two more narrow passes (stale mappings, gained
        keys). The joined state is materialized once and all three
        signals — changed / stale surrogates / gained naturals — read
        from it. Semantics match the multiset exceptAll diff because
        the silver cleaners guarantee one row per natural key (dedup
        per ``cst_id``; SCD2 current-only per ``prd_key``); sha2-256
        collisions are the only theoretical divergence.
        """
        from sql_data_warehouse_analytics_project_spark.functions.scalars import (
            row_hash,
        )

        old = spark.table(catalog.qualified("gold", name))
        data_cols = [c for c in old.columns if c not in MEDALLION_METADATA_COLUMNS]
        o = old.select(
            F.col(natural).alias("_o_nat"),
            F.col(skey).alias("_o_sk"),
            row_hash(*data_cols).alias("_o_h"),
        )
        n = new_df.select(
            F.col(natural).alias("_n_nat"),
            F.col(skey).alias("_n_sk"),
            row_hash(*data_cols).alias("_n_h"),
        )
        # eqNullSafe: a NULL natural key must pair with its counterpart,
        # not fall out of the join (which would read as delete+insert)
        state = o.join(
            n, o["_o_nat"].eqNullSafe(n["_n_nat"]), "full_outer"
        ).localCheckpoint(eager=True)
        changed = not state.filter(
            F.col("_o_h").isNull()
            | F.col("_n_h").isNull()
            | (F.col("_o_h") != F.col("_n_h"))
        ).isEmpty()
        # old surrogate keys whose (natural → surrogate) mapping is gone
        stale = (
            state.filter(
                F.col("_o_sk").isNotNull()
                & ~F.col("_o_sk").eqNullSafe(F.col("_n_sk"))
            )
            .select(F.col("_o_sk").alias(skey))
            .distinct()
        )
        gained = not state.filter(F.col("_o_h").isNull()).isEmpty()
        return changed, (stale if changed else None), gained and changed

    (c_changed, c_stale, c_gained), (p_changed, p_stale, p_gained) = fan_out(spark, [
        functools.partial(
            dim_state, "dim_customers", new_dim_c, "customer_id", "customer_key"
        ),
        functools.partial(
            dim_state, "dim_products", new_dim_p, "product_number", "product_key"
        ),
    ])

    if not new_batches and not c_changed and not p_changed and not in_flight:
        return c_changed, p_changed, None, in_flight

    # Affected months — each probe is a column-pruned scan of the fact's
    # (order_month, key) columns only, and runs only when a dim changed.
    fact_old = spark.table(catalog.qualified("gold", "fact_sales"))
    month_sets = [
        new_sales.select(
            F.trunc("sls_order_dt", "month").alias("order_month")
        ).distinct()
    ]
    if c_changed and not c_stale.isEmpty():
        month_sets.append(
            fact_old.join(F.broadcast(c_stale), "customer_key", "semi")
            .select("order_month")
            .distinct()
        )
    if p_changed and not p_stale.isEmpty():
        month_sets.append(
            fact_old.join(F.broadcast(p_stale), "product_key", "semi")
            .select("order_month")
            .distinct()
        )
    if c_gained or p_gained:
        month_sets.append(
            fact_old.filter(
                F.col("customer_key").isNull() | F.col("product_key").isNull()
            )
            .select("order_month")
            .distinct()
        )
    months_df = month_sets[0]
    for m in month_sets[1:]:
        months_df = months_df.union(m)
    months = list(
        {r[0] for r in months_df.distinct().collect()} | set(carry_months)
    )
    return c_changed, p_changed, months, in_flight
