"""Silver-layer cleansing transforms for the reference dataset.

The reference declares silver ("cleansed, standardized") but never
implements it (``main.py:551-603``); these transforms implement the
intended semantics, driven by the profiled defects of the six source CSVs
(SURVEY.md §1.4, FIXTURES.md §A). Each is DataFrame-in → DataFrame-out,
built from the generic cleansing operators.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.catalog import observe_rows
from sql_data_warehouse_analytics_project_spark.functions.scalars import (
    safe_div,
    yyyymmdd_to_date,
)
from sql_data_warehouse_analytics_project_spark.operators.cleansing import (
    clamp_to_null,
    dedup_keep_latest,
    null_if_blank,
    scd2_end_dates,
    standardize_codes,
)
from sql_data_warehouse_analytics_project_spark.session import fan_out, local_rows

MARITAL_STATUS = {"M": "Married", "S": "Single"}
GENDER = {"M": "Male", "F": "Female", "MALE": "Male", "FEMALE": "Female"}
PRODUCT_LINE = {"M": "Mountain", "R": "Road", "S": "Other Sales", "T": "Touring"}
COUNTRY = {
    "US": "United States",
    "USA": "United States",
    "UNITED STATES": "United States",
    "DE": "Germany",
    "GERMANY": "Germany",
    "AUSTRALIA": "Australia",
    "CANADA": "Canada",
    "FRANCE": "France",
    "UNITED KINGDOM": "United Kingdom",
}


def clean_crm_customers(df: DataFrame) -> DataFrame:
    """cust_info defects: whitespace in names, duplicate ``cst_id`` (keep
    latest by create date), null ids, code columns with blanks."""
    out = df.filter(F.col("cst_id").isNotNull())
    out = dedup_keep_latest(out, ["cst_id"], "cst_create_date")
    return out.select(
        F.col("cst_id").cast("int"),
        F.trim(F.col("cst_key")).alias("cst_key"),
        F.trim(F.col("cst_firstname")).alias("cst_firstname"),
        F.trim(F.col("cst_lastname")).alias("cst_lastname"),
        standardize_codes("cst_marital_status", MARITAL_STATUS).alias(
            "cst_marital_status"
        ),
        standardize_codes("cst_gndr", GENDER).alias("cst_gndr"),
        F.col("cst_create_date").cast("date"),
    )


def clean_crm_products(df: DataFrame) -> DataFrame:
    """prd_info defects: trailing-space line codes, null cost, SCD2 rows
    with inverted end dates. Adds the ERP category join key
    (first 5 chars of ``prd_key``, '-'→'_') and the sales join key
    (chars 7+)."""
    out = scd2_end_dates(df, ["prd_key"], "prd_start_dt", "prd_end_dt")
    return out.select(
        F.col("prd_id").cast("int"),
        F.replace(F.substring("prd_key", 1, 5), F.lit("-"), F.lit("_")).alias("cat_id"),
        F.expr("substring(prd_key, 7)").alias("prd_key"),
        F.col("prd_nm"),
        F.coalesce(F.col("prd_cost").cast("int"), F.lit(0)).alias("prd_cost"),
        standardize_codes("prd_line", PRODUCT_LINE).alias("prd_line"),
        F.col("prd_start_dt").cast("date"),
        F.col("prd_end_dt").cast("date"),
    )


def clean_crm_sales(df: DataFrame) -> DataFrame:
    """sales_details defects: int yyyymmdd dates with 0/garbage → NULL;
    ``sls_sales`` null or ≠ quantity×price → recompute; null/≤0 price →
    derive from sales/quantity. Row-local, so ``_``-prefixed columns
    (bronze provenance such as ``_ingestion_batch_id``) pass through."""
    sales_raw = F.col("sls_sales").cast("double")
    qty = F.col("sls_quantity").cast("int")
    price_raw = F.col("sls_price").cast("double")
    sales_fixed = F.when(
        sales_raw.isNull() | (sales_raw <= 0) | (sales_raw != qty * F.abs(price_raw)),
        qty * F.abs(price_raw),
    ).otherwise(sales_raw)
    price_fixed = F.when(
        price_raw.isNull() | (price_raw <= 0), safe_div(sales_fixed, qty)
    ).otherwise(price_raw)
    return df.select(
        F.col("sls_ord_num"),
        F.col("sls_prd_key"),
        F.col("sls_cust_id").cast("int"),
        yyyymmdd_to_date("sls_order_dt").alias("sls_order_dt"),
        yyyymmdd_to_date("sls_ship_dt").alias("sls_ship_dt"),
        yyyymmdd_to_date("sls_due_dt").alias("sls_due_dt"),
        sales_fixed.alias("sls_sales"),
        qty.alias("sls_quantity"),
        price_fixed.alias("sls_price"),
        *[c for c in df.columns if c.startswith("_")],
    )


def clean_erp_customers(df: DataFrame) -> DataFrame:
    """CUST_AZ12 defects: ``NAS`` prefix on CID; future birthdates; messy
    gender variants."""
    cid = F.upper(F.trim(F.col("CID")))
    return df.select(
        F.when(cid.startswith("NAS"), F.expr("substring(trim(CID), 4)"))
        .otherwise(F.trim(F.col("CID")))
        .alias("cid"),
        clamp_to_null(
            F.col("BDATE").cast("date"), max_value=F.current_date()
        ).alias("bdate"),
        standardize_codes("GEN", GENDER).alias("gen"),
    )


def clean_erp_locations(df: DataFrame) -> DataFrame:
    """LOC_A101 defects: ``-`` inside CID; country variants + blanks."""
    return df.select(
        F.replace(F.trim(F.col("CID")), F.lit("-"), F.lit("")).alias("cid"),
        standardize_codes("CNTRY", COUNTRY, default="n/a").alias("cntry"),
    )


def clean_erp_product_categories(df: DataFrame) -> DataFrame:
    """PX_CAT_G1V2 — clean dimension; normalize names only."""
    return df.select(
        F.trim(F.col("ID")).alias("id"),
        F.trim(F.col("CAT")).alias("cat"),
        F.trim(F.col("SUBCAT")).alias("subcat"),
        F.trim(F.col("MAINTENANCE")).alias("maintenance"),
    )


SILVER_TRANSFORMS = {
    "crm_customers_raw": ("crm_customers", clean_crm_customers),
    "crm_products_raw": ("crm_products", clean_crm_products),
    "crm_sales_raw": ("crm_sales", clean_crm_sales),
    "erp_customers_raw": ("erp_customers", clean_erp_customers),
    "erp_locations_raw": ("erp_locations", clean_erp_locations),
    "erp_product_categories_raw": ("erp_product_categories", clean_erp_product_categories),
}

# Incremental-refresh strategy per transform (see run_silver_incremental):
#
# - ``keyed``: the transform has cross-row semantics per natural key
#   (dedup-keep-latest, SCD2 end-date recompute) or the source is a
#   dimension snapshot that re-delivers keys. Dirtiness is tracked in
#   NORMALIZED silver-key space: ``key_exprs`` re-states, per silver key
#   column, the cleaner's key-normalization as an expression over BRONZE
#   columns (trim / NAS-strip / '-'-strip / substring split). New batches'
#   normalized keys are marked dirty; every bronze row whose normalized
#   key is dirty is re-cleaned (a semi join against the broadcast-sized
#   dirty set), and silver rows carrying a dirty key are replaced.
#   Scoping by the normalized key — not the raw bronze key — matters
#   because the normalization is NOT injective: bronze CIDs 'NAS123' and
#   '123' both clean to cid '123'. A raw-key scope that saw only one of
#   them dirty would delete the other's silver row and never regenerate
#   it; the normalized scope pulls in every bronze row that collides on
#   the silver key, so delete-set == regenerate-set by construction.
#   Correct whenever bronze is append-only and the cleaner's key columns
#   are exactly the ``key_exprs`` image of the bronze row (true for all
#   five keyed sources; cross-row group transforms stay complete because
#   all rows of a bronze key group share one normalized key).
# - ``append``: the transform is row-local and the source is append-only
#   facts — new batches clean and append without touching history. Each
#   appended silver row carries its bronze ``_ingestion_batch_id``, so a
#   crash between the data append and the ledger write cannot double-apply
#   a batch on retry (the sink skips batches already present in silver).
def _erp_cid_expr():
    cid = F.trim(F.col("CID"))
    return F.when(
        F.upper(cid).startswith("NAS"), F.expr("substring(trim(CID), 4)")
    ).otherwise(cid)


SILVER_INCREMENTAL = {
    "crm_customers_raw": {
        "mode": "keyed",
        "silver_keys": ["cst_id"],
        "key_exprs": {"cst_id": lambda: F.col("cst_id").cast("int")},
    },
    "crm_products_raw": {
        # the silver identity of a product VERSION group is (cat_id,
        # prd_key) — the split image of the bronze prd_key; prd_id is
        # row-unique but not closed under the split ('CO-RF' and 'CO_RF'
        # prefixes collide on cat_id), so the group key is the safe scope
        "mode": "keyed",
        "silver_keys": ["cat_id", "prd_key"],
        "key_exprs": {
            "cat_id": lambda: F.replace(
                F.substring("prd_key", 1, 5), F.lit("-"), F.lit("_")
            ),
            "prd_key": lambda: F.expr("substring(prd_key, 7)"),
        },
    },
    "crm_sales_raw": {"mode": "append"},
    "erp_customers_raw": {
        "mode": "keyed",
        "silver_keys": ["cid"],
        "key_exprs": {"cid": _erp_cid_expr},
    },
    "erp_locations_raw": {
        "mode": "keyed",
        "silver_keys": ["cid"],
        "key_exprs": {
            "cid": lambda: F.replace(F.trim(F.col("CID")), F.lit("-"), F.lit(""))
        },
    },
    "erp_product_categories_raw": {
        "mode": "keyed",
        "silver_keys": ["id"],
        "key_exprs": {"id": lambda: F.trim(F.col("ID"))},
    },
}

#: logs-layer ledger of bronze batches already reflected in silver
BATCH_LOG_TABLE = "silver_batch_log"
#: the columns a ledger append supplies (``processed_at`` is added on write)
LEDGER_SCHEMA = "table_name string, _ingestion_batch_id string"

# Directory partitioning for fact-scale silver tables: the sales fact is
# partitioned by a derived order month (the same grain as gold.fact_sales),
# so month-scoped consumers — the incremental gold rebuild above all —
# prune to 1/N of the table instead of scanning 100 TB of silver. The
# column is derived at write time (underscore-prefixed: infrastructure,
# not data, so row hashes leave it out). Dimension-sized tables stay
# unpartitioned.
SILVER_PARTITIONING = {
    "crm_sales": ("_order_month", lambda: F.trunc("sls_order_dt", "month")),
}


def run_silver(catalog, *, run_context=None) -> dict[str, int]:
    """Bronze → silver for every registered transform: the refresh of
    :func:`run_silver_incremental` with every current bronze batch treated
    as new and every silver table replaced. Records the batches it applied
    in ``logs.silver_batch_log``, so a later incremental refresh picks up
    exactly where it stopped. Returns ``{silver_table: rows}``."""
    return {
        t: r["rows"]
        for t, r in _refresh(catalog, full=True, run_context=run_context).items()
    }


def _record_batches(
    catalog, raw_table: str, batch_ids, *, table: str = BATCH_LOG_TABLE
) -> None:
    _record_ledger(catalog, [(raw_table, b) for b in batch_ids], table=table)


def _record_ledger(catalog, rows, *, table: str = BATCH_LOG_TABLE) -> None:
    """One append of ``(table_name, _ingestion_batch_id)`` rows."""
    if not rows:
        return
    df = local_rows(catalog.spark, rows, LEDGER_SCHEMA).withColumn(
        "processed_at", F.current_timestamp()
    )
    catalog.append(df, "logs", table)


def _ledger_diff(catalog, ledger_table: str, source_name: str, df):
    """Anti-join ``df`` against the ledger's recorded batch ids for
    ``source_name``; returns (new_rows_df, new_batch_ids)."""
    spark = catalog.spark
    new = df
    if catalog.table_exists("logs", ledger_table):
        done = (
            spark.table(catalog.qualified("logs", ledger_table))
            .filter(F.col("table_name") == source_name)
            .select("_ingestion_batch_id")
        )
        new = df.join(F.broadcast(done.distinct()), "_ingestion_batch_id", "left_anti")
    batches = [r[0] for r in new.select("_ingestion_batch_id").distinct().collect()]
    return new, batches


def _clean(bronze_rows, raw_table: str, silver_table: str, fn):
    """Bronze rows → silver rows: the cleaner over the data columns (the
    row-local ones carry ``_ingestion_batch_id`` through), the managed
    metadata, and the derived partition column."""
    from sql_data_warehouse_analytics_project_spark.catalog import (
        with_medallion_metadata,
    )
    from sql_data_warehouse_analytics_project_spark.medallion.bronze import (
        BRONZE_METADATA_COLUMNS,
    )

    data = bronze_rows.drop(
        *[c for c in BRONZE_METADATA_COLUMNS if c != "_ingestion_batch_id"]
    )
    out = with_medallion_metadata(
        fn(data), source_system=raw_table.split("_")[0], created_by="silver"
    )
    if silver_table in SILVER_PARTITIONING:
        part_name, part_expr = SILVER_PARTITIONING[silver_table]
        out = out.withColumn(part_name, part_expr())
    return out


def run_silver_incremental(
    catalog, *, run_context=None, tables=None
) -> dict[str, dict]:
    """Bronze → silver processing ONLY the batches not yet reflected in
    silver (ledger: ``logs.silver_batch_log`` keyed by
    ``_ingestion_batch_id`` — set difference, so there is no timestamp
    boundary to mis-handle). Batch-id bookkeeping is exact where a
    high-watermark would need a tie-break rule.

    Per-table strategy comes from :data:`SILVER_INCREMENTAL`:

    - ``append`` (row-local fact transforms): the new batches' current
      rows are cleaned and appended — work and writes are both
      new-data-sized, the shape that holds at a 100 TB fact. The cleaner
      carries each row's bronze ``_ingestion_batch_id`` into silver (row
      hashes leave ``_`` columns out, so they stay comparable to a full
      rebuild): the append first skips any batch already present in
      silver, which makes the append→ledger sequence crash-idempotent —
      a retry after a crash between the two writes re-records the ledger
      but never re-appends the rows.
    - ``keyed`` (cross-row transforms / dimension snapshots): the new
      batches' NORMALIZED silver keys (``key_exprs`` over bronze — see
      the :data:`SILVER_INCREMENTAL` notes on non-injective mappings)
      are marked dirty, every bronze row normalizing to a dirty key is
      re-cleaned (a semi join against the broadcast-sized dirty-key set
      — compute is dirty-key-sized, never corpus-sized), and the silver
      rows carrying a dirty key are replaced. The physical replace is
      :meth:`Catalog.overwrite`'s generation write + atomic view
      republish (parquet has no row-level delete; on Delta this step
      becomes a MERGE) — acceptable because every keyed
      table here is a dimension; fact-scale tables belong in ``append``
      mode. A replayed keyed batch recomputes to the identical state, so
      the crash window before the ledger write is harmless here too.

    A silver table that does not exist yet is built from all current
    bronze rows, as :func:`run_silver` builds it (mode ``full``). The
    ledger is appended once, after every data write of the call.
    ``tables`` (bronze raw-table names) scopes the refresh — the
    streaming bronze sink passes its own table so a micro-batch never
    probes the other five ledgers. Returns
    ``{silver_table: {mode, batches, rows}}``; a table with no new
    batches reports ``batches: 0`` and is untouched.
    """
    return _refresh(catalog, full=False, run_context=run_context, tables=tables)


def _refresh(catalog, *, full: bool, run_context=None, tables=None) -> dict:
    """The one silver write path. ``full`` replaces every table from all
    current bronze; otherwise each table applies only its new batches.
    The tables are independent, so they refresh side by side
    (:func:`session.fan_out`); results keep :data:`SILVER_TRANSFORMS`
    order, and the one ledger append runs after every table's write."""
    units = [
        partial(_refresh_table, catalog, raw_table, silver_table, fn,
                full=full, run_context=run_context)
        for raw_table, (silver_table, fn) in SILVER_TRANSFORMS.items()
        if tables is None or raw_table in tables
    ]
    results: dict[str, dict] = {}
    ledger: list = []
    for out in fan_out(catalog.spark, units):
        if out is not None:
            silver_table, result, batches = out
            results[silver_table] = result
            ledger += batches
    # one ledger append per stage, after every data write: a crash before
    # it re-offers the batches, which the applied-batch probe (append) and
    # the deterministic recompute (keyed, full) make harmless
    _record_ledger(catalog, ledger)
    return results


def _refresh_table(
    catalog, raw_table: str, silver_table: str, fn, *, full: bool, run_context
):
    """Refresh one silver table; returns ``(silver_table, result, ledger
    rows)``, or None when its bronze table does not exist."""
    spark = catalog.spark
    if not catalog.table_exists("bronze", raw_table):
        return None
    bronze_all = spark.table(catalog.qualified("bronze", raw_table))
    if "_is_current" in bronze_all.columns:
        bronze_all = bronze_all.filter(F.col("_is_current"))
    new, new_batches = _ledger_diff(catalog, BATCH_LOG_TABLE, raw_table, bronze_all)
    replace = full or not catalog.table_exists("silver", silver_table)
    if not replace and not new_batches:
        return silver_table, {"mode": "noop", "batches": 0, "rows": 0}, []

    spec = SILVER_INCREMENTAL[raw_table]
    qsilver = catalog.qualified("silver", silver_table)

    if replace:
        part = SILVER_PARTITIONING.get(silver_table)
        cleaned, count = observe_rows(_clean(bronze_all, raw_table, silver_table, fn))
        catalog.overwrite(
            cleaned, "silver", silver_table,
            partition_by=[part[0]] if part else [],
        )
        mode, n = "full", count()
    elif spec["mode"] == "append":
        # which of the new batches already landed in silver? (crash
        # between append and ledger write — skip, don't double-apply)
        # Probe ONLY the new batches' ids, not the whole fact: the
        # isin filter rides parquet row-group stats and dictionary
        # filters, so untouched files are skipped and the probe stays
        # new-batch-sized at a 100 TB fact.
        applied = [
            r[0]
            for r in spark.table(qsilver)
            .select("_ingestion_batch_id")
            .filter(F.col("_ingestion_batch_id").isin(new_batches))
            .distinct()
            .collect()
        ]
        n = 0
        if len(applied) < len(new_batches):
            todo = new.filter(~F.col("_ingestion_batch_id").isin(applied))
            cleaned, count = observe_rows(_clean(todo, raw_table, silver_table, fn))
            catalog.append(cleaned, "silver", silver_table)
            n = count()
        mode = "append"
    else:
        skeys = spec["silver_keys"]
        key_exprs = spec["key_exprs"]
        sk = [f"_sk_{k}" for k in skeys]

        def with_norm_keys(d):
            # internal _sk_ names: bronze columns like CID would
            # case-insensitively collide with a computed 'cid'
            for name, mk in zip(sk, (key_exprs[k] for k in skeys)):
                d = d.withColumn(name, mk())
            return d

        dirty = with_norm_keys(new).select(*sk).distinct()

        def null_safe_cond(left_alias, right_alias, lcols, rcols):
            # NULL normalized keys (e.g. a NULL source CID) must ride
            # the refresh like any other key — a plain equi join drops
            # them, silently losing the row vs a full rebuild
            cond = None
            for lc, rc in zip(lcols, rcols):
                c = F.col(f"{left_alias}.{lc}").eqNullSafe(
                    F.col(f"{right_alias}.{rc}")
                )
                cond = c if cond is None else cond & c
            return cond

        scope = (
            with_norm_keys(bronze_all)
            .alias("_b")
            .join(
                F.broadcast(dirty).alias("_d"),
                null_safe_cond("_b", "_d", sk, sk),
                "semi",
            )
            .drop(*sk)
        )
        recleaned, count = observe_rows(_clean(scope, raw_table, silver_table, fn))
        target = spark.table(qsilver)
        # delete scope = the DIRTY key set (not recleaned's keys): the
        # two coincide while bronze is append-only, but dirty also
        # covers a key whose rows were all retired via _is_current
        dirty_s = dirty.toDF(*skeys)
        keep = target.alias("_t").join(
            F.broadcast(dirty_s).alias("_ds"),
            null_safe_cond("_t", "_ds", skeys, skeys),
            "left_anti",
        )
        catalog.overwrite(keep.unionByName(recleaned), "silver", silver_table)
        mode, n = "keyed", count()

    if run_context is not None:
        run_context.log_lineage(
            source_schema=catalog.db("bronze"),
            source_table=raw_table,
            target_schema=catalog.db("silver"),
            target_table=silver_table,
            transformation_logic=f"{fn.__name__}[{mode}]",
            record_count=n,
        )
    result = {"mode": mode, "batches": len(new_batches), "rows": n}
    return silver_table, result, [(raw_table, b) for b in new_batches]
