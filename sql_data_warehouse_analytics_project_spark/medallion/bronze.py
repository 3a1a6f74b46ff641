"""Bronze ingestion pipeline (maps reference ``medallion/bronze.py``).

The reference's canonical flow (``load_csv_to_bronze``, ``bronze.py:389-591``):
start audit → pandas read → infer schema → create table → enrich with seven
``_``-prefixed metadata columns (``bronze.py:106-114``) → batched row
INSERTs → lineage edge → throughput metric → end audit.

Spark-first re-expression: distributed ``spark.read.csv`` (schema inference
on executors), columnar ``withColumn`` enrichment (the per-row Python
SHA-256 of ``bronze.py:255-268`` becomes built-in ``sha2``), one bulk
append (no 10k-row commit loop — the batch knob is irrelevant to a
columnar sink). The audit/lineage/metric lifecycle wraps the job via an
optional ``RunContext`` (ops subsystem).

Scale note on ``_source_row_number``: the reference numbers rows 1..N in
pandas order. A faithful global row number needs a total order — fine
per-file (window partitioned BY FILE, ordered by an in-partition monotonic
id), unacceptable as one global window at 100 TB (SURVEY.md §7.2 risk 3).
Partitioning the window by ``_source_file`` keeps it parallel across files.
"""

from __future__ import annotations

import uuid
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.catalog import Catalog, observe_rows
from sql_data_warehouse_analytics_project_spark.functions.scalars import row_hash
from sql_data_warehouse_analytics_project_spark.session import fan_out
from sql_data_warehouse_analytics_project_spark.sources.readers import read_csv

#: Bronze ingestion metadata columns (reference ``bronze.py:106-114``).
BRONZE_METADATA_COLUMNS = (
    "_bronze_id",
    "_ingestion_timestamp",
    "_ingestion_batch_id",
    "_source_file",
    "_source_row_number",
    "_is_current",
    "_row_hash",
)


def new_batch_id() -> str:
    return uuid.uuid4().hex


def enrich_bronze(df: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Append the seven ``_`` metadata columns (``bronze.py:486-492``,
    ``_enrich_dataframe``). All columnar:

    - ``_bronze_id`` — surrogate id; ``monotonically_increasing_id`` is
      non-contiguous by design (partition-prefixed), which is the
      distributed-safe analogue of BIGSERIAL
    - ``_source_row_number`` — 1-based per source file (window per file)
    - ``_row_hash`` — sha2 over the sorted data columns
    """
    data_cols = [c for c in df.columns if c not in BRONZE_METADATA_COLUMNS]
    batch_id = batch_id or new_batch_id()
    w = Window.partitionBy("_source_file").orderBy(F.monotonically_increasing_id())
    return (
        df.withColumn("_source_file", F.input_file_name())
        .withColumn("_bronze_id", F.monotonically_increasing_id())
        .withColumn("_ingestion_timestamp", F.current_timestamp())
        .withColumn("_ingestion_batch_id", F.lit(batch_id))
        .withColumn("_source_row_number", F.row_number().over(w))
        .withColumn("_is_current", F.lit(True))
        .withColumn("_row_hash", row_hash(*data_cols))
    )


def load_csv_to_bronze(
    catalog: Catalog,
    csv_path: str,
    table: str,
    *,
    batch_id: str | None = None,
    run_context=None,
    **csv_options,
) -> dict:
    """CSV → enrich → append to ``bronze.<table>`` (idempotent create).

    Returns the reference's result contract (``bronze.py:553-569``):
    table, rows loaded, batch id, status. ``run_context`` (ops.RunContext)
    adds the audit/lineage/metric lifecycle when provided.
    """
    batch_id = batch_id or new_batch_id()
    df = read_csv(catalog.spark, csv_path, **csv_options)
    enriched, count = observe_rows(enrich_bronze(df, batch_id))
    # no explicit create_table: append-mode saveAsTable creates an absent
    # table from the data's schema (schema-on-read), and the empty-table
    # write was pure metastore overhead (~2.5s/file measured)
    catalog.append(enriched, "bronze", table)
    n = count()
    if run_context is not None:
        run_context.log_lineage(
            source_schema="source",
            source_table=csv_path.rsplit("/", 1)[-1].split(".")[0],
            target_schema=catalog.db("bronze"),
            target_table=table,
            transformation_logic="csv→bronze enrich+append",
            record_count=n,
        )
    return {
        "table": table,
        "rows_loaded": n,
        "batch_id": batch_id,
        "status": "SUCCESS",
    }


#: Fixed file→table manifests (reference ``bronze.py:593-700``).
CRM_FILES = {
    "cust_info.csv": "crm_customers_raw",
    "prd_info.csv": "crm_products_raw",
    "sales_details.csv": "crm_sales_raw",
}
ERP_FILES = {
    "CUST_AZ12.csv": "erp_customers_raw",
    "LOC_A101.csv": "erp_locations_raw",
    "PX_CAT_G1V2.csv": "erp_product_categories_raw",
}


def load_sources(
    catalog: Catalog, crm_dir: str, erp_dir: str, *, run_context=None
) -> dict[str, dict]:
    """Load both source systems' files (:data:`CRM_FILES` under
    ``crm_dir``, :data:`ERP_FILES` under ``erp_dir``) into their bronze
    tables; returns ``{table: result}``. A file that fails is recorded as
    FAILED (and in the error log) without halting the others
    (``bronze.py:626-628``).

    The files load side by side (:func:`session.fan_out`): each is an
    independent read and append. The reference loads them one after
    another because each load holds a PostgreSQL connection; Spark has no
    such limit."""
    files = [(f"{crm_dir}/{f}", t) for f, t in CRM_FILES.items()] + [
        (f"{erp_dir}/{f}", t) for f, t in ERP_FILES.items()
    ]

    def one(path: str, table: str) -> dict:
        try:
            return load_csv_to_bronze(catalog, path, table, run_context=run_context)
        except Exception as e:  # noqa: BLE001 — batch continues, error recorded
            if run_context is not None:
                run_context.log_error(e, table_name=table)
            return {"table": table, "status": "FAILED", "error": str(e)}

    results = fan_out(catalog.spark, [partial(one, p, t) for p, t in files])
    return {t: r for (_, t), r in zip(files, results)}
