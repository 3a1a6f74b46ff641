"""Warehouse orchestrator (maps reference ``main.py``
``DataWarehouseOrchestrator``: --setup :313-446, --bronze :452-545,
--silver/--gold placeholders :551-603 — implemented here for real).

Every stage runs under the RunContext lifecycle contract
(start → work → lineage → metric → end/FAILED, ``bronze.py:441-591``), so
the ``logs`` database is populated as a side effect of normal operation.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.medallion import bronze, gold, silver
from sql_data_warehouse_analytics_project_spark.ops.context import RunContext


class Warehouse:
    """setup → bronze → silver → gold, stop-on-first-failure per stage
    (``setup_orchestrator.py:585-598``). Full and incremental stages share
    one write path per layer: a full build records the batch ledgers, so
    ``run_all`` followed by ``run_bronze`` + the incremental stages applies
    each batch exactly once.

    Stages run one after another; inside a stage the independent table
    writes run side by side (:func:`session.fan_out`, which also states
    the failure rule): bronze's six files, silver's six tables, gold's
    two dims and then its two reports."""

    def __init__(self, spark: SparkSession, prefix: str = ""):
        self.catalog = Catalog(spark, prefix=prefix)

    def setup(self) -> RunContext:
        """Create layer databases + logs tables (logs first so later stages
        can audit-log, ``create_schemas.py:348-351``)."""
        self.catalog.create_layers()
        self.ctx = RunContext(self.catalog)
        return self.ctx

    def run_bronze(self, crm_dir: str, erp_dir: str) -> dict:
        ctx = self.ctx
        with ctx.run("bronze_ingestion", target_layer="bronze") as log_id:
            t0 = time.time()
            results = bronze.load_sources(
                self.catalog, crm_dir, erp_dir, run_context=ctx
            )
            rows = sum(r.get("rows_loaded", 0) for r in results.values())
            elapsed = max(time.time() - t0, 1e-9)
            # the reference's headline metric (bronze.py:543-551)
            ctx.record_metric(
                "bronze_ingestion.rows_per_second", rows / elapsed, "rows/sec",
                process_log_id=log_id,
            )
            failed = [t for t, r in results.items() if r.get("status") != "SUCCESS"]
            if failed:
                raise RuntimeError(f"bronze failures: {failed}")
        return results

    def run_silver(self) -> dict:
        with self.ctx.run("silver_transform", target_layer="silver") as log_id:
            with self.ctx.measure("silver_transform", process_log_id=log_id):
                return silver.run_silver(self.catalog, run_context=self.ctx)

    def run_silver_incremental(self) -> dict:
        """Silver refresh scoped to bronze batches not yet in the
        ``logs.silver_batch_log`` ledger (see
        ``silver.run_silver_incremental``)."""
        with self.ctx.run(
            "silver_incremental", target_layer="silver"
        ) as log_id:
            with self.ctx.measure("silver_incremental", process_log_id=log_id):
                return silver.run_silver_incremental(
                    self.catalog, run_context=self.ctx
                )

    def run_gold(self) -> dict:
        with self.ctx.run("gold_build", target_layer="gold") as log_id:
            with self.ctx.measure("gold_build", process_log_id=log_id):
                return gold.run_gold(self.catalog, run_context=self.ctx)

    def run_gold_incremental(self) -> dict:
        """Gold refresh scoped to silver sales batches not yet in the
        ``logs.gold_batch_log`` ledger: partition-scoped fact rebuild,
        dims/reports rebuilt only when changed (see
        ``gold.run_gold_incremental``)."""
        with self.ctx.run("gold_incremental", target_layer="gold") as log_id:
            with self.ctx.measure("gold_incremental", process_log_id=log_id):
                return gold.run_gold_incremental(
                    self.catalog, run_context=self.ctx
                )

    def run_all(self, crm_dir: str, erp_dir: str) -> dict:
        self.setup()
        return {
            "bronze": self.run_bronze(crm_dir, erp_dir),
            "silver": self.run_silver(),
            "gold": self.run_gold(),
        }
