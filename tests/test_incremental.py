"""Incremental silver refresh: batch-ledger bookkeeping, dirty-key
recompute for cross-row transforms (dedup-keep-latest, SCD2), append for
row-local facts — and the core guarantee: two incremental runs over two
bronze batches produce EXACTLY the silver a full rebuild of the combined
bronze produces."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.catalog import (
    MEDALLION_METADATA_COLUMNS,
    Catalog,
)
from sql_data_warehouse_analytics_project_spark.medallion import silver

CUST_SCHEMA = (
    "cst_id int, cst_key string, cst_firstname string, cst_lastname string, "
    "cst_marital_status string, cst_gndr string, cst_create_date date"
)
PROD_SCHEMA = (
    "prd_id int, prd_key string, prd_nm string, prd_cost int, "
    "prd_line string, prd_start_dt date, prd_end_dt date"
)
SALES_SCHEMA = (
    "sls_ord_num string, sls_prd_key string, sls_cust_id int, "
    "sls_order_dt long, sls_ship_dt long, sls_due_dt long, "
    "sls_sales long, sls_quantity long, sls_price long"
)

CUST_B1 = [
    (1, "K1", " Ann", "Lee ", "M", "F", date(2025, 1, 1)),
    (2, "K2", "Bob", "Ray", "S", "M", date(2025, 1, 1)),
    (None, "K0", "X", "Y", "S", "", date(2025, 1, 1)),
]
CUST_B2 = [
    (1, "K1", "Ann2", "Lee", "S", "F", date(2025, 2, 1)),  # newer dup of id 1
    (3, "K3", "Cyd", "Zed", "", "F", date(2025, 2, 2)),
]
PROD_B1 = [(10, "CO-RF-X1", "Thing", 5, "R", date(2025, 1, 1), None)]
PROD_B2 = [(11, "CO-RF-X1", "Thing v2", 6, "R", date(2025, 3, 1), None)]
SALES_B1 = [("O1", "X1", 1, 20250105, 20250110, 20250115, 10, 2, 5)]
SALES_B2 = [
    ("O2", "X1", 3, 0, 20250210, 20250215, None, 3, 4),  # bad date, null sales
]


def _bronze(spark, rows, schema, batch):
    return (
        spark.createDataFrame(rows, schema)
        .withColumn("_ingestion_batch_id", F.lit(batch))
        .withColumn("_is_current", F.lit(True))
    )


def _data_rows(cat, table, layer="silver"):
    # data columns + row_hash (which covers exactly the data columns);
    # timestamps/audit metadata and the _-prefixed infrastructure columns
    # (batch provenance, partition keys) are excluded by design
    df = cat.spark.table(cat.qualified(layer, table))
    cols = sorted(
        c for c in df.columns
        if (c not in MEDALLION_METADATA_COLUMNS or c == "row_hash")
        and not c.startswith("_")
    )
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


@pytest.fixture()
def cats(spark):
    inc, full = Catalog(spark, prefix="inc_"), Catalog(spark, prefix="incf_")
    for c in (inc, full):
        c.drop_layers()
        c.create_layers()
    yield inc, full
    for c in (inc, full):
        c.drop_layers()


def test_incremental_silver_matches_full_rebuild(spark, cats):
    inc, full = cats
    batches = {
        "crm_customers_raw": (CUST_SCHEMA, CUST_B1, CUST_B2),
        "crm_products_raw": (PROD_SCHEMA, PROD_B1, PROD_B2),
        "crm_sales_raw": (SALES_SCHEMA, SALES_B1, SALES_B2),
    }

    # incremental catalog: batch 1 → refresh, batch 2 → refresh
    for raw, (schema, b1, _) in batches.items():
        inc.append(_bronze(spark, b1, schema, "b1"), "bronze", raw)
    r1 = silver.run_silver_incremental(inc)
    assert r1["crm_customers"]["mode"] == "full"  # no silver yet: built whole
    for raw, (schema, _, b2) in batches.items():
        inc.append(_bronze(spark, b2, schema, "b2"), "bronze", raw)
    r2 = silver.run_silver_incremental(inc)
    assert r2["crm_customers"] == {"mode": "keyed", "batches": 1, "rows": 2}
    assert r2["crm_products"]["mode"] == "keyed"
    assert r2["crm_sales"]["mode"] == "append"

    # third run: ledger says everything is processed → all noop
    r3 = silver.run_silver_incremental(inc)
    assert all(v["mode"] == "noop" for v in r3.values())

    # full-rebuild catalog over the combined bronze
    for raw, (schema, b1, b2) in batches.items():
        full.append(_bronze(spark, b1, schema, "b1"), "bronze", raw)
        full.append(_bronze(spark, b2, schema, "b2"), "bronze", raw)
    silver.run_silver(full)

    for table in ("crm_customers", "crm_products", "crm_sales"):
        assert _data_rows(inc, table) == _data_rows(full, table), table

    # the SCD2 cross-row effect actually happened incrementally: batch 2's
    # new product version closed the OLD version's open end date
    prods = {
        r.prd_id: r.prd_end_dt
        for r in inc.spark.table(inc.qualified("silver", "crm_products")).collect()
    }
    assert prods[10] == date(2025, 2, 28) and prods[11] is None
    # dedup-keep-latest picked batch 2's newer duplicate for cst_id 1
    cust = {
        r.cst_id: r.cst_firstname
        for r in inc.spark.table(inc.qualified("silver", "crm_customers")).collect()
    }
    assert cust[1] == "Ann2" and set(cust) == {1, 2, 3}


ERP_CUST_SCHEMA = "CID string, BDATE date, GEN string"
ERP_LOC_SCHEMA = "CID string, CNTRY string"
ERP_CAT_SCHEMA = "ID string, CAT string, SUBCAT string, MAINTENANCE string"


def test_incremental_noninjective_key_normalization(spark, cats):
    """Distinct bronze keys that normalize to the SAME silver key ('NAS123'
    vs '123'; 'AW-1' vs 'AW1') across different batches: dirtying one must
    re-clean the other's bronze rows too, or its silver row is silently
    deleted by the keyed replace (the r4 ADVICE row-loss scenario)."""
    inc, full = cats
    erp_b1 = [("NAS123", date(1980, 1, 1), "M"), ("NAS900", date(1990, 5, 5), "F")]
    erp_b2 = [("123", date(1981, 2, 2), "F")]  # collides with NAS123 → cid '123'
    loc_b1 = [("AW-1", "US"), ("AW-2", "DE")]
    loc_b2 = [("AW1", "CANADA")]  # collides with AW-1 → cid 'AW1'

    for cat in (inc, full):
        cat.append(_bronze(spark, erp_b1, ERP_CUST_SCHEMA, "b1"),
                   "bronze", "erp_customers_raw")
        cat.append(_bronze(spark, loc_b1, ERP_LOC_SCHEMA, "b1"),
                   "bronze", "erp_locations_raw")
    silver.run_silver_incremental(inc)
    for cat in (inc, full):
        cat.append(_bronze(spark, erp_b2, ERP_CUST_SCHEMA, "b2"),
                   "bronze", "erp_customers_raw")
        cat.append(_bronze(spark, loc_b2, ERP_LOC_SCHEMA, "b2"),
                   "bronze", "erp_locations_raw")
    r = silver.run_silver_incremental(inc)
    assert r["erp_customers"]["mode"] == "keyed"
    silver.run_silver(full)

    for table in ("erp_customers", "erp_locations"):
        assert _data_rows(inc, table) == _data_rows(full, table), table
    # both colliding rows survive (the cleaner does not dedup cids)
    cids = [
        r.cid
        for r in inc.spark.table(inc.qualified("silver", "erp_customers")).collect()
    ]
    assert sorted(cids) == ["123", "123", "900"]


def test_incremental_append_replay_is_noop(spark, cats):
    """Crash between the silver append and the ledger write: the re-run
    sees the batch's _ingestion_batch_id already in silver and must not
    append it again (the r4 ADVICE double-apply scenario)."""
    inc, _ = cats
    inc.append(_bronze(spark, SALES_B1, SALES_SCHEMA, "b1"),
               "bronze", "crm_sales_raw")
    silver.run_silver_incremental(inc)
    inc.append(_bronze(spark, SALES_B2, SALES_SCHEMA, "b2"),
               "bronze", "crm_sales_raw")
    silver.run_silver_incremental(inc)
    qsilver = inc.qualified("silver", "crm_sales")
    before = sorted(
        tuple(r) for r in spark.table(qsilver).select("sls_ord_num").collect()
    )

    # simulate the crash window: erase b2 from the ledger (data stayed)
    qlog = inc.qualified("logs", silver.BATCH_LOG_TABLE)
    surviving = spark.table(qlog).filter(
        ~((F.col("table_name") == "crm_sales_raw")
          & (F.col("_ingestion_batch_id") == "b2"))
    )
    inc.overwrite(surviving, "logs", silver.BATCH_LOG_TABLE)

    r = silver.run_silver_incremental(inc, tables=["crm_sales_raw"])
    assert r["crm_sales"] == {"mode": "append", "batches": 1, "rows": 0}
    after = sorted(
        tuple(r) for r in spark.table(qsilver).select("sls_ord_num").collect()
    )
    assert after == before  # no duplicated batch rows
    # and the ledger is healed — a further run is a clean noop
    r2 = silver.run_silver_incremental(inc, tables=["crm_sales_raw"])
    assert r2["crm_sales"]["mode"] == "noop"


def test_incremental_append_after_full_build_uses_its_ledger(spark, cats):
    """The full run_silver records the batches it applied: a following
    incremental refresh appends only the new batch, with no hand-seeded
    ledger, and every silver row carries its bronze batch id."""
    inc, _ = cats
    inc.append(_bronze(spark, SALES_B1, SALES_SCHEMA, "b1"),
               "bronze", "crm_sales_raw")
    assert silver.run_silver(inc) == {"crm_sales": 1}
    inc.append(_bronze(spark, SALES_B2, SALES_SCHEMA, "b2"),
               "bronze", "crm_sales_raw")
    r = silver.run_silver_incremental(inc, tables=["crm_sales_raw"])
    assert r["crm_sales"] == {"mode": "append", "batches": 1, "rows": 1}
    rows = {
        r.sls_ord_num: r["_ingestion_batch_id"]
        for r in spark.table(inc.qualified("silver", "crm_sales")).collect()
    }
    assert rows == {"O1": "b1", "O2": "b2"}


# ---------------------------------------------------------------------------
# Incremental gold refresh
# ---------------------------------------------------------------------------

from sql_data_warehouse_analytics_project_spark.medallion import gold  # noqa: E402

GOLD_TABLES = (
    "dim_customers", "dim_products", "fact_sales",
    "report_customers", "report_products",
)


def _seed_bronze_b1(cat, spark):
    cat.append(_bronze(spark, CUST_B1, CUST_SCHEMA, "b1"),
               "bronze", "crm_customers_raw")
    cat.append(_bronze(spark, PROD_B1, PROD_SCHEMA, "b1"),
               "bronze", "crm_products_raw")
    cat.append(_bronze(spark, SALES_B1, SALES_SCHEMA, "b1"),
               "bronze", "crm_sales_raw")
    cat.append(
        _bronze(spark, [("K1", date(1980, 3, 3), "F")], ERP_CUST_SCHEMA, "b1"),
        "bronze", "erp_customers_raw",
    )
    cat.append(
        _bronze(spark, [("K1", "US")], ERP_LOC_SCHEMA, "b1"),
        "bronze", "erp_locations_raw",
    )
    cat.append(
        _bronze(spark, [("CO_RF", "Bikes", "Road", "Yes")], ERP_CAT_SCHEMA, "b1"),
        "bronze", "erp_product_categories_raw",
    )


def _seed_bronze_b2(cat, spark, cust_rows=CUST_B2):
    cat.append(_bronze(spark, cust_rows, CUST_SCHEMA, "b2"),
               "bronze", "crm_customers_raw")
    cat.append(_bronze(spark, PROD_B2, PROD_SCHEMA, "b2"),
               "bronze", "crm_products_raw")
    sales_b2 = [
        ("O2", "X1", 3, 20250210, 20250215, 20250220, 12, 3, 4),
        ("O3", "X1", 1, 0, 20250210, 20250215, None, 2, 6),  # bad date → NULL month
    ]
    cat.append(_bronze(spark, sales_b2, SALES_SCHEMA, "b2"),
               "bronze", "crm_sales_raw")


def _fact_partition_files(cat, part_dir):
    import os

    loc = cat.table_stats("gold", "fact_sales")["location"]
    root = os.path.join(loc.removeprefix("file:"), part_dir)
    out = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return out


def test_incremental_gold_matches_full_and_skips_untouched_partitions(spark, cats):
    """The verdict's done-criteria: two incremental gold runs produce the
    same gold a full rebuild of the combined data produces, AND an
    untouched month's partition files are not rewritten."""
    inc, full = cats

    _seed_bronze_b1(inc, spark)
    silver.run_silver_incremental(inc)
    r1 = gold.run_gold_incremental(inc)
    assert r1["mode"] == "full"  # first run seeds gold + the ledger

    _seed_bronze_b2(inc, spark)
    silver.run_silver_incremental(inc)
    jan_before = _fact_partition_files(inc, "order_month=2025-01-01")
    assert jan_before  # the January partition exists and has files
    r2 = gold.run_gold_incremental(inc)
    assert r2["mode"] == "incremental" and r2["batches"] == 1
    # new batch touched Feb + the bad-date NULL month — January did not move
    assert r2["rebuilt_months"] == ["2025-02-01", "NULL"]
    assert _fact_partition_files(inc, "order_month=2025-01-01") == jan_before
    # dims changed (new customer, SCD2 product flip) → rebuilt + reports
    assert {"dim_customers", "dim_products", "fact_sales",
            "report_customers", "report_products"} <= set(r2["tables"])

    # replay with nothing new is a noop and touches no partition at all
    feb = _fact_partition_files(inc, "order_month=2025-02-01")
    r3 = gold.run_gold_incremental(inc)
    assert r3["mode"] == "noop"
    assert _fact_partition_files(inc, "order_month=2025-02-01") == feb

    # bit-for-bit vs a full rebuild over the combined bronze
    _seed_bronze_b1(full, spark)
    _seed_bronze_b2(full, spark)
    silver.run_silver(full)
    gold.run_gold(full)
    for t in GOLD_TABLES:
        assert _data_rows(inc, t, layer="gold") == _data_rows(full, t, layer="gold"), t

    # the late dim row resolved: Feb's sale for the batch-2 customer keyed
    fact = spark.table(inc.qualified("gold", "fact_sales"))
    feb_row = fact.filter(F.col("order_number") == "O2").collect()[0]
    assert feb_row.customer_key == 3 and feb_row.product_key is not None

    # silver sales is month-partitioned and the month-scoped rebuild reads
    # it through a partition-pruned scan (the 100 TB lever: a one-month
    # refresh lists one directory, not the whole silver fact)
    sales = spark.table(inc.qualified("silver", "crm_sales"))
    assert "_order_month" in sales.columns
    plan = (
        sales.filter(F.col("_order_month") == date(2025, 2, 1))
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "_order_month" in m[0], plan


def test_incremental_gold_dim_key_shift_rebuilds_referencing_months(spark, cats):
    """The hard case for row_number surrogates: a new customer that sorts
    BEFORE existing ids shifts every later surrogate key, so months whose
    fact rows reference the old keys must be rebuilt — detected via the
    old-vs-new mapping diff, converging to the full-rebuild state."""
    inc, full = cats

    _seed_bronze_b1(inc, spark)
    silver.run_silver_incremental(inc)
    gold.run_gold_incremental(inc)

    shifted = [(0, "K0B", "Zed", "Early", "M", "F", date(2025, 2, 1))] + CUST_B2
    _seed_bronze_b2(inc, spark, cust_rows=shifted)
    silver.run_silver_incremental(inc)
    r2 = gold.run_gold_incremental(inc)
    # cst_id 0 → surrogate 1; old keys 1/2 shifted → Jan's fact is stale
    assert "2025-01-01" in r2["rebuilt_months"]

    _seed_bronze_b1(full, spark)
    _seed_bronze_b2(full, spark, cust_rows=shifted)
    silver.run_silver(full)
    gold.run_gold(full)
    for t in GOLD_TABLES:
        assert _data_rows(inc, t, layer="gold") == _data_rows(full, t, layer="gold"), t


def test_incremental_keyed_null_keys_match_full_rebuild(spark, cats):
    """NULL normalized keys must ride the keyed refresh too: plain equi
    semi/anti joins drop NULLs, which would leave a NULL-cid bronze row
    out of scope (never cleaned into silver) or duplicate its silver row
    on the next refresh. The scoping joins must be null-safe."""
    inc, full = cats
    erp_b1 = [(None, date(1980, 1, 1), "M"), ("NAS7", date(1990, 2, 2), "F")]
    erp_b2 = [(None, date(1985, 5, 5), "F"), ("7", date(1991, 3, 3), "M")]

    for cat in (inc, full):
        cat.append(_bronze(spark, erp_b1, ERP_CUST_SCHEMA, "b1"),
                   "bronze", "erp_customers_raw")
    silver.run_silver_incremental(inc)
    for cat in (inc, full):
        cat.append(_bronze(spark, erp_b2, ERP_CUST_SCHEMA, "b2"),
                   "bronze", "erp_customers_raw")
    silver.run_silver_incremental(inc)
    silver.run_silver(full)
    assert _data_rows(inc, "erp_customers") == _data_rows(full, "erp_customers")
    # a replay changes nothing (null keys neither lost nor duplicated)
    silver.run_silver_incremental(inc)
    assert _data_rows(inc, "erp_customers") == _data_rows(full, "erp_customers")


def test_incremental_gold_crash_between_dim_and_fact_swap_replays(
    spark, cats, monkeypatch
):
    """Round-6 ADVICE (medium): a crash AFTER the dim swap but BEFORE the
    fact partition overwrite used to lose the affected-month worklist —
    the replay's dim diff runs against the already-swapped dims, sees no
    change, and never rebuilds the months referencing the old shifted
    surrogate keys. The durable ``logs.gold_pending_months`` worklist
    closes the hole: the replay must converge to the full-rebuild state."""
    inc, full = cats

    _seed_bronze_b1(inc, spark)
    silver.run_silver_incremental(inc)
    gold.run_gold_incremental(inc)

    # key-shift batch: new customer sorts before every existing id
    shifted = [(0, "K0B", "Zed", "Early", "M", "F", date(2025, 2, 1))] + CUST_B2
    _seed_bronze_b2(inc, spark, cust_rows=shifted)
    silver.run_silver_incremental(inc)

    # crash exactly at the fact partition swap (dims already rewritten)
    def boom(df, layer, table):
        raise RuntimeError("simulated crash before fact swap")

    monkeypatch.setattr(inc, "overwrite_partitions", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        gold.run_gold_incremental(inc)
    monkeypatch.undo()

    # the durable worklist survived the crash
    pending = spark.table(inc.qualified("logs", "gold_pending_months"))
    kinds = {r["kind"] for r in pending.collect()}
    assert "sync" in kinds and "month" in kinds

    r = gold.run_gold_incremental(inc)
    assert r["mode"] == "incremental" and r["replayed_pending"]
    # January (old-key referencing month) is in the replayed worklist
    assert "2025-01-01" in r["rebuilt_months"]
    # worklist cleared after the successful replay
    assert spark.table(inc.qualified("logs", "gold_pending_months")).count() == 0

    _seed_bronze_b1(full, spark)
    _seed_bronze_b2(full, spark, cust_rows=shifted)
    silver.run_silver(full)
    gold.run_gold(full)
    for t in GOLD_TABLES:
        assert _data_rows(inc, t, layer="gold") == _data_rows(full, t, layer="gold"), t

    # a further replay with nothing new is a clean noop
    assert gold.run_gold_incremental(inc)["mode"] == "noop"


def test_cli_full_build_then_incremental_refresh_matches_full_build(
    spark, tmp_path, capsys
):
    """``--all`` over batch 1, then ``--bronze --silver-incremental
    --gold-incremental`` over a delta, leaves every silver and gold table
    equal to a full build over both batches: the full build records the
    batch ledgers, so the refresh never applies batch 1 a second time."""
    import os

    import numpy as np

    from perfbench import gen
    from sql_data_warehouse_analytics_project_spark.__main__ import main

    rng, state = np.random.default_rng([9, 1]), gen.SourceState()
    b1, delta = str(tmp_path / "b1"), str(tmp_path / "delta")
    gen.write_sources(b1, rng, state, n_customers=40, n_products=12,
                      n_sales=200, months=3)
    gen.write_sources(delta, rng, state, n_customers=5, n_products=2,
                      n_sales=40, months=1, updates=3, new_versions=2)

    def run(root, *flags, prefix):
        rc = main([*flags, "--prefix", prefix,
                   "--crm-dir", os.path.join(root, "datasets", "source_crm"),
                   "--erp-dir", os.path.join(root, "datasets", "source_erp")])
        assert rc == 0, capsys.readouterr().err

    inc, full = Catalog(spark, prefix="cliinc_"), Catalog(spark, prefix="clifull_")
    for c in (inc, full):
        c.drop_layers()
    try:
        run(b1, "--all", prefix="cliinc_")
        run(delta, "--bronze", "--silver-incremental", "--gold-incremental",
            prefix="cliinc_")
        run(b1, "--bronze", prefix="clifull_")
        run(delta, "--bronze", "--silver", "--gold", prefix="clifull_")
        for table, _ in silver.SILVER_TRANSFORMS.values():
            assert _data_rows(inc, table) == _data_rows(full, table), table
        for table in GOLD_TABLES:
            assert _data_rows(inc, table, layer="gold") == _data_rows(
                full, table, layer="gold"
            ), table
    finally:
        for c in (inc, full):
            c.drop_layers()
