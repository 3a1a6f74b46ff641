"""End-to-end medallion pipeline over the reference's six source CSVs:
bronze ingestion with the seven _-metadata columns, silver cleansing of the
profiled defects, gold star schema.

Two data modes. With the real reference dataset (any root that the
conftest did not write: ``$SPARK_GRAFT_REFERENCE_DIR``, else
queries_medallion's default root, used as DATA only) the expectations are
the real dataset's constants and bounds. Without it the conftest writes a
seeded stand-in from ``perfbench.gen.write_sources``, and each of those
constants becomes an exact value derived here from the stand-in's CSV text
with the ``csv`` module and the rules SURVEY.md §1.4 and the cleaners'
docstrings state — never read back from the engine."""

from __future__ import annotations

import csv
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.medallion import bronze, gold, silver
from sql_data_warehouse_analytics_project_spark.queries_medallion import (
    CRM_DIR,
    ERP_DIR,
)

#: LOC_A101 country codes as profiled (FIXTURES.md §A), upper-cased; a
#: blank or unlisted code leaves the customer's country at ``n/a``
_COUNTRY_CODES = {
    "AUSTRALIA", "CANADA", "FRANCE", "GERMANY", "DE", "US", "USA",
    "UNITED STATES", "UNITED KINGDOM",
}


def _csv_records(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.DictReader(fh))


def _yyyymmdd(v: str) -> dt.date | None:
    """The date an 8-digit calendar ``yyyymmdd`` encodes, else None (the
    cast-or-null rule for ``sls_order_dt``)."""
    if len(v) != 8 or not v.isdigit():
        return None
    try:
        return dt.datetime.strptime(v, "%Y%m%d").date()
    except ValueError:
        return None


def _derive_expectations(crm_dir: str, erp_dir: str) -> dict:
    """Exact expected values for the source CSVs under ``crm_dir`` /
    ``erp_dir``, computed from their text."""
    cust = _csv_records(f"{crm_dir}/cust_info.csv")
    prd = _csv_records(f"{crm_dir}/prd_info.csv")
    sales = _csv_records(f"{crm_dir}/sales_details.csv")
    loc = _csv_records(f"{erp_dir}/LOC_A101.csv")
    cats = _csv_records(f"{erp_dir}/PX_CAT_G1V2.csv")

    # dedup-keep-latest: the newest row per non-null cst_id
    latest: dict[int, dict] = {}
    for r in cust:
        if r["cst_id"].strip():
            k = int(r["cst_id"])
            newest = latest.get(k)
            if newest is None or r["cst_create_date"] > newest["cst_create_date"]:
                latest[k] = r
    # LOC_A101 CID with '-' removed joins the trimmed cst_key
    country = {r["CID"].strip().replace("-", ""): r["CNTRY"].strip().upper()
               for r in loc}
    order_dts = [_yyyymmdd(r["sls_order_dt"].strip()) for r in sales]
    valid = [r for r, d in zip(sales, order_dts) if d is not None]
    # sales join products on the key's chars 7+ (one current version per key)
    product_numbers = {r["prd_key"][6:] for r in prd}
    first_valid = next(d for d in order_dts if d is not None)
    return {
        "customers_rows": len(cust),
        "sales_rows": len(sales),
        "categories_rows": len(cats),
        "invalid_order_dt": len(sales) - len(valid),
        "valid_order_dt": len(valid),
        "dim_customers": len(latest),
        "dim_products": len({r["prd_key"] for r in prd}),
        "with_country": sum(
            country.get(r["cst_key"].strip(), "") in _COUNTRY_CODES
            for r in latest.values()
        ),
        "report_customers": len({
            int(r["sls_cust_id"]) for r in valid
            if r["sls_cust_id"].strip() and int(r["sls_cust_id"]) in latest
        }),
        "report_products": len({
            r["sls_prd_key"] for r in valid if r["sls_prd_key"] in product_numbers
        }),
        "order_month": first_valid.replace(day=1).isoformat(),
    }


#: set by the conftest to the root of the stand-in dataset it wrote
_STANDIN_ROOT = os.environ.get("_SPARK_GRAFT_TEST_STANDIN")
#: the stand-in's derived expectations; None on the real dataset
DERIVED = (
    _derive_expectations(CRM_DIR, ERP_DIR)
    if _STANDIN_ROOT and CRM_DIR.startswith(_STANDIN_ROOT + "/")
    else None
)


def expect(name: str, actual, real) -> None:
    """On the stand-in, ``actual`` must equal the value derived from its
    CSVs; on the real dataset, ``real(actual)`` — the dataset's constant or
    bound — must hold."""
    if DERIVED is not None:
        assert actual == DERIVED[name], (name, actual, DERIVED[name])
    else:
        assert real(actual), (name, actual)


@pytest.fixture(scope="module")
def cat(spark):
    c = Catalog(spark, prefix="med_")
    c.create_layers()
    yield c
    c.drop_layers()


@pytest.fixture(scope="module")
def loaded(cat):
    return bronze.load_sources(cat, CRM_DIR, ERP_DIR)


def test_bronze_loads_all_six(cat, loaded):
    assert all(r["status"] == "SUCCESS" for r in loaded.values()), loaded
    expect("customers_rows", loaded["crm_customers_raw"]["rows_loaded"],
           lambda n: n == 18494)
    expect("sales_rows", loaded["crm_sales_raw"]["rows_loaded"],
           lambda n: n == 60398)
    expect("categories_rows",
           loaded["erp_product_categories_raw"]["rows_loaded"],
           lambda n: n == 37)


def test_bronze_metadata_columns(cat, loaded):
    df = cat.spark.table(cat.qualified("bronze", "crm_customers_raw"))
    for c in bronze.BRONZE_METADATA_COLUMNS:
        assert c in df.columns, c
    row = df.limit(1).collect()[0]
    assert row._source_row_number >= 1
    assert len(row._row_hash) == 64
    assert row._is_current is True
    # row numbers are 1..N contiguous per file
    n = df.count()
    assert df.agg(F.max("_source_row_number")).collect()[0][0] == n


def test_silver_cleansing(cat, loaded):
    results = silver.run_silver(cat)
    assert set(results) == {
        "crm_customers", "crm_products", "crm_sales",
        "erp_customers", "erp_locations", "erp_product_categories",
    }
    cust = cat.read("silver", "crm_customers")
    # dedup-keep-latest removed duplicate ids; no null ids
    assert cust.filter(F.col("cst_id").isNull()).count() == 0
    assert cust.groupBy("cst_id").count().filter("count > 1").count() == 0
    # codes standardized
    genders = {r.cst_gndr for r in cust.select("cst_gndr").distinct().collect()}
    assert genders <= {"Male", "Female", "n/a"}
    # names trimmed
    assert cust.filter(F.col("cst_firstname") != F.trim("cst_firstname")).count() == 0

    prod = cat.read("silver", "crm_products")
    # SCD2 repair: no end date before start date
    assert prod.filter(F.col("prd_end_dt") < F.col("prd_start_dt")).count() == 0
    lines = {r.prd_line for r in prod.select("prd_line").distinct().collect()}
    assert lines <= {"Mountain", "Road", "Other Sales", "Touring", "n/a"}

    sales = cat.read("silver", "crm_sales")
    # sales == quantity * price wherever all parts are present
    bad = sales.filter(
        F.col("sls_sales").isNotNull()
        & F.col("sls_price").isNotNull()
        & (F.abs(F.col("sls_sales") - F.col("sls_quantity") * F.col("sls_price")) > 0.01)
    ).count()
    assert bad == 0
    # invalid yyyymmdd became NULL, valid parsed
    # (the stand-in writer refuses a dataset without invalid dates)
    expect("invalid_order_dt",
           sales.filter(F.col("sls_order_dt").isNull()).count(),
           lambda n: n > 0)
    expect("valid_order_dt",
           sales.filter(F.col("sls_order_dt").isNotNull()).count(),
           lambda n: n > 59000)

    erp_c = cat.read("silver", "erp_customers")
    # NAS prefix stripped → cids join to crm cst_key values
    assert erp_c.filter(F.col("cid").startswith("NAS")).count() == 0
    # no future birthdates
    assert erp_c.filter(F.col("bdate") > F.current_date()).count() == 0

    loc = cat.read("silver", "erp_locations")
    assert loc.filter(F.col("cid").contains("-")).count() == 0
    cntry = {r.cntry for r in loc.select("cntry").distinct().collect()}
    assert "US" not in cntry and "DE" not in cntry


def test_gold_star_schema(cat, loaded):
    silver.run_silver(cat)
    results = gold.run_gold(cat)
    expect("dim_customers", results["dim_customers"], lambda n: n > 18000)
    expect("dim_products", results["dim_products"], lambda n: n > 200)
    expect("sales_rows", results["fact_sales"], lambda n: n == 60398)

    dim_c = cat.read("gold", "dim_customers")
    # surrogate keys contiguous from 1
    assert dim_c.agg(F.min("customer_key")).collect()[0][0] == 1
    assert dim_c.agg(F.max("customer_key")).collect()[0][0] == dim_c.count()
    # ERP enrichment took: most customers got a country
    with_country = dim_c.filter(F.col("country") != "n/a").count()
    expect("with_country", with_country, lambda n: n > dim_c.count() * 0.9)

    facts = cat.read("gold", "fact_sales")
    # >99% of facts resolve both dimensions
    resolved = facts.filter(
        F.col("product_key").isNotNull() & F.col("customer_key").isNotNull()
    ).count()
    assert resolved > facts.count() * 0.99

    # KPI report views shipped alongside the star schema
    crep = cat.read("gold", "report_customers")
    assert results["report_customers"] == crep.count()
    expect("report_customers", results["report_customers"], lambda n: n > 15000)
    segs = {r.segment for r in crep.select("segment").distinct().collect()}
    assert segs <= {"VIP", "Regular", "New"}
    # revenue conservation: report total equals the resolved facts' total
    rep_total = crep.agg(
        F.sum(F.col("total_sales").cast("decimal(18,2)"))
    ).collect()[0][0]
    fact_total = facts.filter(
        F.col("customer_key").isNotNull() & F.col("order_date").isNotNull()
    ).agg(F.sum(F.col("sales_amount").cast("decimal(18,2)"))).collect()[0][0]
    assert rep_total == fact_total

    prep = cat.read("gold", "report_products")
    assert results["report_products"] == prep.count()
    expect("report_products", results["report_products"], lambda n: n > 100)
    psegs = {r.segment for r in prep.select("segment").distinct().collect()}
    assert psegs <= {"High-Performer", "Mid-Range", "Low-Performer"}

    # fact is directory-partitioned by order month and month-scoped scans
    # prune: the partition filter must reach the scan, not a post-filter
    one_month = facts.filter(F.col("order_month") == "2025-01-01")
    plan = one_month._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "order_month" in pf
    # swap preserved partition column values through staging + rename
    expect("valid_order_dt",
           facts.filter(F.col("order_month").isNotNull()).count(),
           lambda n: n > 59000)


def test_month_scoped_gold_analytic_prunes_fact_partitions(cat, loaded):
    """The engine's value at 100x is month-pruned reads of the PERSISTED
    fact (the gate rebuilds from CSVs for oracle purposes, but production
    reads go through Catalog.read): a q78/q81-style analytic — broadcast
    dim join + revenue aggregate — filtered to one month must carry the
    month predicate into the fact scan's PartitionFilters (directory
    pruning), keep the dim join broadcast (no fact shuffle), and return
    the same numbers as a post-hoc filter."""
    from sql_data_warehouse_analytics_project_spark.medallion import (
        gold as gold_mod,
        silver as silver_mod,
    )

    if not cat.table_exists("gold", "fact_sales"):
        silver_mod.run_silver(cat)
        gold_mod.run_gold(cat)

    facts = cat.read("gold", "fact_sales")
    dims = F.broadcast(
        cat.read("gold", "dim_products").select("product_key", "category")
    )
    month = DERIVED["order_month"] if DERIVED is not None else "2013-06-01"
    analytic = (
        facts.filter(F.col("order_month") == month)
        .join(dims, "product_key")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.sum(F.col("sales_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    plan = analytic._jdf.queryExecution().executedPlan().treeString()
    # month predicate reached the fact scan as a PARTITION filter
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "order_month" in pf
    # dim join stayed broadcast: the month-pruned fact never shuffles
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # pruning is a plan optimization, not a semantics change
    rows = {r.category: (r.n_sales, r.revenue) for r in analytic.collect()}
    slow = (
        facts.join(dims, "product_key")
        .filter(F.col("order_month") == month)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.sum(F.col("sales_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    assert rows == {
        r.category: (r.n_sales, r.revenue) for r in slow.collect()
    }
    assert sum(n for n, _ in rows.values()) > 0


def test_warehouse_orchestrator_end_to_end(spark):
    """Full --setup → --bronze → --silver → --gold run with the audit/
    lineage/metric side effects the reference verifies in its workflow
    tests (``test_bronze.py:506-554``): every stage leaves a SUCCESS
    process_log row, lineage edges exist for each materialization, and
    the headline rows/sec metric is recorded."""
    from sql_data_warehouse_analytics_project_spark.pipeline import Warehouse

    wh = Warehouse(spark, prefix="e2e_")
    try:
        results = wh.run_all(CRM_DIR, ERP_DIR)
        assert len(results["bronze"]) == 6
        expect("sales_rows", results["gold"]["fact_sales"],
               lambda n: n == 60398)

        ctx = wh.ctx
        hist = {r.process_name: r for r in ctx.process_history().collect()}
        for stage in ("bronze_ingestion", "silver_transform", "gold_build"):
            assert hist[stage].status == "SUCCESS", stage
            assert hist[stage].end_time is not None

        edges = ctx.table("data_lineage")
        # source→bronze (6 files), bronze→silver, silver→gold edges
        assert edges.filter(F.col("target_schema").contains("bronze")).count() >= 6
        assert edges.filter(F.col("target_schema").contains("silver")).count() >= 6
        assert edges.filter(F.col("target_schema").contains("gold")).count() >= 3

        metrics = ctx.table("performance_metrics")
        assert (
            metrics.filter(
                F.col("metric_name") == "bronze_ingestion.rows_per_second"
            ).count()
            == 1
        )
    finally:
        wh.catalog.drop_layers()


def test_cli_setup(spark):
    from sql_data_warehouse_analytics_project_spark.__main__ import main

    assert main(["--setup", "--prefix", "cli_"]) == 0
    assert spark.catalog.databaseExists("cli_bronze")
    assert spark.catalog.databaseExists("cli_logs")
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog

    Catalog(spark, prefix="cli_").drop_layers()


def test_catalog_introspection(cat, loaded):
    """S8 parity: column/table/database/schema info (reference
    query_builder.py:390-567)."""
    cols = cat.column_info("bronze", "crm_customers_raw")
    names = [c["name"] for c in cols]
    assert "cst_id" in names and "_row_hash" in names
    assert all(
        {"data_type", "nullable", "is_partition", "ordinal_position"} <= set(c)
        for c in cols
    )

    ti = cat.table_info("bronze", "crm_customers_raw")
    assert ti["name"] == "crm_customers_raw" and not ti["is_temporary"]

    di = cat.database_info("bronze")
    assert di["name"] == cat.db("bronze") and di["location"]

    si = {s["layer"]: s for s in cat.schema_info()}
    assert set(si) == {"logs", "bronze", "silver", "gold"}
    assert "crm_customers_raw" in si["bronze"]["tables"]
    assert si["bronze"]["table_count"] == len(si["bronze"]["tables"])


def test_catalog_analyze_collects_cbo_stats(cat, loaded):
    """ANALYZE TABLE records row counts + per-column distinct/null stats
    for Catalyst's cost-based optimizer."""
    stats = cat.analyze("bronze", "crm_customers_raw", columns=["cst_id"])
    assert stats["statistics"] and "rows" in stats["statistics"]
    col = stats["cst_id"]
    assert int(col["distinct_count"]) > 0
    # stats visible to the planner: with CBO on, the optimized relation
    # carries the collected rowCount (without CBO only sizeInBytes flows)
    q = cat.qualified("bronze", "crm_customers_raw")
    cat.spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        st = cat.spark.table(q)._jdf.queryExecution().optimizedPlan().stats()
        assert st.rowCount().isDefined() and int(str(st.rowCount().get())) > 0
    finally:
        cat.spark.conf.set("spark.sql.cbo.enabled", "false")


def test_create_table_comment_with_quotes(cat):
    from pyspark.sql import types as T

    cat.create_table(
        "bronze",
        "quoted_comment_t",
        T.StructType([T.StructField("v", T.LongType())]),
        comment="customer's 'quoted' table",
    )
    assert cat.table_exists("bronze", "quoted_comment_t")
    cat.drop_table("bronze", "quoted_comment_t")


def test_curate_cli_writes_split_partitioned_corpus(spark, sf_dir, tmp_path, capsys):
    import json as _json
    import os

    from sql_data_warehouse_analytics_project_spark.__main__ import main

    out = str(tmp_path / "curated_out")
    rc = main(["--curate", "--docs", os.path.join(sf_dir, "documents.parquet"),
               "--out", out])
    assert rc == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["status"] == "SUCCESS"
    f = payload["funnel"]
    assert f["exact_dedup"] >= f["near_dedup"] >= f["quality_filter"] == f["curated"]
    curated = payload["datasets"]["curated"]
    splits = {d for d in os.listdir(curated) if d.startswith("split=")}
    assert splits == {"split=train", "split=val", "split=test"}
    back = spark.read.parquet(curated)
    assert back.count() == f["curated"]


def test_vacuum_generations_drops_only_unretained(cat, spark):
    """One retention rule: a generation that is neither its view's
    published one nor in the retention tail BEFORE it is dropped, so are
    generations newer than the published one (overwrites that crashed
    before their publish), and so is every generation of a table with no
    view (a crashed first write or drop)."""
    from pyspark.sql import types as T

    sch = T.StructType([T.StructField("v", T.LongType())])

    def gen(name, v):
        spark.createDataFrame([(v,)], sch).write.format("parquet").saveAsTable(
            cat.qualified("bronze", name)
        )

    cat.create_table("bronze", "vac_t", sch, medallion_metadata=False)
    cat.overwrite(spark.createDataFrame([(2,)], sch), "bronze", "vac_t")
    cat.overwrite(spark.createDataFrame([(3,)], sch), "bronze", "vac_t")
    assert cat.resolve_table("bronze", "vac_t").endswith("vac_t__g000003")
    gen("vac_t__g000001", 1)  # older than published, outside the tail
    gen("vac_t__g000004", 4)  # two overwrites that crashed before their
    gen("vac_t__g000005", 5)  # publish: newer than published, unpublished
    gen("vac_gone__g000001", 9)  # its table has no view
    dropped = [n for n in cat.vacuum_generations("bronze") if n.startswith("vac_")]
    assert sorted(dropped) == [
        "vac_gone__g000001", "vac_t__g000001", "vac_t__g000004", "vac_t__g000005",
    ]
    left = {t.name for t in spark.catalog.listTables(cat.db("bronze"))}
    assert {"vac_t__g000002", "vac_t__g000003"} <= left
    assert not {
        "vac_gone__g000001", "vac_t__g000001", "vac_t__g000004", "vac_t__g000005",
    } & left
    assert [r.v for r in cat.read("bronze", "vac_t").collect()] == [3]
    assert cat.vacuum_generations("bronze") == []


def test_vacuum_generations_skips_temp_views(cat, spark):
    from pyspark.sql import types as T

    sch = T.StructType([T.StructField("v", T.LongType())])
    cat.create_table("bronze", "tvtarget", sch, medallion_metadata=False)
    # a session temp view named like a generation must NOT be dropped
    # (and must not error the vacuum with DROP TABLE-on-view)
    spark.createDataFrame([(9,)], sch).createOrReplaceTempView("tvtarget__g000009")
    try:
        dropped = cat.vacuum_generations("bronze")
        assert "tvtarget__g000009" not in dropped
        assert spark.catalog.tableExists("tvtarget__g000009")  # view intact
    finally:
        spark.catalog.dropTempView("tvtarget__g000009")


def test_fact_build_skew_strategies_bit_match(spark):
    """Round-6 verdict #4: a deliberately skewed sales batch (one whale
    customer = 50% of rows) built with every dim-join strategy —
    broadcast, shuffle (AQE skew-split), salted — produces bit-identical
    facts, and the non-broadcast plans really avoid broadcasting the
    dims while the salted plan joins on (key + salt)."""
    from datetime import date

    import random

    rng = random.Random(11)
    n = 4000
    rows = []
    for i in range(n):
        cust = 1 if i % 2 == 0 else rng.randint(2, 200)  # one whale = 50%
        rows.append(
            (f"O{i}", f"X{rng.randint(1, 50)}", cust,
             date(2025, 1 + (i % 12), 1), 10.0 * (i % 7 + 1), i % 5 + 1, 10.0)
        )
    sales = spark.createDataFrame(
        rows,
        "sls_ord_num string, sls_prd_key string, sls_cust_id int, "
        "sls_order_dt date, sls_sales double, sls_quantity int, sls_price double",
    ).withColumn("sls_ship_dt", F.col("sls_order_dt")).withColumn(
        "sls_due_dt", F.col("sls_order_dt")
    )
    dim_c = spark.createDataFrame(
        [(k, k) for k in range(1, 201)], "customer_key int, customer_id int"
    )
    dim_p = spark.createDataFrame(
        [(k, f"X{k}") for k in range(1, 51)], "product_key int, product_number string"
    )

    # the probe names the whale before any strategy choice
    probe = gold.fact_key_skew(sales, top_n=3).collect()
    cust_top = [r for r in probe if r["join_side"] == "customer"][0]
    assert cust_top["key_value"] == "1" and cust_top["share"] > 0.4
    assert cust_top["skew_ratio"] > 10

    def rows_of(df):
        return sorted(
            tuple(str(v) for v in r) for r in df.collect()
        )

    base = rows_of(gold.build_fact_sales(sales, dim_p, dim_c))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        shuffled = gold.build_fact_sales(
            sales, dim_p, dim_c, dim_strategy="shuffle"
        )
        salted = gold.build_fact_sales(
            sales, dim_p, dim_c, dim_strategy="salted", salt_buckets=8
        )
        p_shuffle = shuffled._jdf.queryExecution().executedPlan().treeString()
        p_salted = salted._jdf.queryExecution().executedPlan().treeString()
        assert "BroadcastHashJoin" not in p_shuffle, p_shuffle
        assert "_salt" in p_salted, p_salted
        assert rows_of(shuffled) == base
        assert rows_of(salted) == base
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    with pytest.raises(ValueError, match="dim_strategy"):
        gold.build_fact_sales(sales, dim_p, dim_c, dim_strategy="bogus")


def test_fact_build_auto_strategy_and_aqe_skew_split(spark):
    """Round-7 verdict #5: the skew strategy provably ENGAGES, not just
    exists. (a) dim_strategy='auto' measures the fact's customer-key
    skew and routes through salted_join when the ratio crosses the
    threshold — and stays on the plain shuffle plan for a uniform key.
    (b) On the 'shuffle' strategy, AQE's skew-join splitting actually
    fires on a whale key: the FINAL adaptive plan carries
    SortMergeJoin(skew=true). Thresholds are lowered to make a test-
    sized whale (~100k rows, one customer = 90%) cross the same
    size-based trigger a 100 TB hot key crosses naturally."""
    n_fact = 120_000
    whale = spark.range(0, n_fact).selectExpr(
        "concat('O', id) AS sls_ord_num",
        "concat('X', CAST(id % 40 + 1 AS INT)) AS sls_prd_key",
        # one whale customer = 90% of the fact
        "CAST(CASE WHEN id % 10 < 9 THEN 1 ELSE id % 200 + 2 END AS INT) "
        "AS sls_cust_id",
        "DATE'2025-03-01' AS sls_order_dt",
        "CAST(id % 7 + 1 AS DOUBLE) * 10.0 AS sls_sales",
        "CAST(id % 5 + 1 AS INT) AS sls_quantity",
        "10.0 AS sls_price",
        "DATE'2025-03-02' AS sls_ship_dt",
        "DATE'2025-03-05' AS sls_due_dt",
    )
    uniform = whale.withColumn(
        "sls_cust_id", (F.col("sls_sales") % 200 + 1).cast("int")
    )
    dim_c = spark.range(1, 302).selectExpr(
        "CAST(id AS INT) AS customer_key", "CAST(id AS INT) AS customer_id"
    )
    dim_p = spark.range(1, 41).selectExpr(
        "CAST(id AS INT) AS product_key", "concat('X', id) AS product_number"
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale AQE's size-based skew trigger down to test data volume
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        # plan STRINGS are the assertion surface: don't let toString
        # truncate the attribute lists the salt column appears in
        "spark.sql.debug.maxToStringFields": "500",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # (a) auto measures skew and routes: whale -> salted, uniform -> plain
        auto_whale = gold.build_fact_sales(
            whale, dim_p, dim_c, dim_strategy="auto", auto_skew_threshold=10.0
        )
        assert "_salt" in auto_whale._jdf.queryExecution().analyzed().toString()
        auto_uniform = gold.build_fact_sales(
            uniform, dim_p, dim_c, dim_strategy="auto", auto_skew_threshold=10.0
        )
        assert "_salt" not in auto_uniform._jdf.queryExecution().analyzed().toString()

        # (b) the shuffle strategy's safety net really fires: the final
        # adaptive plan splits the whale partition (skew=true)
        shuffled = gold.build_fact_sales(
            whale, dim_p, dim_c, dim_strategy="shuffle"
        )
        assert shuffled.collect()  # finalize the adaptive plan
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]

        # the salted strategy stays correct at this scale too: same rows
        salted = gold.build_fact_sales(
            whale, dim_p, dim_c, dim_strategy="salted", salt_buckets=8
        )
        assert salted.count() == n_fact
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
