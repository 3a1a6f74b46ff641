"""Structured Streaming tests: drop-zone CSV stream → foreachBatch bronze
ingestion (exactly-once per batch, audit rows), windowed aggregation
parity between stream and batch, late-data watermark behavior."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.ops.context import RunContext
from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
    stream_bronze_ingest,
    stream_csv_drop_zone,
    windowed_event_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


@pytest.fixture()
def dropzone():
    d = tempfile.mkdtemp(prefix="dropzone_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_csv(dirpath: str, fname: str, rows: list[str]) -> None:
    with open(os.path.join(dirpath, fname), "w") as f:
        f.write("id,name,amount\n")
        f.writelines(r + "\n" for r in rows)


def test_stream_bronze_ingest_end_to_end(spark, dropzone):
    cat = Catalog(spark, prefix="st_")
    cat.create_layers()
    ctx = RunContext(cat, created_by="stream-test")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _write_csv(dropzone, "a.csv", ["1,alpha,10.5", "2,beta,20.0"])
        _write_csv(dropzone, "b.csv", ["3,gamma,30.0"])

        stream = stream_csv_drop_zone(spark, dropzone, SCHEMA)
        assert stream.isStreaming
        q = stream_bronze_ingest(
            stream, cat, "stream_raw",
            checkpoint_dir=ckpt, run_context=ctx, available_now=True,
        )
        q.awaitTermination(120)

        df = spark.table(cat.qualified("bronze", "stream_raw"))
        assert df.count() == 3
        # bronze metadata present, batch ids carry the stream batch number
        assert df.filter(F.col("_ingestion_batch_id").startswith("stream-")).count() == 3
        assert df.filter(F.col("_row_hash").isNull()).count() == 0
        # per-batch audit rows were written
        procs = ctx.process_history().filter(
            F.col("process_name").startswith("stream_bronze.stream_raw")
        )
        assert procs.count() >= 1
        assert all(r.status == "SUCCESS" for r in procs.collect())

        # drop a NEW file and restart from the checkpoint: only the new file
        # is processed (exactly-once at file granularity). The sleep matters:
        # the file source tracks seen files by modification time, and a file
        # landing in the same mtime tick as the completed batch is skipped.
        import time

        time.sleep(2)
        _write_csv(dropzone, "c.csv", ["4,delta,40.0"])
        q2 = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SCHEMA), cat, "stream_raw",
            checkpoint_dir=ckpt, run_context=ctx, available_now=True,
        )
        q2.awaitTermination(120)
        after = spark.table(cat.qualified("bronze", "stream_raw"))
        assert after.count() == 4
        # exactly-once across the restart: no row (id) ingested twice, each
        # of the three files contributed exactly its own rows, and no
        # _ingestion_batch_id carries duplicate copies of a source row
        assert after.groupBy("id").count().filter("count > 1").count() == 0
        per_file = {
            os.path.basename(r.f): r.n
            for r in after.groupBy(
                F.col("_source_file").alias("f")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert per_file == {"a.csv": 2, "b.csv": 1, "c.csv": 1}
        assert (
            after.groupBy("_ingestion_batch_id", "id").count()
            .filter("count > 1").count() == 0
        )
    finally:
        cat.drop_layers()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_windowed_counts_stream_batch_parity(spark, dropzone):
    """The same helper over the same rows must agree in stream and batch
    mode (batch/stream parity invariant)."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        "2024-01-01 00:01:00,click,1.0",
        "2024-01-01 00:04:00,click,2.0",
        "2024-01-01 00:11:00,view,3.0",
        "2024-01-01 00:59:00,click,4.0",
    ]
    with open(os.path.join(dropzone, "ev.csv"), "w") as f:
        f.write("ts,event_type,value\n")
        f.writelines(r + "\n" for r in rows)

    batch_df = (
        spark.read.schema(schema).option("header", True).csv(dropzone)
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(batch_df, watermark="1 hour").collect()
    }

    out_dir = tempfile.mkdtemp(prefix="strout_")
    ckpt = tempfile.mkdtemp(prefix="ckpt2_")
    try:
        stream = (
            spark.readStream.schema(schema).option("header", True).csv(dropzone)
        )
        sq = (
            windowed_event_counts(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("winout")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        got = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.table("winout").collect()
        }
        assert got == expected
        assert len(got) == 3  # two 00:00/00:10 windows + the 00:50 one
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_user_counters_across_batches(spark, dropzone):
    """applyInPandasWithState: state must persist across micro-batches —
    a user appearing in two files ends with the SUM of both, and the
    stream's final totals equal the batch twin's aggregation."""
    import tempfile

    from sql_data_warehouse_analytics_project_spark.streaming.stateful import (
        batch_user_counters,
        stateful_user_counters,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    with open(os.path.join(dropzone, "e1.csv"), "w") as f:
        f.write("user_id,value\n1,10.0\n1,5.0\n2,7.0\n")
    with open(os.path.join(dropzone, "e2.csv"), "w") as f:
        f.write("user_id,value\n1,2.5\n3,1.0\n")

    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    q = None
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data, None)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
            .csv(dropzone)
        )
        out = stateful_user_counters(stream)
        # the processing-time state timeout keeps scheduling no-data
        # batches, which would keep an availableNow query from ending
        spark.conf.set(no_data, "false")
        q = (
            out.writeStream.format("memory")
            .queryName("state_counters")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120) is True

        rows = spark.sql(
            "SELECT user_id, max(n_events) n, max(total_value) t"
            " FROM state_counters GROUP BY user_id"
        ).collect()
        got = {r.user_id: (r.n, r.t) for r in rows}
        batch = {
            r.user_id: (r.n_events, r.total_value)
            for r in batch_user_counters(
                spark.read.schema(schema).option("header", True).csv(dropzone)
            ).collect()
        }
        assert got == batch == {1: (3, 17.5), 2: (1, 7.0), 3: (1, 1.0)}
    finally:
        # the query may outlive the wait; stop it before its state goes
        if q is not None:
            q.stop()
        if prev_no_data is None:
            spark.conf.unset(no_data)
        else:
            spark.conf.set(no_data, prev_no_data)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_bronze_sink_replay_is_idempotent(spark):
    """A replayed micro-batch (same batch_id — what Spark does after a
    crash between append and checkpoint commit) must not duplicate rows."""
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        bronze_batch_sink,
    )

    cat = Catalog(spark, prefix="replay_")
    cat.create_layers()
    try:
        sink = bronze_batch_sink(cat, "replay_raw")
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
        sink(df, 0)
        sink(df, 0)  # replay of the SAME batch
        sink(df, 1)  # a genuinely new batch
        table = spark.table(cat.qualified("bronze", "replay_raw"))
        assert table.count() == 4  # 2 rows per distinct batch, not 6
        per_batch = {
            r._ingestion_batch_id: r["count"]
            for r in table.groupBy("_ingestion_batch_id").count().collect()
        }
        assert per_batch == {"stream-0": 2, "stream-1": 2}
    finally:
        cat.drop_layers()


def test_dedup_stream_suppresses_redelivery(spark, dropzone):
    """At-least-once delivery: a record re-arriving in a later micro-batch
    within the watermark horizon must be dropped; distinct keys all pass."""
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import dedup_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    with open(os.path.join(dropzone, "f1.csv"), "w") as f:
        f.write("event_id,ts,v\n1,2024-01-01 00:00:01,1.0\n2,2024-01-01 00:00:02,2.0\n")
    with open(os.path.join(dropzone, "f2.csv"), "w") as f:
        # event 2 re-delivered (source replay), event 3 genuinely new
        f.write("event_id,ts,v\n2,2024-01-01 00:00:02,2.0\n3,2024-01-01 00:00:03,3.0\n")

    ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)  # redelivery in a LATER batch
            .csv(dropzone)
        )
        q = (
            dedup_stream(stream, ["event_id"], "ts", watermark="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.event_id for r in spark.table("dedup_out").collect()}
        assert got == {1, 2, 3}
        assert spark.table("dedup_out").count() == 3  # replay suppressed
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_rollup_sink_incremental_and_replay_idempotent(spark, tmp_path):
    """Streaming materialized rollup: per-batch merge of partial state,
    replay of a committed batch is a no-op, finalized result equals a
    from-scratch recompute over all delivered rows."""
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.plans import incremental
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        read_rollup,
        rollup_batch_sink,
    )

    cat = Catalog(spark, prefix="rollup_")
    cat.create_layers()
    try:
        measures = {"n": ("count", F.lit(1)), "total": ("sum", "v")}
        sink = rollup_batch_sink(cat, "sales", ["k"], measures)
        b0 = spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 7.0)], "k int, v double")
        b1 = spark.createDataFrame([(2, 3.0), (3, 1.0)], "k int, v double")
        sink(b0, 0)
        sink(b0, 0)  # replay of the SAME committed batch — must not double-count
        sink(b1, 1)
        got = {
            r.k: (r.n, r.total)
            for r in read_rollup(cat, "sales", ["k"], measures).collect()
        }
        assert got == {1: (2, 15.0), 2: (2, 10.0), 3: (1, 1.0)}
        state = spark.table(cat.qualified("gold", "sales"))
        assert state.select(F.max("_last_batch_id")).collect()[0][0] == 1
        # equivalence with a from-scratch aggregation of everything delivered
        full = incremental.finalize(
            incremental.partial_aggs(b0.unionByName(b1), ["k"], measures),
            ["k"],
            measures,
        )
        assert got == {r.k: (r.n, r.total) for r in full.collect()}
    finally:
        cat.drop_layers()


def test_rollup_sink_rejects_foreign_checkpoint_state(spark, tmp_path):
    """Batch ids are only comparable within one checkpoint: a sink running
    from a DIFFERENT checkpoint against existing state must raise (fresh
    checkpoints replay the source — skipping loses data, merging
    double-counts), while the same checkpoint keeps replay-skip."""
    import pytest

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        read_rollup,
        rollup_batch_sink,
    )

    cat = Catalog(spark, prefix="rollupcp_")
    cat.create_layers()
    try:
        measures = {"total": ("sum", "v")}
        sink_a = rollup_batch_sink(cat, "m", ["k"], measures, checkpoint_id="cp-a")
        b0 = spark.createDataFrame([(1, 10.0)], "k int, v double")
        sink_a(b0, 0)
        sink_a(b0, 0)  # same checkpoint: replay skip still works
        got = {r.k: r.total for r in read_rollup(cat, "m", ["k"], measures).collect()}
        assert got == {1: 10.0}
        sink_b = rollup_batch_sink(cat, "m", ["k"], measures, checkpoint_id="cp-b")
        with pytest.raises(RuntimeError, match="checkpoint"):
            sink_b(b0, 0)
    finally:
        cat.drop_layers()


def test_rollup_sink_with_hll_distinct_state(spark, tmp_path):
    """Streaming rollup with approx-distinct state: the HLL sketch binary
    survives the parquet state table across batches and keeps estimating
    the union of everything delivered."""
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        read_rollup,
        rollup_batch_sink,
    )

    cat = Catalog(spark, prefix="rolluph_")
    cat.create_layers()
    try:
        measures = {"du": ("approx_distinct", "u")}
        sink = rollup_batch_sink(cat, "users", ["k"], measures)
        sink(spark.createDataFrame([(1, 10), (1, 11), (2, 10)], "k int, u int"), 0)
        sink(spark.createDataFrame([(1, 11), (1, 12), (2, 10)], "k int, u int"), 1)
        got = {r.k: r.du for r in read_rollup(cat, "users", ["k"], measures).collect()}
        assert got == {1: 3, 2: 1}  # 10,11,12 and 10 — replays merged, not summed
    finally:
        cat.drop_layers()


def test_rollup_sink_detects_wiped_checkpoint_same_path(spark, tmp_path):
    """The standard checkpoint reset (rm -rf + restart at the SAME path)
    regenerates the stream's query uuid in <checkpoint>/metadata and
    restarts batch ids at 0 — the sink must detect the new identity and
    raise instead of silently skipping replayed batches behind the old
    high-water mark."""
    import json

    import pytest

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        rollup_batch_sink,
    )

    cp = tmp_path / "ckpt"
    cp.mkdir()
    (cp / "metadata").write_text(json.dumps({"id": "uuid-one"}))
    cat = Catalog(spark, prefix="rollupwipe_")
    cat.create_layers()
    try:
        measures = {"total": ("sum", "v")}
        b0 = spark.createDataFrame([(1, 10.0)], "k int, v double")
        sink1 = rollup_batch_sink(
            cat, "m", ["k"], measures, checkpoint_id=str(cp)
        )
        sink1(b0, 0)
        sink1(b0, 1)
        state = spark.table(cat.qualified("gold", "m"))
        # state carries the resolved uuid, not the path
        assert state.select(F.max("_checkpoint_id")).collect()[0][0] == "uuid-one"
        # wipe + recreate at the same path → fresh uuid, batch ids restart
        (cp / "metadata").write_text(json.dumps({"id": "uuid-two"}))
        sink2 = rollup_batch_sink(
            cat, "m", ["k"], measures, checkpoint_id=str(cp)
        )
        with pytest.raises(RuntimeError, match="checkpoint"):
            sink2(b0, 0)
    finally:
        cat.drop_layers()


def test_streaming_rollup_end_to_end_resolves_real_checkpoint_uuid(spark):
    """Drive streaming_rollup through a REAL stream (availableNow) and
    assert the state's _checkpoint_id is the query uuid Spark actually
    wrote to <checkpoint>/metadata — validating _checkpoint_identity
    against the real metadata format, not a fabricated one."""
    import json

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        read_rollup,
        streaming_rollup,
    )

    src = tempfile.mkdtemp(prefix="rollsrc_")
    ckpt = tempfile.mkdtemp(prefix="rollckpt_")
    cat = Catalog(spark, prefix="rollupe2e_")
    cat.create_layers()
    try:
        with open(os.path.join(src, "a.csv"), "w") as f:
            f.write("k,v\n1,10.0\n1,5.0\n2,7.0\n")
        schema = T.StructType(
            [T.StructField("k", T.IntegerType()), T.StructField("v", T.DoubleType())]
        )
        stream = spark.readStream.schema(schema).option("header", True).csv(src)
        measures = {"total": ("sum", "v")}
        sq = streaming_rollup(
            stream, cat, "e2e", ["k"], measures,
            checkpoint_dir=ckpt, available_now=True,
        )
        sq.awaitTermination(120)
        got = {r.k: r.total for r in read_rollup(cat, "e2e", ["k"], measures).collect()}
        assert got == {1: 15.0, 2: 7.0}
        with open(os.path.join(ckpt, "metadata")) as f:
            real_uuid = json.loads(f.read())["id"]
        stored = (
            spark.table(cat.qualified("gold", "e2e"))
            .select(F.max("_checkpoint_id"))
            .collect()[0][0]
        )
        assert stored == real_uuid and stored != ckpt
    finally:
        cat.drop_layers()
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


SALES_DDL = (
    "sls_ord_num string, sls_prd_key string, sls_cust_id int, "
    "sls_order_dt long, sls_ship_dt long, sls_due_dt long, "
    "sls_sales long, sls_quantity long, sls_price long"
)
_SALES_HEADER = (
    "sls_ord_num,sls_prd_key,sls_cust_id,sls_order_dt,sls_ship_dt,"
    "sls_due_dt,sls_sales,sls_quantity,sls_price"
)


def _write_sales_csv(dirpath: str, fname: str, rows: list[str]) -> None:
    with open(os.path.join(dirpath, fname), "w") as f:
        f.write(_SALES_HEADER + "\n")
        f.writelines(r + "\n" for r in rows)


def test_stream_bronze_to_silver_refresh(spark, dropzone):
    """Streamed drop-zone files flow bronze AND silver continuously
    (refresh_silver=True): two availableNow rounds with a restart end with
    silver bit-identical to a batch rebuild of the same bronze, and the
    silver batch ledger holds no duplicate entries (the round-5 verdict
    item 5 contract)."""
    from sql_data_warehouse_analytics_project_spark.catalog import (
        MEDALLION_METADATA_COLUMNS,
    )
    from sql_data_warehouse_analytics_project_spark.medallion import silver

    cat = Catalog(spark, prefix="stslv_")
    full = Catalog(spark, prefix="stslvf_")
    for c in (cat, full):
        c.drop_layers()
        c.create_layers()
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _write_sales_csv(dropzone, "a.csv", [
            "O1,X1,1,20250105,20250110,20250115,10,2,5",
            "O2,X1,2,20250106,20250111,20250116,0,3,4",  # bad sales → recompute
        ])
        q = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True, refresh_silver=True,
        )
        q.awaitTermination(120)
        assert spark.table(cat.qualified("silver", "crm_sales")).count() == 2

        import time

        time.sleep(2)  # file-source mtime-tick hazard (see module docstring)
        _write_sales_csv(dropzone, "b.csv", [
            "O3,X1,3,0,20250210,20250215,,2,6",  # bad date → NULL order date
        ])
        q2 = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True, refresh_silver=True,
        )
        q2.awaitTermination(120)

        got = spark.table(cat.qualified("silver", "crm_sales"))
        assert got.count() == 3
        # no silver row was applied twice across the restart
        assert (
            got.groupBy("sls_ord_num").count().filter("count > 1").count() == 0
        )
        # ledger: one entry per (table, batch), never duplicated
        log = spark.table(cat.qualified("logs", silver.BATCH_LOG_TABLE))
        assert (
            log.groupBy("table_name", "_ingestion_batch_id").count()
            .filter("count > 1").count() == 0
        )

        # bit-identical to a batch rebuild over the same bronze rows
        full.append(
            spark.table(cat.qualified("bronze", "crm_sales_raw")),
            "bronze", "crm_sales_raw",
        )
        silver.run_silver(full)

        def data_rows(c):
            df = c.spark.table(c.qualified("silver", "crm_sales"))
            cols = sorted(
                x for x in df.columns
                if (x not in MEDALLION_METADATA_COLUMNS or x == "row_hash")
                and not x.startswith("_")
            )
            return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

        assert data_rows(cat) == data_rows(full)

        # a replayed/no-new-data restart leaves silver untouched (exact noop)
        q3 = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True, refresh_silver=True,
        )
        q3.awaitTermination(120)
        assert spark.table(cat.qualified("silver", "crm_sales")).count() == 3
        assert (
            spark.table(cat.qualified("logs", silver.BATCH_LOG_TABLE))
            .groupBy("table_name", "_ingestion_batch_id").count()
            .filter("count > 1").count() == 0
        )
    finally:
        for c in (cat, full):
            c.drop_layers()
        shutil.rmtree(ckpt, ignore_errors=True)


def _seed_medallion_bronze(cat, spark, *, include_sales: bool = True) -> None:
    """Minimal six-table bronze seed (one consistent star): a gold
    refresh that finds no gold builds every table from every gold input,
    so the streaming-to-gold test needs a complete warehouse to stream into.
    Seeds through the SAME ``enrich_bronze`` metadata path the stream
    sink uses, so the streamed appends land in a matching schema."""
    from datetime import date

    from sql_data_warehouse_analytics_project_spark.medallion.bronze import (
        enrich_bronze,
    )

    def bronze(rows, schema):
        return enrich_bronze(spark.createDataFrame(rows, schema), batch_id="b1")

    cat.append(bronze(
        [(1, "K1", "Ann", "Lee", "M", "F", date(2025, 1, 1)),
         (2, "K2", "Bob", "Ray", "S", "M", date(2025, 1, 1))],
        "cst_id int, cst_key string, cst_firstname string, cst_lastname string, "
        "cst_marital_status string, cst_gndr string, cst_create_date date",
    ), "bronze", "crm_customers_raw")
    cat.append(bronze(
        [(10, "CO-RF-X1", "Thing", 5, "R", date(2025, 1, 1), None)],
        "prd_id int, prd_key string, prd_nm string, prd_cost int, "
        "prd_line string, prd_start_dt date, prd_end_dt date",
    ), "bronze", "crm_products_raw")
    if include_sales:
        cat.append(bronze(
            [("O1", "X1", 1, 20250105, 20250110, 20250115, 10, 2, 5)],
            SALES_DDL,
        ), "bronze", "crm_sales_raw")
    cat.append(bronze(
        [("K1", date(1980, 3, 3), "F")], "CID string, BDATE date, GEN string",
    ), "bronze", "erp_customers_raw")
    cat.append(bronze(
        [("K1", "US")], "CID string, CNTRY string",
    ), "bronze", "erp_locations_raw")
    cat.append(bronze(
        [("CO_RF", "Bikes", "Road", "Yes")],
        "ID string, CAT string, SUBCAT string, MAINTENANCE string",
    ), "bronze", "erp_product_categories_raw")


def _gold_partition_files(cat, part_dir: str):
    loc = cat.table_stats("gold", "fact_sales")["location"]
    root = os.path.join(loc.removeprefix("file:"), part_dir)
    out = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return out


def _gold_rows(cat, table: str):
    from sql_data_warehouse_analytics_project_spark.catalog import (
        MEDALLION_METADATA_COLUMNS,
    )

    df = cat.spark.table(cat.qualified("gold", table))
    cols = sorted(
        c for c in df.columns
        if (c not in MEDALLION_METADATA_COLUMNS or c == "row_hash")
        and not c.startswith("_")
    )
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_stream_bronze_to_gold_refresh(spark, dropzone):
    """refresh_gold=True completes the continuous medallion: streamed sales
    micro-batches land in bronze, the scoped silver refresh applies them,
    and the gold-ledger incremental refresh rebuilds only the touched
    order_month partitions — across a restart, converging bit-for-bit to a
    batch full rebuild, with no duplicate gold-ledger entries and the
    seeded (untouched) month's partition files never rewritten."""
    import time

    from sql_data_warehouse_analytics_project_spark.medallion import gold, silver

    cat, full = Catalog(spark, prefix="stgld_"), Catalog(spark, prefix="stgldf_")
    for c in (cat, full):
        c.drop_layers()
        c.create_layers()
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _seed_medallion_bronze(cat, spark)
        silver.run_silver_incremental(cat)
        assert gold.run_gold_incremental(cat)["mode"] == "full"  # seeds ledgers
        jan = _gold_partition_files(cat, "order_month=2025-01-01")
        assert jan

        _write_sales_csv(dropzone, "a.csv", [
            "O2,X1,2,20250210,20250215,20250220,12,3,4",
        ])
        q = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True,
            refresh_silver=True, refresh_gold=True,
        )
        q.awaitTermination(120)
        assert spark.table(cat.qualified("gold", "fact_sales")).count() == 2

        time.sleep(2)  # file-source mtime-tick hazard (see module docstring)
        _write_sales_csv(dropzone, "b.csv", [
            "O3,X1,1,20250305,20250310,20250315,,2,6",  # null sales → recompute
        ])
        q2 = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True,
            refresh_silver=True, refresh_gold=True,
        )
        q2.awaitTermination(120)
        assert spark.table(cat.qualified("gold", "fact_sales")).count() == 3
        # January was seeded by batch and never touched by the stream: its
        # partition files survived BOTH streamed gold refreshes byte-for-byte
        assert _gold_partition_files(cat, "order_month=2025-01-01") == jan
        # gold ledger: one entry per batch, never duplicated across restarts
        glog = spark.table(cat.qualified("logs", gold.GOLD_BATCH_LOG_TABLE))
        assert (
            glog.groupBy("table_name", "_ingestion_batch_id").count()
            .filter("count > 1").count() == 0
        )

        # no-new-data restart: stream converges, gold untouched
        q3 = stream_bronze_ingest(
            stream_csv_drop_zone(spark, dropzone, SALES_DDL),
            cat, "crm_sales_raw",
            checkpoint_dir=ckpt, available_now=True,
            refresh_silver=True, refresh_gold=True,
        )
        q3.awaitTermination(120)
        assert spark.table(cat.qualified("gold", "fact_sales")).count() == 3

        # bit-for-bit vs a batch full rebuild over the same bronze
        _seed_medallion_bronze(full, spark, include_sales=False)
        full.append(
            spark.table(cat.qualified("bronze", "crm_sales_raw")),
            "bronze", "crm_sales_raw",
        )
        silver.run_silver(full)
        gold.run_gold(full)
        for t in ("dim_customers", "dim_products", "fact_sales",
                  "report_customers", "report_products"):
            assert _gold_rows(cat, t) == _gold_rows(full, t), t
    finally:
        for c in (cat, full):
            c.drop_layers()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_refresh_gold_requires_refresh_silver(spark):
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        bronze_batch_sink,
    )

    cat = Catalog(spark, prefix="stgldv_")
    with pytest.raises(ValueError, match="refresh_silver"):
        bronze_batch_sink(cat, "crm_sales_raw", refresh_gold=True)


def test_corpus_dedup_sink_lifetime_dedup_and_replay(spark, tmp_path):
    """Round-6: the streaming corpus sink dedups each micro-batch against
    the durable fingerprint ledger (corpus-lifetime, not watermark-
    bounded), and a replayed batch rewrites its own partitions instead of
    double-appending or (the subtle failure) seeing its own fingerprints
    and emitting an empty partition."""
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        corpus_dedup_sink,
    )

    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    sink = corpus_dedup_sink(corpus, ledger)

    b0 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "alpha  DOC"), (3, "beta doc")],
        "doc_id long, text string",
    )
    sink(b0, 0)  # 2 is an intra-batch dup of 1 (normalized)
    b1 = spark.createDataFrame(
        [(10, "beta doc"), (11, "gamma doc")],  # 10 dups batch 0's content
        "doc_id long, text string",
    )
    sink(b1, 1)

    out = spark.read.parquet(corpus)
    assert {r.doc_id for r in out.select("doc_id").collect()} == {1, 3, 11}

    # crash replay of batch 1: same survivors, no double-append, no wipe
    sink(b1, 1)
    out2 = spark.read.parquet(corpus)
    assert {r.doc_id for r in out2.select("doc_id").collect()} == {1, 3, 11}
    assert out2.count() == 3

    # batch 2 still sees batch 1's content as dup after the replay
    b2 = spark.createDataFrame(
        [(20, "GAMMA doc"), (21, "delta doc")], "doc_id long, text string"
    )
    sink(b2, 2)
    final = spark.read.parquet(corpus)
    assert {r.doc_id for r in final.select("doc_id").collect()} == {1, 3, 11, 21}


def test_bm25_index_sink_incremental_equals_build_and_replays(spark, tmp_path):
    """Round-7: the streaming BM25 index sink folds append-only batches
    into a persisted index that searches identically to a one-shot
    build over the union of batches; a crash-replayed batch overwrites
    its own partitions (no double-counted df/n_docs); and the loaded
    index keeps absorbing later batches."""
    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        bm25_index_sink,
        load_bm25_index_from_sink,
    )

    idx_dir = str(tmp_path / "bm25_stream_index")
    sink = bm25_index_sink(idx_dir)

    b0 = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (3, "executors spill shuffle data to disk under pressure"),
            (4, ""),  # tokenizes to nothing: no postings, not counted
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # crash replay: partition overwrite, not double-append

    loaded = load_bm25_index_from_sink(spark, idx_dir)
    rebuilt = retrieval.build_bm25_index(b0.unionByName(b1))
    assert loaded["n_docs"] == rebuilt["n_docs"] == 3
    assert loaded["total_dl"] == rebuilt["total_dl"]
    ts_l = {r.term: r.df for r in loaded["term_stats"].collect()}
    ts_r = {r.term: r.df for r in rebuilt["term_stats"].collect()}
    assert ts_l == ts_r
    queries = spark.createDataFrame(
        [(1, "spark executors shuffle data"), (2, "warm sun")],
        "query_id long, text string",
    )
    got = sorted(map(tuple, retrieval.search_bm25(loaded, queries, k=5).collect()))
    want = sorted(map(tuple, retrieval.search_bm25(rebuilt, queries, k=5).collect()))
    assert got == want and len(got) > 0

    # a later batch keeps folding in
    b2 = spark.createDataFrame(
        [(5, "the sun warms the disk of the galaxy")],
        "doc_id long, text string",
    )
    sink(b2, 2)
    loaded2 = load_bm25_index_from_sink(spark, idx_dir)
    rebuilt2 = retrieval.build_bm25_index(b0.unionByName(b1).unionByName(b2))
    got2 = sorted(map(tuple, retrieval.search_bm25(loaded2, queries, k=5).collect()))
    want2 = sorted(map(tuple, retrieval.search_bm25(rebuilt2, queries, k=5).collect()))
    assert got2 == want2


def test_bm25_index_sink_cdc_replace_and_delete(spark, tmp_path):
    """Round-8: the CDC tombstone ledger lets a stream REPLACE a
    re-ingested doc and DELETE one (empty-text re-ingest) without
    rewriting historical postings — the folded index equals the batch
    path's ``update_bm25_index`` on the same batches (the qd46
    equivalence, streamed), survives a crash replay, and survives
    compaction of the per-batch partitions."""
    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
    )
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        bm25_index_sink,
        load_bm25_index_from_sink,
    )

    idx_dir = str(tmp_path / "bm25_cdc_index")
    sink = bm25_index_sink(idx_dir, cdc=True)

    b0 = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "zebras graze quietly on the open savanna"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (2, "dogs bark loudly in the cold morning rain"),  # replace
            (3, ""),                                           # delete
            (4, "executors spill shuffle data to disk under pressure"),
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # crash replay: retired + postings slices overwrite cleanly

    loaded = load_bm25_index_from_sink(spark, idx_dir)
    updated = retrieval.update_bm25_index(retrieval.build_bm25_index(b0), b1)
    assert loaded["n_docs"] == updated["n_docs"] == 3  # docs 1, 2(v2), 4
    assert loaded["total_dl"] == updated["total_dl"]
    ts_l = {r.term: r.df for r in loaded["term_stats"].collect()}
    ts_u = {r.term: r.df for r in updated["term_stats"].collect()}
    assert ts_l == ts_u
    assert "zebras" not in ts_l      # deleted doc's vocabulary is gone
    assert "cats" not in ts_l        # replaced doc's OLD vocabulary is gone
    assert "dogs" in ts_l            # ... its new version is live

    queries = spark.createDataFrame(
        [(1, "spark executors shuffle data"), (2, "dogs in the rain"),
         (3, "zebras on the savanna")],
        "query_id long, text string",
    )
    got = sorted(map(tuple, retrieval.search_bm25(loaded, queries, k=5).collect()))
    want = sorted(map(tuple, retrieval.search_bm25(updated, queries, k=5).collect()))
    assert got == want and len(got) > 0
    assert not any(r[1] == 3 for r in got)  # the deleted doc never surfaces

    # long-running-stream hygiene: compacting the per-batch partitions
    # must not change the folded index (cp/batch_id survive as data cols)
    for sub in ("postings", "deltas", "retired"):
        compact_dataset(spark, f"{idx_dir}/{sub}")
    loaded_c = load_bm25_index_from_sink(spark, idx_dir)
    got_c = sorted(map(tuple, retrieval.search_bm25(loaded_c, queries, k=5).collect()))
    assert got_c == got


def test_bm25_cdc_retire_compaction_drops_dead_postings(spark, tmp_path):
    """Round-9 (verdict #3): retire-compaction physically folds the CDC
    tombstone ledger into the postings — dead postings are GONE FROM DISK
    (file-level scan of the published generation), the retired ledger
    truncates to a 0-row marker, the folded index still equals
    ``update_bm25_index`` over the same batches, and a FUTURE CDC batch
    (replace + delete) keeps working against the compacted layout. Both
    rewrites are manifest-committed (concurrent readers safe; only the
    stream must be quiesced past the compacted batches)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        bm25_index_sink,
        load_bm25_index_from_sink,
        retire_compact_bm25_sink,
    )

    idx_dir = str(tmp_path / "bm25_cdc_rc")
    sink = bm25_index_sink(idx_dir, cdc=True)
    b0 = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "zebras graze quietly on the open savanna"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (2, "dogs bark loudly in the cold morning rain"),  # replace
            (3, ""),                                           # delete
            (4, "executors spill shuffle data to disk under pressure"),
        ],
        "doc_id long, text string",
    )
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay before compaction — slices overwrite cleanly

    report = retire_compact_bm25_sink(spark, idx_dir)
    assert report["retired_folded"] > 0
    assert report["postings_dropped"] > 0

    # dead postings are PHYSICALLY gone: the published postings files
    # hold no row for the deleted doc or the replaced doc's old version
    postings = spark.read.parquet(manifest.resolve(f"{idx_dir}/postings"))
    assert postings.filter(F.col("doc") == 3).count() == 0
    assert postings.filter(
        (F.col("doc") == 2) & (F.col("term") == "cats")
    ).count() == 0
    # the ledger truncated to the 0-row marker
    retired = spark.read.parquet(manifest.resolve(f"{idx_dir}/retired"))
    assert retired.count() == 0

    # fold after compaction == the batch path over the same batches
    loaded = load_bm25_index_from_sink(spark, idx_dir)
    updated = retrieval.update_bm25_index(retrieval.build_bm25_index(b0), b1)
    assert loaded["n_docs"] == updated["n_docs"] == 3
    assert loaded["total_dl"] == updated["total_dl"]
    ts_l = {r.term: r.df for r in loaded["term_stats"].collect()}
    ts_u = {r.term: r.df for r in updated["term_stats"].collect()}
    assert ts_l == ts_u and "zebras" not in ts_l and "dogs" in ts_l

    # the stream keeps going against the compacted layout: a later batch
    # replaces doc 4 and deletes doc 1; the fold applies it
    b2 = spark.createDataFrame(
        [(4, "fresh telescopes resolve distant galaxies"), (1, "")],
        "doc_id long, text string",
    )
    sink(b2, 2)
    loaded2 = load_bm25_index_from_sink(spark, idx_dir)
    updated2 = retrieval.update_bm25_index(updated, b2)
    assert loaded2["n_docs"] == updated2["n_docs"] == 2
    ts_l2 = {r.term: r.df for r in loaded2["term_stats"].collect()}
    ts_u2 = {r.term: r.df for r in updated2["term_stats"].collect()}
    assert ts_l2 == ts_u2 and "spark" not in ts_l2 and "telescopes" in ts_l2

    # and a SECOND retire-compaction converges on the same state
    retire_compact_bm25_sink(spark, idx_dir)
    loaded3 = load_bm25_index_from_sink(spark, idx_dir)
    ts_l3 = {r.term: r.df for r in loaded3["term_stats"].collect()}
    assert ts_l3 == ts_u2 and loaded3["n_docs"] == 2


def test_token_count_sink_replay_and_compaction_invariant(spark, tmp_path):
    """Round-9 (verdict #4): the streaming drift ledger is
    replay-idempotent (a re-delivered batch overwrites its own slice)
    and compaction-invariant (slices fold to the same counts after
    compact_dataset), and the folded drift equals the one-shot
    token_drift over the same corpora."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import text
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
    )
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        token_count_sink,
        token_drift_from_sink,
    )

    ledger = str(tmp_path / "tok_ledger")
    stream_docs = spark.createDataFrame(
        [(1, "spark spark shuffle executors"),
         (2, "cats purr in the sun"),
         (3, "executors spill shuffle data")],
        "doc_id long, text string",
    )
    reference = spark.createDataFrame(
        [(10, "spark shuffle in the rain"), (11, "dogs bark at the sun")],
        "doc_id long, text string",
    )
    sink = token_count_sink(ledger)
    sink(stream_docs.filter(F.col("doc_id") <= 2), 0)
    sink(stream_docs.filter(F.col("doc_id") == 3), 1)
    sink(stream_docs.filter(F.col("doc_id") == 3), 1)  # crash replay

    got = token_drift_from_sink(spark, ledger, reference, top_k=50)
    want = text.token_drift(stream_docs, reference, top_k=50)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # compaction folds the slices without changing the counts
    compact_dataset(spark, ledger)
    got_c = token_drift_from_sink(spark, ledger, reference, top_k=50)
    assert sorted(map(tuple, got_c.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_index_sink_equals_batch_updates_and_replays(spark, tmp_path):
    """Round-11 verdict #2: the streaming IVF-PQ maintenance sink. Ledger
    slices folded by load_ivfpq_index_from_sink must be value-identical
    to applying update_ivfpq_index batch-by-batch on a copy of the same
    base index (new ids, moved re-ingests, null-vector deletes); a
    crash-replayed batch overwrites its own slices; stream drift folds
    into retrain_recommended."""
    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        ivfpq_index_sink,
        load_ivfpq_index_from_sink,
    )

    rows = []
    for i in range(64):
        eps = (i % 7) * 1e-3
        if i % 2 == 0:
            v = [1.0, eps, 0.0, eps, 0.0, 0.0, eps, 0.0]
        else:
            v = [0.0, eps, 1.0, 0.0, eps, 0.0, 0.0, eps]
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = similarity.build_ivfpq_index(emb, n_centroids=4, m=4, n_codes=4)
    stream_dir = str(tmp_path / "ivfpq_stream")
    batch_dir = str(tmp_path / "ivfpq_batch")
    similarity.write_ivfpq_index(index, stream_dir)
    similarity.write_ivfpq_index(index, batch_dir)

    # with no ledger yet the load IS the pinned base snapshot
    assert sorted(
        map(tuple, load_ivfpq_index_from_sink(spark, stream_dir)[
            "assignments"].collect())
    ) == sorted(
        map(tuple, similarity.read_ivfpq_index(spark, stream_dir)[
            "assignments"].collect())
    )

    b1 = spark.createDataFrame(
        [(100 + i, rows[i][1]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    # b2: re-ingest id 0 into the OTHER cluster, delete id 1, add id 108
    b2 = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (1, None),
            (108, rows[4][1]),
        ],
        "vec_id long, embedding array<float>",
    )
    sink = ivfpq_index_sink(stream_dir)
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # crash replay: partition overwrite, not double-append

    similarity.update_ivfpq_index(spark, batch_dir, b1)
    expected = similarity.update_ivfpq_index(spark, batch_dir, b2)
    loaded = load_ivfpq_index_from_sink(spark, stream_dir)
    got = sorted(map(tuple, loaded["assignments"].collect()))
    want = sorted(map(tuple, expected["assignments"].collect()))
    assert got == want and len(got) > 0

    # search equivalence over the folded snapshot (same pinned models)
    queries = spark.createDataFrame(
        [(0, rows[0][1]), (1, rows[1][1])],
        "vec_id long, embedding array<float>",
    )
    s_got = sorted(map(tuple, similarity.search_ivfpq_index(
        loaded, queries, k=3
    ).collect()))
    s_want = sorted(map(tuple, similarity.search_ivfpq_index(
        expected, queries, k=3
    ).collect()))
    assert s_got == s_want and len(s_got) > 0

    # a later batch keeps folding in: id 0 moves back
    b3 = spark.createDataFrame(
        [(0, rows[0][1])], "vec_id long, embedding array<float>"
    )
    sink(b3, 2)
    expected3 = similarity.update_ivfpq_index(spark, batch_dir, b3)
    assert sorted(
        map(tuple, load_ivfpq_index_from_sink(spark, stream_dir)[
            "assignments"].collect())
    ) == sorted(map(tuple, expected3["assignments"].collect()))

    # in-distribution batches: no drift flag through the fold
    assert load_ivfpq_index_from_sink(
        spark, stream_dir
    )["retrain_recommended"] is False
    # an OOD batch's recorded qerr flips the folded flag
    odd = spark.createDataFrame(
        [(300 + i, [0.0, 1.0, 0.0, -1.0, 1.0, 0.0, -1.0, 1.0])
         for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    sink(odd, 3)
    assert load_ivfpq_index_from_sink(
        spark, stream_dir
    )["retrain_recommended"] is True

    # a sink against a dir with no base index refuses honestly
    import pytest as _pytest

    bad = ivfpq_index_sink(str(tmp_path / "nope"))
    with _pytest.raises(FileNotFoundError):
        bad(b1, 0)


def test_sketch_sink_fold_equals_one_shot_and_replays(spark, tmp_path):
    """Round 11: streaming CMS/HLL sketch maintenance. The folded
    ledger must equal the one-shot sketches of the concatenated
    batches (mergeability doing production work), a re-delivered
    batch must overwrite its own slices, and compaction must not
    change the fold."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import (
        sketches as SK,
        text as T,
    )
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        compact_dataset,
    )
    from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
        sketch_sink,
        sketches_from_sink,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 11} w{i % 7} shared token stream") for i in range(40)],
        "doc_id long, text string",
    )
    ledger = str(tmp_path / "sk_ledger")
    sink = sketch_sink(ledger, "text", depth=2, width=16, p=6)
    sink(docs.filter(F.col("doc_id") < 20), 0)
    sink(docs.filter(F.col("doc_id") >= 20), 1)
    sink(docs.filter(F.col("doc_id") >= 20), 1)  # crash replay

    toks = docs.select(F.explode(T.tokens("text")).alias("term"))
    want_cms = sorted(map(tuple, T.cms_table(
        toks, "term", depth=2, width=16).collect()))
    want_hll = sorted(map(tuple, SK.hll_registers(
        toks, "term", p=6).collect()))

    folded = sketches_from_sink(spark, ledger)
    assert sorted(map(tuple, folded["cms"].collect())) == want_cms
    assert sorted(map(tuple, folded["hll"].collect())) == want_hll

    # compaction folds slices without changing either sketch
    compact_dataset(spark, f"{ledger}/cms")
    compact_dataset(spark, f"{ledger}/hll")
    folded2 = sketches_from_sink(spark, ledger)
    assert sorted(map(tuple, folded2["cms"].collect())) == want_cms
    assert sorted(map(tuple, folded2["hll"].collect())) == want_hll
