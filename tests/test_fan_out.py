"""Stage fan-out (``session.fan_out``): independent units of a medallion
stage run side by side, each with its own copy of the caller's Spark
local properties; a failing unit fails the stage only after every unit
has finished, and before the stage's ledger append. Also the writes that
concurrency touches: the dynamic partition overwrite never flips the
session conf, and the driver-memory default that sizes each session."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from sql_data_warehouse_analytics_project_spark import session
from sql_data_warehouse_analytics_project_spark.catalog import (
    MEDALLION_METADATA_COLUMNS,
    Catalog,
)
from sql_data_warehouse_analytics_project_spark.medallion import bronze, silver
from sql_data_warehouse_analytics_project_spark.ops.context import RunContext
from sql_data_warehouse_analytics_project_spark.queries_medallion import (
    CRM_DIR,
    ERP_DIR,
)


def test_default_driver_memory_is_half_the_box_capped(monkeypatch):
    page = 4096

    def box(gib):
        values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
        monkeypatch.setattr(session.os, "sysconf", values.__getitem__)
        return session.default_driver_memory()

    assert box(15) == f"{15 * 1024 // 2}m"
    assert box(16) == "8192m"
    assert box(96) == "49152m"  # exactly the cap
    assert box(512) == "49152m"


def test_fan_out_keeps_order_waits_for_all_and_raises_first_failure(spark):
    finished: list[str] = []

    def slow():
        time.sleep(0.5)
        finished.append("slow")
        return "slow"

    def fail(msg):
        def unit():
            finished.append(msg)
            raise ValueError(msg)

        return unit

    assert session.fan_out(spark, [lambda: 1, lambda: 2, slow]) == [1, 2, "slow"]
    finished.clear()
    with pytest.raises(ValueError, match="^first$"):
        session.fan_out(spark, [slow, fail("first"), fail("second")])
    # the slow unit ran to its end before the first failure surfaced
    assert sorted(finished) == ["first", "second", "slow"]
    # one unit runs inline on the caller's thread
    assert session.fan_out(spark, [threading.get_ident]) == [threading.get_ident()]
    assert session.fan_out(spark, []) == []


def test_fan_out_gives_each_unit_its_own_local_properties(spark):
    """Every unit inherits the caller's properties and mutates a copy of
    its own: a wrapper shared by the pool's threads would let one unit's
    job group (or SQL execution id) overwrite another's."""
    sc = spark.sparkContext
    sc.setLocalProperty("fan_out.test", "caller")
    n = max(sc.defaultParallelism, 2) * 2

    def unit(i):
        def run():
            inherited = sc.getLocalProperty("fan_out.test")
            sc.setLocalProperty("fan_out.test", f"unit{i}")
            time.sleep(0.2)
            return inherited, sc.getLocalProperty("fan_out.test")

        return run

    try:
        got = session.fan_out(spark, [unit(i) for i in range(n)])
        assert got == [("caller", f"unit{i}") for i in range(n)]
        assert sc.getLocalProperty("fan_out.test") == "caller"
    finally:
        sc.setLocalProperty("fan_out.test", None)


def test_overwrite_partitions_leaves_conf_and_other_partitions(spark, monkeypatch):
    """The dynamic partition overwrite is the generation table's own
    option: with the session conf at ``static`` the untouched partition
    keeps its files, and the conf is never written (a session-wide flip
    races with concurrent writers: one thread's restore to ``static``
    turns another's write into a static overwrite of every partition)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    cat = Catalog(spark, prefix="pow_")
    cat.drop_layers()
    cat.create_layers()
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, p string")
        cat.overwrite(df, "gold", "t", partition_by=["p"])
        loc = next(
            r["data_type"]
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {cat.resolve_table('gold', 't')}"
            ).collect()
            if r["col_name"] == "Location"
        ).removeprefix("file:")
        files_b = sorted(os.listdir(f"{loc}/p=b"))

        sets: list[tuple] = []
        real_set = RuntimeConfig.set
        monkeypatch.setattr(
            RuntimeConfig, "set",
            lambda self, k, v: (sets.append((k, v)), real_set(self, k, v))[1],
        )
        cat.overwrite_partitions(
            spark.createDataFrame([(9, "a")], "k int, p string"), "gold", "t"
        )
        monkeypatch.undo()

        assert sets == []
        assert spark.conf.get(key) == "static"
        assert sorted(os.listdir(f"{loc}/p=b")) == files_b
        rows = spark.table(cat.qualified("gold", "t")).collect()
        assert sorted(tuple(r) for r in rows) == [(2, "b"), (9, "a")]
    finally:
        spark.conf.set(key, prev)
        cat.drop_layers()


def test_concurrent_logging_and_flushes_keep_every_row_once(spark):
    """More logging threads than cores, each buffering rows and flushing
    (whose per-table appends run side by side) while the others append:
    every buffered row lands in its log table exactly once."""
    import sys

    cat = Catalog(spark, prefix="fanflush_")
    cat.drop_layers()
    cat.create_layers()
    ctx = RunContext(cat, created_by="fanflush")
    n_threads, rows, flushes = 2 * spark.sparkContext.defaultParallelism, 6, 2
    errors: list[BaseException] = []

    def worker(w):
        try:
            for i in range(rows):
                ctx.log_lineage(source_schema="s", source_table=f"w{w}",
                                target_schema="t", target_table=f"r{i}")
                ctx.record_metric(f"w{w}.r{i}", float(i))
                if i % (rows // flushes) == 0:
                    ctx.flush()
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not errors, errors
        want = sorted((f"w{w}", f"r{i}") for w in range(n_threads) for i in range(rows))
        got = ctx.table("data_lineage").select("source_table", "target_table").collect()
        assert sorted(tuple(r) for r in got) == want
        assert ctx.table("performance_metrics").count() == n_threads * rows
    finally:
        cat.drop_layers()


@pytest.fixture(scope="module")
def bronze_cat(spark):
    """The six reference CSVs in bronze, loaded once for this module."""
    cat = Catalog(spark, prefix="fanb_")
    cat.drop_layers()
    cat.create_layers()
    loaded = bronze.load_sources(cat, CRM_DIR, ERP_DIR)
    assert all(r["status"] == "SUCCESS" for r in loaded.values()), loaded
    yield cat
    cat.drop_layers()


def _fresh_with_bronze(spark, bronze_cat, prefix):
    """A catalog whose bronze tables copy ``bronze_cat``'s."""
    cat = Catalog(spark, prefix=prefix)
    cat.drop_layers()
    cat.create_layers()
    for raw in silver.SILVER_TRANSFORMS:
        cat.overwrite(spark.table(bronze_cat.qualified("bronze", raw)), "bronze", raw)
    return cat


def _next_job_id(sc) -> int:
    """The id the next Spark job gets: one past a marker job's (the
    status tracker keeps only recent jobs, so ids are not probed from 0)."""
    group = f"fan_out.mark.{time.time_ns()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group)) + 1


def _job_ids_since(sc, start: int) -> list[int]:
    """Ids of the jobs submitted from job ``start`` on (ids are dense)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids, jid = [], start
    while sc.statusTracker().getJobInfo(jid) is not None:
        ids.append(jid)
        jid += 1
    return ids


def test_parallel_silver_jobs_each_counted_under_one_capture(spark, bronze_cat):
    """With auto-capture on, each of the six concurrent silver writes
    counts its own jobs (``silver.<table>.jobs`` > 0), the enclosing
    ``silver_transform`` capture counts the rest, and together they are
    every job the status tracker saw during the stage: no job is lost to
    a capture that already closed or counted twice."""
    cat = _fresh_with_bronze(spark, bronze_cat, "fanjobs_")
    sc = spark.sparkContext
    try:
        ctx = RunContext(cat, created_by="fanjobs").enable_auto_capture()
        start = _next_job_id(sc)
        with ctx.measure("silver_transform"):
            silver.run_silver(cat, run_context=ctx)
        seen = len(_job_ids_since(sc, start))
        jobs = {
            r["metric_name"]: float(r["metric_value"])
            for r in ctx.table("performance_metrics")
            .filter(F.col("metric_name").endswith(".jobs"))
            .collect()
        }
        ctx.close()
        per_write = {
            t: jobs.get(f"silver.{t}.jobs", 0.0)
            for t, _ in silver.SILVER_TRANSFORMS.values()
        }
        assert all(n > 0 for n in per_write.values()), per_write
        assert sum(per_write.values()) + jobs["silver_transform.jobs"] == seen, (
            per_write, jobs["silver_transform.jobs"], seen,
        )
    finally:
        cat.drop_layers()


def _data_rows(cat, table):
    df = cat.spark.table(cat.qualified("silver", table))
    cols = sorted(
        c for c in df.columns
        if (c not in MEDALLION_METADATA_COLUMNS or c == "row_hash")
        and not c.startswith("_")
    )
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_failed_silver_unit_raises_after_all_writes_and_before_ledger(
    spark, bronze_cat, monkeypatch
):
    """One silver table's write raises while the others run: the stage
    raises that error once every other table is written, the ledger gains
    no rows, and a rerun converges to the silver of a run that never
    crashed."""
    clean = _fresh_with_bronze(spark, bronze_cat, "fanclean_")
    crash = _fresh_with_bronze(spark, bronze_cat, "fancrash_")
    try:
        silver.run_silver_incremental(clean)

        real = crash.overwrite

        def overwrite(df, layer, table, **kw):
            if (layer, table) == ("silver", "erp_locations"):
                time.sleep(0.5)  # the other writes are in flight
                raise RuntimeError("simulated silver write failure")
            return real(df, layer, table, **kw)

        monkeypatch.setattr(crash, "overwrite", overwrite)
        with pytest.raises(RuntimeError, match="simulated silver write failure"):
            silver.run_silver_incremental(crash)
        monkeypatch.undo()

        written = [t for t, _ in silver.SILVER_TRANSFORMS.values()
                   if crash.table_exists("silver", t)]
        assert written == [t for t, _ in silver.SILVER_TRANSFORMS.values()
                           if t != "erp_locations"]
        assert not crash.table_exists("logs", silver.BATCH_LOG_TABLE) or (
            spark.table(crash.qualified("logs", silver.BATCH_LOG_TABLE)).count() == 0
        )

        silver.run_silver_incremental(crash)
        for t, _ in silver.SILVER_TRANSFORMS.values():
            assert _data_rows(crash, t) == _data_rows(clean, t), t
    finally:
        clean.drop_layers()
        crash.drop_layers()
