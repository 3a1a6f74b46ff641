"""Write-path DML semantics tests (reference §2.9: upsert, soft delete,
batch update, merge-with-counts, incremental watermark, hash-CDC)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark import dml
from sql_data_warehouse_analytics_project_spark.catalog import (
    Catalog,
    with_medallion_metadata,
)


@pytest.fixture()
def target(spark):
    return with_medallion_metadata(
        spark.createDataFrame(
            [Row(k=1, v="old1", n=10), Row(k=2, v="old2", n=20)]
        ),
        source_system="test",
    )


def test_upsert_insert_and_update(spark, target):
    src = spark.createDataFrame([Row(k=2, v="new2", n=99), Row(k=3, v="new3", n=30)])
    new_state, counts = dml.upsert(target, src, ["k"])
    assert counts == {"inserted": 1, "updated": 1}
    rows = {r.k: r for r in new_state.collect()}
    assert rows[1].v == "old1"          # untouched
    assert rows[2].v == "new2"          # updated in place
    assert rows[2].n == 99
    assert rows[3].v == "new3"          # inserted
    assert rows[2].updated_by == "engine"
    # untouched row keeps original metadata; updated row got bumped
    assert rows[1].updated_at is not None


def test_upsert_null_source_value_overwrites(spark, target):
    src = spark.createDataFrame([(1, None, None)], "k long, v string, n long")
    new_state, counts = dml.upsert(target, src, ["k"])
    rows = {r.k: r for r in new_state.collect()}
    assert counts == {"inserted": 0, "updated": 1}
    assert rows[1].v is None            # NULL overwrites (matched-flag, not null-check)


def test_soft_delete(spark, target):
    out = dml.soft_delete(target, {"column": "k", "operator": "=", "value": 1},
                          deleted_by="tester")
    rows = {r.k: r for r in out.collect()}
    assert rows[1].is_deleted is True and rows[1].updated_by == "tester"
    assert rows[2].is_deleted is False


def test_batch_update(spark, target):
    out = dml.batch_update(
        target, {"n": F.col("n") * 2}, {"column": "k", "operator": ">", "value": 1}
    )
    rows = {r.k: r for r in out.collect()}
    assert rows[1].n == 10 and rows[2].n == 40


def test_merge_with_delete(spark, target):
    src = spark.createDataFrame([Row(k=3, v="v3", n=30)])
    new_state, counts = dml.merge(
        target, src, ["k"], delete_condition={"column": "k", "operator": "=", "value": 1}
    )
    assert counts == {"inserted": 1, "updated": 0, "deleted": 1}
    assert sorted(r.k for r in new_state.collect()) == [2, 3]


def test_incremental_batch_and_watermark(spark):
    src = spark.createDataFrame([Row(id=i, ts=i * 10) for i in range(10)])
    b1 = dml.incremental_batch(src, "ts", last_processed_value=30, batch_size=3)
    rows = [r.ts for r in b1.collect()]
    assert rows == [40, 50, 60]
    assert dml.next_watermark(b1, "ts") == 60


def test_changed_rows_cdc(spark):
    existing = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    incoming = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="B"), Row(k=3, v="c")]
    )
    out = dml.changed_rows(incoming, existing, ["k", "v"])
    assert sorted(r.k for r in out.collect()) == [2, 3]  # changed + new only


def test_recompute_is_current(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, _ingestion_timestamp=1, v="old"),
            Row(k=1, _ingestion_timestamp=2, v="new"),
            Row(k=2, _ingestion_timestamp=1, v="only"),
        ]
    )
    out = dml.recompute_is_current(df, ["k"])
    cur = {(r.k, r.v): r._is_current for r in out.collect()}
    assert cur == {(1, "old"): False, (1, "new"): True, (2, "only"): True}


def test_catalog_roundtrip_upsert_table(spark):
    cat = Catalog(spark, prefix="t1_")
    cat.create_layers()
    try:
        base = with_medallion_metadata(
            spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
        )
        from pyspark.sql import types as T
        cat.create_table("silver", "kv", base.schema, medallion_metadata=False)
        assert cat.table_exists("silver", "kv")
        cat.append(base, "silver", "kv")

        counts = dml.upsert_table(
            cat, "silver", "kv",
            spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")]), ["k"],
        )
        assert counts == {"inserted": 1, "updated": 1}
        rows = {r.k: r.v for r in cat.read("silver", "kv").collect()}
        assert rows == {1: "a", 2: "B", 3: "c"}

        # soft delete hides from standard read, visible with include_deleted
        dml.soft_delete_table(cat, "silver", "kv", {"column": "k", "operator": "=", "value": 1})
        assert sorted(r.k for r in cat.read("silver", "kv").collect()) == [2, 3]
        assert cat.read("silver", "kv", include_deleted=True).count() == 3
    finally:
        cat.drop_layers()


def test_catalog_add_column_visible_through_view(spark):
    """``Catalog.add_column`` (S7 ADD COLUMN) alters the physical
    generation and republishes the view: the column reads through the
    published table, existing rows read NULL, and appends can fill it."""
    cat = Catalog(spark, prefix="addcol_")
    cat.drop_layers()
    cat.create_layers()
    try:
        cat.overwrite(
            spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
            "silver", "kv",
        )
        cat.add_column("silver", "kv", "note", "string")
        q = cat.qualified("silver", "kv")
        assert spark.table(q).columns == ["k", "v", "note"]
        assert sorted(tuple(r) for r in spark.table(q).collect()) == [
            (1, "a", None), (2, "b", None),
        ]
        cat.append(
            spark.createDataFrame([(3, "c", "x")], "k int, v string, note string"),
            "silver", "kv",
        )
        assert {r.k: r.note for r in spark.table(q).collect()} == {
            1: None, 2: None, 3: "x",
        }
    finally:
        cat.drop_layers()


def test_incremental_batch_cuts_on_value_boundary(spark):
    """batch_size must never split rows sharing the boundary value of the
    incremental column — advancing the watermark past a split value
    permanently loses the remainder."""
    src = spark.createDataFrame(
        [(i, t) for i, t in enumerate([10, 20, 20, 20, 30])], "id int, ts int"
    )
    b = dml.incremental_batch(src, "ts", last_processed_value=None, batch_size=2)
    # cutoff = 2nd-smallest value (20) → ALL ts=20 rows come along
    assert sorted(r.ts for r in b.collect()) == [10, 20, 20, 20]
    wm = dml.next_watermark(b, "ts")
    rest = dml.incremental_batch(src, "ts", wm)
    assert [r.ts for r in rest.collect()] == [30]  # nothing lost


def test_overwrite_publish_is_atomic_and_crash_safe(spark, monkeypatch):
    """Round-9 generation protocol: an overwrite writes a NEW generation
    table and publishes it with ONE atomic ALTER VIEW AS repoint. Kill it right
    before the publish: the published state (and every reader) is
    untouched, the fully-written generation stays durable, and a plain
    retry completes cleanly."""
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog

    cat = Catalog(spark, prefix="atomic_")
    cat.drop_layers()
    cat.create_layers()
    try:
        target = cat.qualified("silver", "t")
        # first overwrite creates the generation and the view over it
        cat.overwrite(spark.createDataFrame([(3,)], "k int"), "silver", "t")
        assert [r.k for r in spark.table(target).collect()] == [3]
        assert spark.catalog.getTable(target).tableType == "VIEW"
        g_live = cat.resolve_table("silver", "t")

        # crash BEFORE the publish: view still serves the old generation
        real_sql = spark.sql
        def crash_on_publish(q, **kw):
            if q.startswith(f"ALTER VIEW {target} AS"):
                raise RuntimeError("simulated crash before publish")
            return real_sql(q, **kw)
        monkeypatch.setattr(spark, "sql", crash_on_publish)
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="simulated crash"):
            cat.overwrite(spark.createDataFrame([(4,)], "k int"), "silver", "t")
        monkeypatch.undo()
        assert [r.k for r in spark.table(target).collect()] == [3]
        assert cat.resolve_table("silver", "t") == g_live
        # no recovery needed: a plain retry publishes the next generation
        cat.overwrite(spark.createDataFrame([(5,)], "k int"), "silver", "t")
        assert [r.k for r in spark.table(target).collect()] == [5]

        # and a clean, uninterrupted overwrite still round-trips
        cat.overwrite(spark.createDataFrame([(9,)], "k int"), "silver", "t")
        assert [r.k for r in spark.table(target).collect()] == [9]
    finally:
        monkeypatch.undo()
        cat.drop_layers()


def test_overwrite_concurrent_reader_never_sees_missing_table(spark):
    """The verdict's reader-safety criterion on the CATALOG surface: a
    reader loop during repeated overwrites always resolves the view to a
    complete generation — never a missing table, never a mixed state
    (each snapshot is one constant value replicated over all rows)."""
    import threading

    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog

    cat = Catalog(spark, prefix="hotov_")
    # retain every generation for the duration of the loop so even a
    # reader that resolved several publishes ago can finish its scan
    # (production tunes this to its longest-running reader)
    cat.generation_retention = 10
    cat.drop_layers()
    cat.create_layers()
    try:
        def state(v: int):
            return spark.range(200).select(F.lit(v).alias("v"))

        cat.overwrite(state(0), "silver", "hot")
        stop = threading.Event()
        failures: list[str] = []

        def reader():
            while not stop.is_set():
                try:
                    got = (
                        spark.table(cat.qualified("silver", "hot"))
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.countDistinct("v").alias("d"),
                        )
                        .collect()[0]
                    )
                except Exception as e:  # noqa: BLE001 — the failure mode under test
                    failures.append(f"reader errored: {e}")
                    return
                if got["n"] != 200 or got["d"] != 1:
                    failures.append(f"mixed state n={got['n']} d={got['d']}")
                    return

        t = threading.Thread(target=reader)
        t.start()
        try:
            for v in range(1, 6):
                cat.overwrite(state(v), "silver", "hot")
        finally:
            stop.set()
            t.join(timeout=180)
        assert not failures, failures
    finally:
        cat.drop_layers()


def test_partitioned_overwrite_keeps_partition_pruning(spark):
    """A partitioned overwrite keeps directory partitioning on the
    generation table, so every row reads back through the view and a
    partition-scoped read prunes at the scan."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.catalog import Catalog

    cat = Catalog(spark, prefix="partov_")
    cat.drop_layers()
    cat.create_layers()
    try:
        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "k int, p string"
        )
        cat.overwrite(df, "silver", "t", partition_by=["p"])
        target = cat.qualified("silver", "t")
        got = spark.table(target)
        assert got.count() == 3
        # month/partition-scoped read prunes at the scan
        plan = (
            got.filter(F.col("p") == "a")
            ._jdf.queryExecution().executedPlan().treeString()
        )
        assert "PartitionFilters: [" in plan
    finally:
        cat.drop_layers()


def test_tables_from_older_code_raise_before_any_write(spark):
    """The generation format is the only one the catalog knows. A name
    holding a plain table, or a view over anything but one of its own
    generations, was written by older code: resolve_table, append and
    overwrite raise one RuntimeError naming it, before writing anything.
    A missing table gets a clear error from resolve_table."""
    import re

    cat = Catalog(spark, prefix="older_")
    cat.drop_layers()
    cat.create_layers()
    try:
        plain = cat.qualified("silver", "plain")
        spark.createDataFrame([(1,)], "k int").write.saveAsTable(plain)
        spark.sql(f"CREATE VIEW {cat.qualified('silver', 'foreign')} "
                  f"AS SELECT * FROM {plain}")
        df = spark.createDataFrame([(2,)], "k int")
        for name, kind in (("plain", "TABLE"), ("foreign", "VIEW")):
            advice = re.escape(f"DROP {kind} {cat.qualified('silver', name)}")
            with pytest.raises(RuntimeError, match=advice):
                cat.resolve_table("silver", name)
            with pytest.raises(RuntimeError, match=advice):
                cat.append(df, "silver", name)
            with pytest.raises(RuntimeError, match=advice):
                cat.overwrite(df, "silver", name)
            q = cat.qualified("silver", name)
            assert [r.k for r in spark.table(q).collect()] == [1]
        # no generation table was written next to them
        names = {
            t.name for t in spark.catalog.listTables(cat.db("silver"))
            if not t.isTemporary
        }
        assert names == {"plain", "foreign"}
        with pytest.raises(RuntimeError, match="does not exist"):
            cat.resolve_table("silver", "missing")
    finally:
        cat.drop_layers()


def test_append_after_half_published_repoint_lands_in_view(spark):
    """A publish that stopped after its ``ALTER VIEW … AS`` repoint, with
    a generation property on the view still naming the previous
    generation, must not route later appends into that invisible
    generation: the view definition alone says which generation is live."""
    cat = Catalog(spark, prefix="halfpub_")
    cat.drop_layers()
    cat.create_layers()
    try:
        q = cat.qualified("silver", "t")
        cat.create_table(
            "silver", "t", spark.createDataFrame([], "k int").schema,
            medallion_metadata=False, comment="kept across repoints",
        )
        cat.append(spark.createDataFrame([(1,)], "k int"), "silver", "t")
        g1 = f"{cat.db('silver')}.t__g000001"
        g2 = f"{cat.db('silver')}.t__g000002"
        spark.sql(f"ALTER VIEW {q} SET TBLPROPERTIES "
                  f"('spark_graft.generation'='{g1}')")
        spark.createDataFrame([(2,)], "k int").write.format(
            "parquet").saveAsTable(g2)
        spark.sql(f"ALTER VIEW {q} AS SELECT * FROM {g2}")

        assert cat.resolve_table("silver", "t") == g2
        cat.append(spark.createDataFrame([(3,)], "k int"), "silver", "t")
        assert sorted(r.k for r in spark.table(q).collect()) == [2, 3]
        # a regular overwrite repoints with one statement and keeps the
        # view's comment
        cat.overwrite(spark.createDataFrame([(4,)], "k int"), "silver", "t")
        assert [r.k for r in cat.read("silver", "t").collect()] == [4]
        assert cat.resolve_table("silver", "t").endswith("t__g000003")
        assert spark.catalog.getTable(q).description == "kept across repoints"
    finally:
        cat.drop_layers()
