"""Unit tests for the relational operator library over tiny DataFrames
(mirrors the reference's pyramid: operator-level units + pipeline checks,
``/root/reference/tests`` style, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.functions.scalars import (
    row_hash,
    yyyymmdd_to_date,
)
from sql_data_warehouse_analytics_project_spark.operators import (
    aggregates,
    joins,
    relational,
    windows,
)


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            Row(id=1, name="a", dept="x", score=10.0),
            Row(id=2, name="b", dept="x", score=20.0),
            Row(id=3, name="c", dept="y", score=30.0),
            Row(id=4, name="d", dept="y", score=None),
        ]
    )


def test_where_dict_conditions(people):
    out = relational.where(
        people,
        [
            {"column": "dept", "operator": "=", "value": "x"},
            {"column": "score", "operator": ">=", "value": 15},
        ],
    )
    assert [r.id for r in out.collect()] == [2]


def test_where_in_and_or(people):
    out = relational.where(
        people,
        [
            {"column": "id", "value": [1, 3]},
            {"column": "dept", "operator": "=", "value": "y"},
        ],
        combine="OR",
    )
    assert sorted(r.id for r in out.collect()) == [1, 3, 4]


def test_exclude_soft_deleted(spark):
    df = spark.createDataFrame(
        [Row(id=1, is_deleted=False), Row(id=2, is_deleted=True), Row(id=3, is_deleted=None)]
    )
    out = relational.exclude_soft_deleted(df)
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_not_in_subquery_null_semantics(spark):
    df = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=None)])
    sub = spark.createDataFrame([Row(v=2), Row(v=None)])
    out = relational.not_in_subquery(df, "k", sub, "v")
    # SQL NOT IN with NULL in subquery list: only non-null non-matching rows
    assert [r.k for r in out.collect()] == [1]


def test_paginate_requires_order(people):
    with pytest.raises(ValueError):
        relational.paginate(people, [], 1, 2)


def test_paginate_pages(people):
    p1 = relational.paginate(people, [F.col("id")], 1, 2)
    p2 = relational.paginate(people, [F.col("id")], 2, 2)
    assert [r.id for r in p1.collect()] == [1, 2]
    assert [r.id for r in p2.collect()] == [3, 4]


def test_classify_changes(spark):
    src = spark.createDataFrame([Row(k=1), Row(k=2)])
    tgt = spark.createDataFrame([Row(k=2), Row(k=3)])
    out = {r.k: r.operation for r in joins.classify_changes(src, tgt, ["k"]).collect()}
    assert out == {1: "INSERT", 2: "UPDATE"}


def test_quality_checks(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=1, b="x"), Row(a=None, b="y")]
    )
    out = {
        r.check_name: r
        for r in aggregates.quality_checks(
            df,
            [
                {"type": "null_check", "column": "a"},
                {"type": "duplicate_check", "columns": ["a", "b"]},
                {"type": "range_check", "column": "a", "min": 0, "max": 10},
            ],
        ).collect()
    }
    assert out["null_check_a"].issue_count == 1
    assert out["null_check_a"].status == "FAIL"  # 33% > 5%
    # SQL COUNT(DISTINCT a,b) excludes tuples containing NULL, so the
    # NULL-keyed row also counts toward the duplicate delta (2 = 3 - 1)
    assert out["duplicate_check_a_b"].issue_count == 2
    assert out["range_check_a"].issue_count == 0
    assert out["range_check_a"].status == "PASS"


def test_running_totals_reset(spark):
    df = spark.createDataFrame(
        [
            Row(g="a", d="2024-01-01", v=1.0),
            Row(g="a", d="2024-01-02", v=2.0),
            Row(g="a", d="2025-01-01", v=5.0),
        ]
    ).withColumn("d", F.to_date("d"))
    out = windows.running_totals(df, "v", "d", ["g"], reset_frequency="yearly")
    rows = {r.d.isoformat(): r.running_total for r in out.collect()}
    assert rows["2024-01-02"] == 3.0
    assert rows["2025-01-01"] == 5.0  # reset at year boundary


def test_detect_gaps(spark):
    df = spark.createDataFrame(
        [Row(g="a", d="2024-01-01"), Row(g="a", d="2024-01-02"), Row(g="a", d="2024-01-10")]
    ).withColumn("d", F.to_date("d"))
    out = windows.detect_gaps(df, "d", ["g"], "daily").collect()
    assert len(out) == 1
    assert out[0].gap_length_days == 8


def test_cohort_retention_shape(spark):
    df = spark.createDataFrame(
        [
            Row(u=1, e="2024-01-05", c="2024-01-05"),
            Row(u=1, e="2024-02-10", c="2024-01-05"),
            Row(u=2, e="2024-01-20", c="2024-01-20"),
        ]
    ).withColumn("e", F.to_timestamp("e")).withColumn("c", F.to_timestamp("c"))
    out = windows.cohort_retention(df, "u", "e", "c").collect()
    by_period = {r.period_number: r for r in out}
    assert by_period[0].metric_value == 2
    assert by_period[1].metric_value == 1
    assert by_period[1].retention_pct == 50.0


def test_row_hash_order_independent_and_null_safe(spark):
    df = spark.createDataFrame([Row(a="x", b=None), Row(a=None, b="x")])
    out = df.select(
        row_hash("a", "b").alias("h1"), row_hash("b", "a").alias("h2")
    ).collect()
    # same columns in any order → same hash per row
    assert all(r.h1 == r.h2 for r in out)
    # but (x, NULL) and (NULL, x) are different contents → different hashes
    assert out[0].h1 != out[1].h1


def test_yyyymmdd_to_date(spark):
    df = spark.createDataFrame([Row(d=20240131), Row(d=0), Row(d=99999999), Row(d=None)])
    out = df.select(yyyymmdd_to_date("d").alias("dt")).collect()
    assert out[0].dt.isoformat() == "2024-01-31"
    assert out[1].dt is None and out[2].dt is None and out[3].dt is None


def test_salted_join_matches_plain_join(spark):
    fact = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(50)] + [Row(k=2, v=i) for i in range(3)]
    )
    dim = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    salted = joins.salted_join(fact, dim, ["k"], salt_buckets=4)
    plain = fact.join(dim, ["k"])
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join keeps unmatched salted rows exactly once
    fact2 = fact.union(spark.createDataFrame([Row(k=9, v=0)]))
    left = joins.salted_join(fact2, dim, ["k"], how="left", salt_buckets=4)
    assert left.count() == fact2.count()


def test_write_bucketed_join_has_no_shuffle(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS buckettest")
    spark.sql("DROP TABLE IF EXISTS buckettest.a")
    spark.sql("DROP TABLE IF EXISTS buckettest.b")
    # the metastore is per-session: files from a previous test run survive
    # DROP TABLE IF EXISTS, so clear the physical location too
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/buckettest.db", ignore_errors=True)
    a = spark.createDataFrame([Row(k=i, va=i * 2) for i in range(100)])
    b = spark.createDataFrame([Row(k=i, vb=i * 3) for i in range(100)])
    joins.write_bucketed(a, "buckettest.a", ["k"], num_buckets=8)
    joins.write_bucketed(b, "buckettest.b", ["k"], num_buckets=8)
    # force the big-big (sort-merge) path: broadcast would win on toy data
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("buckettest.a").join(spark.table("buckettest.b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().treeString()
        assert "Exchange" not in plan, f"bucketed join should not shuffle:\n{plan}"
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_analyze_medallion_layer_filters(spark):
    import datetime as _dt

    df = spark.createDataFrame(
        [
            Row(v=1, created_at=_dt.datetime(2024, 1, 1, 10), source_system="crm", batch_id="b1"),
            Row(v=2, created_at=_dt.datetime(2024, 1, 2, 10), source_system="crm", batch_id="b2"),
            Row(v=3, created_at=_dt.datetime(2024, 1, 2, 12), source_system="erp", batch_id="b2"),
        ]
    )
    out = relational.analyze_medallion_layer(
        df, business_date=_dt.date(2024, 1, 2), source_system="crm"
    ).collect()
    assert [r.v for r in out] == [2]
    latest_first = relational.analyze_medallion_layer(df).collect()
    assert [r.v for r in latest_first] == [3, 2, 1]


def test_validate_rules(spark):
    from sql_data_warehouse_analytics_project_spark.operators import validate as V

    df = spark.createDataFrame(
        [
            Row(id=1, email="a@x.com", score=5),
            Row(id=1, email=None, score=150),
            Row(id=2, email="bad", score=50),
        ]
    )
    rules = [
        {"rule": "not_null", "column": "email", "severity": "ERROR"},
        {"rule": "unique", "columns": ["id"], "severity": "ERROR"},
        {"rule": "range", "column": "score", "min": 0, "max": 100, "severity": "WARNING"},
        {"rule": "regex", "column": "email", "pattern": r"^[^@]+@[^@]+\.[^@]+$"},
        {"rule": "data_type", "column": "id", "expected": "bigint"},
        {"rule": "data_type", "column": "email", "expected": "int"},
    ]
    out = {r.rule_name: r for r in V.validate(df, rules).collect()}
    assert out["not_null_email"].violation_count == 1
    assert out["unique_id"].violation_count == 1
    assert out["range_score"].violation_count == 1
    assert out["range_score"].severity == "WARNING"
    assert out["regex_email"].violation_count == 1
    assert out["data_type_id"].passed
    assert not out["data_type_email"].passed

    bad = {r.id: set(r.failed_rules) for r in V.violating_rows(df, rules).collect()}
    assert bad[1] == {"not_null_email", "range_score"}
    assert bad[2] == {"regex_email"}


def test_validate_and_log_records_errors(spark, tmp_path):
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.operators import validate as V
    from sql_data_warehouse_analytics_project_spark.ops.context import RunContext

    cat = Catalog(spark, prefix="valtest_")
    cat.drop_layers()
    cat.create_layers()
    ctx = RunContext(cat)
    df = spark.createDataFrame([Row(id=1), Row(id=None)])
    summary = V.validate_and_log(
        df,
        [{"rule": "not_null", "column": "id", "severity": "ERROR"}],
        ctx,
        table_name="bronze.t",
    )
    assert summary.filter("NOT passed").count() == 1
    errs = ctx.get_unresolved_errors().collect()
    assert len(errs) == 1 and "not_null_id" in errs[0].error_message
    cat.drop_layers()


def test_asof_join_semantics(spark):
    """Most-recent-match semantics: inclusive <=, per-key isolation,
    unmatched-left → NULL payload, tolerance nulls stale matches."""
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators import joins

    left = spark.createDataFrame(
        [
            (1, "u1", DT(2024, 1, 1, 10, 0, 0)),   # matches r2 (exact tie)
            (2, "u1", DT(2024, 1, 1, 12, 0, 0)),   # matches r3
            (3, "u2", DT(2024, 1, 1, 9, 0, 0)),    # u2 has no right rows
            (4, "u1", DT(2024, 1, 1, 8, 0, 0)),    # before any right row
        ],
        "lid int, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", DT(2024, 1, 1, 9, 0, 0), 100.0),   # r1
            ("u1", DT(2024, 1, 1, 10, 0, 0), 200.0),  # r2
            ("u1", DT(2024, 1, 1, 11, 0, 0), 300.0),  # r3
        ],
        "user string, ts timestamp, price double",
    )
    out = {
        r.lid: (r.price_asof, r.ts_asof)
        for r in joins.asof_join(
            left, right, ["user"], left_ts="ts", right_ts="ts", right_values=["price"]
        ).collect()
    }
    assert out[1][0] == 200.0   # equal timestamps match (inclusive)
    assert out[2][0] == 300.0   # latest at-or-before wins
    assert out[3] == (None, None)  # key with no right rows
    assert out[4] == (None, None)  # left row before any right row

    # tolerance: lid=2 matched r3 one hour earlier — a 30-min horizon
    # nulls it; lid=1's exact-tie match (0s stale) survives
    tol = {
        r.lid: r.price_asof
        for r in joins.asof_join(
            left, right, ["user"], left_ts="ts", right_ts="ts",
            right_values=["price"], tolerance_seconds=1800,
        ).collect()
    }
    assert tol[1] == 200.0 and tol[2] is None


def test_asof_join_null_payload_is_not_backfilled(spark):
    """The matched right row travels as ONE struct: a NULL field in the
    most recent right row must come through as NULL, never backfilled
    from an older right row (which would fabricate a composite match)."""
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "u", DT(2024, 1, 1, 10, 30))], "lid int, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("u", DT(2024, 1, 1, 9, 0), 100.0, "a"),
            ("u", DT(2024, 1, 1, 10, 0), None, "b"),  # most recent: price NULL
        ],
        "user string, ts timestamp, price double, tag string",
    )
    row = joins.asof_join(
        left, right, ["user"], left_ts="ts", right_ts="ts",
        right_values=["price", "tag"],
    ).collect()[0]
    assert row.tag_asof == "b" and row.price_asof is None  # whole 10:00 row
    assert row.ts_asof == DT(2024, 1, 1, 10, 0)


def test_range_join_left_multiplicity_is_sql_exact(spark):
    """how='left' must behave like SQL LEFT JOIN: one row per match (no
    phantom NULL rows from other buckets), exactly one NULL row for a
    matchless interval — count(*) equals matches, not bucket blowup."""
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators import joins

    iv = spark.createDataFrame(
        [
            # spans 3 buckets (60s), one matching point
            (1, "u", DT(2024, 1, 1, 10, 0, 30), DT(2024, 1, 1, 10, 2, 30)),
            # same bucket as two out-of-range points, zero matches
            (2, "u", DT(2024, 1, 1, 12, 0, 0), DT(2024, 1, 1, 12, 0, 10)),
        ],
        "iid int, user string, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [
            ("u", DT(2024, 1, 1, 10, 1, 0), 1),
            ("u", DT(2024, 1, 1, 12, 0, 20), 2),  # in iv2's bucket, out of range
            ("u", DT(2024, 1, 1, 12, 0, 40), 3),  # in iv2's bucket, out of range
        ],
        "user string, p timestamp, pid int",
    )
    out = joins.range_join(
        iv, pts, ["user"], left_start="s", left_end="e", right_point="p",
        bucket_seconds=60, how="left",
    )
    rows = sorted((r.iid, r.pid) for r in out.collect())
    assert rows == [(1, 1), (2, None)]  # exact SQL LEFT JOIN multiplicity


def test_range_join_bucketization_exact(spark):
    """Bucketized point-in-interval join: inclusive bounds, cross-bucket
    intervals, per-key isolation, exactly one row per true pair, and the
    left variant keeps pointless intervals."""
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators import joins

    iv = spark.createDataFrame(
        [
            (1, "u1", DT(2024, 1, 1, 10, 0, 0), DT(2024, 1, 1, 10, 2, 0)),
            (2, "u1", DT(2024, 1, 1, 11, 59, 30), DT(2024, 1, 1, 12, 0, 30)),
            (3, "u2", DT(2024, 1, 1, 10, 0, 0), DT(2024, 1, 1, 10, 2, 0)),
        ],
        "iid int, user string, s timestamp, e timestamp",
    )
    pts = spark.createDataFrame(
        [
            ("u1", DT(2024, 1, 1, 10, 0, 0), 1),   # on iv1 start (inclusive)
            ("u1", DT(2024, 1, 1, 10, 2, 0), 2),   # on iv1 end (inclusive)
            ("u1", DT(2024, 1, 1, 10, 2, 1), 3),   # just past iv1
            ("u1", DT(2024, 1, 1, 12, 0, 0), 4),   # inside iv2, different bucket than s
            ("u2", DT(2024, 1, 1, 10, 1, 0), 5),   # iv3 (key isolation)
        ],
        "user string, p timestamp, pid int",
    )
    inner = joins.range_join(
        iv, pts, ["user"], left_start="s", left_end="e", right_point="p",
        bucket_seconds=60,
    )
    pairs = sorted((r.iid, r.pid) for r in inner.collect())
    assert pairs == [(1, 1), (1, 2), (2, 4), (3, 5)]
    assert len(pairs) == len(set(pairs))  # no bucket-induced duplicates

    left = joins.range_join(
        iv.filter("iid = 1"),
        pts.filter("pid = 3"),
        ["user"], left_start="s", left_end="e", right_point="p",
        bucket_seconds=60, how="left",
    )
    agg = left.groupBy("iid").agg(F.count("pid").alias("n")).collect()
    assert [(r.iid, r.n) for r in agg] == [(1, 0)]  # interval kept, zero matches


def test_declared_constraints_enforced_on_write(spark, tmp_path):
    """S7 constraint surface: declare PK/CHECK/FK once, then every checked
    write enforces them — a violating batch is refused (target untouched)
    with the failures recorded to logs.error_log; a clean batch lands."""
    import pytest

    from sql_data_warehouse_analytics_project_spark import constraints as C
    from sql_data_warehouse_analytics_project_spark.catalog import Catalog
    from sql_data_warehouse_analytics_project_spark.ops.context import RunContext

    cat = Catalog(spark, prefix="cons_")
    cat.drop_layers()
    cat.create_layers()
    try:
        ctx = RunContext(cat)
        regions = spark.createDataFrame([(1, "eu"), (2, "na")], "region_id int, name string")
        cat.append(regions, "silver", "regions")
        cat.declare_constraints(
            "silver",
            "accounts",
            [
                {"rule": "primary_key", "columns": ["account_id"]},
                {"rule": "range", "column": "balance", "min": 0, "max": 1e9},
                {
                    "rule": "foreign_key",
                    "columns": ["region_id"],
                    "ref_layer": "silver",
                    "ref_table": "regions",
                    "ref_columns": ["region_id"],
                },
            ],
        )
        assert len(cat.get_constraints("silver", "accounts")) == 3

        bad = spark.createDataFrame(
            # dup PK (10), negative balance, orphan FK (99); NULL FK is OK
            [(10, 5.0, 1), (10, -2.0, 99), (11, 1.0, None)],
            "account_id int, balance double, region_id int",
        )
        with pytest.raises(C.ConstraintViolationError) as exc:
            cat.checked_append(bad, "silver", "accounts", run_context=ctx)
        failed_names = {f["rule_name"] for f in exc.value.failures}
        assert failed_names == {"unique_account_id", "range_balance", "foreign_key_region_id"}
        assert not cat.table_exists("silver", "accounts")  # write refused
        errs = ctx.get_unresolved_errors().collect()
        assert len(errs) == 3 and all("CONSTRAINT_" in e.error_message for e in errs)

        good = spark.createDataFrame(
            [(10, 5.0, 1), (11, 1.0, None)],
            "account_id int, balance double, region_id int",
        )
        summary = cat.checked_append(good, "silver", "accounts", run_context=ctx)
        assert summary.filter("NOT passed").count() == 0
        assert cat.read("silver", "accounts").count() == 2
    finally:
        cat.drop_layers()


def test_validate_unique_rule_is_null_safe(spark):
    """UNIQUE semantics: NULL-keyed rows are not uniqueness violations
    (they fail not_null instead). Regression for the count(1) -
    count_distinct formulation, which charged every NULL row."""
    from sql_data_warehouse_analytics_project_spark.operators import validate as V

    df = spark.createDataFrame([(None,), (None,), (1,), (1,), (2,)], "k int")
    out = {r.rule_name: r for r in V.validate(
        df,
        [
            {"rule": "unique", "columns": ["k"]},
            {"rule": "not_null", "column": "k"},
        ],
    ).collect()}
    assert out["unique_k"].violation_count == 1  # only the duplicated k=1
    assert out["not_null_k"].violation_count == 2


def test_date_spine_and_forward_fill(spark):
    from datetime import date

    from sql_data_warehouse_analytics_project_spark.operators import windows as W

    df = spark.createDataFrame(
        [
            ("a", date(2024, 1, 1), 1.0),
            ("a", date(2024, 1, 4), 4.0),   # 2-day gap
            ("b", date(2024, 2, 1), 9.0),   # singleton range
        ],
        "k string, d date, v double",
    )
    spine = W.date_spine(df, ["k"], "d")
    assert spine.count() == 5  # a: 4 days, b: 1 day
    filled = W.forward_fill(
        spine.join(df, ["k", "d"], "left"), ["k"], "d", ["v"]
    )
    vals = {(r.k, str(r.d)): r.v_ffill for r in filled.collect()}
    assert vals[("a", "2024-01-02")] == 1.0  # gap carries last value
    assert vals[("a", "2024-01-03")] == 1.0
    assert vals[("a", "2024-01-04")] == 4.0
    assert vals[("b", "2024-02-01")] == 9.0


def test_asof_join_validate_unique(spark):
    """validate='unique' fails loudly on ambiguous right rows and is a
    pass-through (same result) when the contract holds."""
    from datetime import datetime as DT

    import pytest as _pytest

    from sql_data_warehouse_analytics_project_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "u1", DT(2024, 1, 1, 12, 0, 0))], "lid int, user string, ts timestamp"
    )
    ok_right = spark.createDataFrame(
        [("u1", DT(2024, 1, 1, 9, 0, 0), 100.0)],
        "user string, ts timestamp, price double",
    )
    dup_right = ok_right.unionByName(ok_right)  # same (user, ts) twice

    good = joins.asof_join(
        left, ok_right, ["user"], left_ts="ts", right_ts="ts",
        right_values=["price"], validate="unique",
    ).collect()
    assert good[0].price_asof == 100.0

    with _pytest.raises(Exception, match="duplicate rows per"):
        joins.asof_join(
            left, dup_right, ["user"], left_ts="ts", right_ts="ts",
            right_values=["price"], validate="unique",
        ).collect()

    with _pytest.raises(ValueError, match="validate"):
        joins.asof_join(
            left, ok_right, ["user"], left_ts="ts", right_ts="ts",
            right_values=["price"], validate="bogus",
        )


def test_funnel_analysis_order_and_horizon(spark):
    """Steps must happen in order (a purchase BEFORE the first click does
    not count) and within the optional horizon."""
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        funnel_analysis,
    )

    ev = spark.createDataFrame(
        [
            # u1: full ordered funnel
            (1, "view", DT(2024, 1, 1, 9)), (1, "click", DT(2024, 1, 1, 10)),
            (1, "purchase", DT(2024, 1, 1, 11)),
            # u2: purchase BEFORE first click -> converts only to click
            (2, "view", DT(2024, 1, 1, 9)), (2, "purchase", DT(2024, 1, 1, 9, 30)),
            (2, "click", DT(2024, 1, 1, 10)),
            # u3: view only
            (3, "view", DT(2024, 1, 1, 9)),
            # u4: clicks but never viewed -> not in funnel at all
            (4, "click", DT(2024, 1, 1, 9)),
        ],
        "user_id int, event_type string, ts timestamp",
    )
    out = {r.step: r.n_users for r in funnel_analysis(
        ev, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}

    # 30-minute horizon: u1's click is 60min after the view -> drops out
    tight = {r.step: r.n_users for r in funnel_analysis(
        ev, ["view", "click", "purchase"], within_seconds=1800).collect()}
    assert tight == {"view": 3, "click": 0, "purchase": 0}


def test_interpolate_linear_gaps_and_edges(spark):
    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [
            (1, 0, None), (1, 1, 10.0), (1, 2, None), (1, 3, None),
            (1, 4, 40.0), (1, 5, None),
            (2, 0, 7.0),  # isolated single point
        ],
        "k int, t int, v double",
    )
    out = {(r.k, r.t): r.v_interp for r in interpolate_linear(
        df, ["k"], "t", ["v"]).collect()}
    assert out[(1, 0)] == 10.0   # leading edge -> backfill nearest
    assert out[(1, 1)] == 10.0   # known stays exact
    assert out[(1, 2)] == 20.0   # 1/3 of the way 10 -> 40
    assert out[(1, 3)] == 30.0
    assert out[(1, 4)] == 40.0
    assert out[(1, 5)] == 40.0   # trailing edge -> ffill
    assert out[(2, 0)] == 7.0


def test_sessionize_gap_semantics(spark):
    from datetime import datetime as DT

    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        sessionize,
    )

    ev = spark.createDataFrame(
        [
            (1, DT(2024, 1, 1, 9, 0)), (1, DT(2024, 1, 1, 9, 20)),  # same session
            (1, DT(2024, 1, 1, 10, 0)),  # 40min gap -> new session
            (2, DT(2024, 1, 1, 9, 0)),   # other key independent
        ],
        "user_id int, ts timestamp",
    )
    out = {(r.user_id, r.ts.hour, r.ts.minute): r.session_id
           for r in sessionize(ev, ["user_id"], "ts", gap_seconds=1800).collect()}
    assert out[(1, 9, 0)] == 1 and out[(1, 9, 20)] == 1
    assert out[(1, 10, 0)] == 2
    assert out[(2, 9, 0)] == 1


def test_rolling_zscore_baseline_excludes_current(spark):
    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        rolling_zscore,
    )

    rows = [(1, i, 10.0) for i in range(10)] + [(1, 10, 1000.0)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    out = {r.t: r for r in rolling_zscore(
        df, ["k"], "t", "v", window_rows=10, threshold=3.0).collect()}
    # constant baseline -> var 0 -> no score for the steady rows
    assert all(out[t].v_zscore is None and not out[t].is_anomaly for t in range(10))
    # the spike is scored against the 10 steady points (which exclude it);
    # var would be 0 if the spike diluted its own baseline
    assert out[10].v_zscore is None or out[10].is_anomaly is False
    # make baseline non-constant so the spike actually scores
    rows2 = [(1, i, 10.0 + (i % 2)) for i in range(10)] + [(1, 10, 1000.0)]
    df2 = spark.createDataFrame(rows2, "k int, t int, v double")
    out2 = {r.t: r for r in rolling_zscore(
        df2, ["k"], "t", "v", window_rows=10, threshold=3.0).collect()}
    assert out2[10].is_anomaly and out2[10].v_zscore > 100


def test_fuzzy_join_blocks_and_threshold(spark):
    from sql_data_warehouse_analytics_project_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame(
        [(1, "b1", "kitten"), (2, "b1", "sitting"), (3, "b2", "kitten")],
        "id int, blk string, name string",
    )
    right = spark.createDataFrame(
        [(10, "b1", "kitten"), (11, "b1", "mitten"), (12, "b3", "kitten")],
        "id int, blk string, name string",
    )
    out = fuzzy_join(left, right, ["blk"], "name", "name", max_distance=1).collect()
    got = {(r.l_id, r.r_id): r.edit_distance for r in out}
    # kitten-kitten (0) and kitten-mitten (1) inside block b1;
    # sitting-kitten is distance 3 -> pruned; b2/b3 never meet (blocking)
    assert got == {(1, 10): 0, (1, 11): 1}


def test_histogram_clamps_and_conserves_rows(spark):
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        histogram,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (5.0,), (9.9,), (10.0,), (25.0,), (None,)], "v double"
    )
    out = {r.bin: r for r in histogram(df, "v", lo=0.0, hi=20.0, n_bins=4).collect()}
    # -5 clamps into bin 0; 25 clamps into bin 3; 5.0 and 10.0 open their bins
    assert out[0].n_rows == 2 and out[0].bin_lo == 0.0 and out[0].bin_hi == 5.0
    assert out[1].n_rows == 2
    assert out[2].n_rows == 1
    assert out[3].n_rows == 1
    assert sum(r.n_rows for r in out.values()) == 6  # nulls excluded, rest conserved


def test_grouped_corr_matches_known_values(spark):
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        grouped_corr,
    )

    rows = (
        [(1, float(i), float(2 * i + 3)) for i in range(5)]       # perfect +1
        + [(2, float(i), float(-i)) for i in range(5)]            # perfect -1
        + [(3, 1.0, 1.0), (3, 1.0, 2.0)]                          # zero x-variance
        + [(4, 1.0, 5.0)]                                         # n < 2
    )
    df = spark.createDataFrame(rows, "k int, x double, y double")
    got = {r.k: r.corr for r in grouped_corr(df, ["k"], "x", "y").collect()}
    assert abs(got[1] - 1.0) < 1e-12
    assert abs(got[2] + 1.0) < 1e-12
    assert got[3] is None and got[4] is None


def test_grouped_corr_pairwise_complete_like_corr(spark):
    """NULL in x or y drops the whole row from every moment INCLUDING the
    count — matching Spark's corr (pairwise-complete) instead of silently
    mixing inconsistent n and sums. Groups with no complete pair still
    appear, with a NULL coefficient."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        grouped_corr,
    )

    rows = [
        (1, 1.0, 2.0), (1, 2.0, 5.0), (1, 3.0, 4.0),
        (1, None, 99.0), (1, 42.0, None),          # must not perturb group 1
        (2, None, 1.0), (2, 2.0, None),            # no complete pair at all
    ]
    df = spark.createDataFrame(rows, "k int, x double, y double")
    got = {r.k: r.corr for r in grouped_corr(df, ["k"], "x", "y").collect()}
    want = {
        r.k: r.c
        for r in df.groupBy("k").agg(F.corr("x", "y").alias("c")).collect()
    }
    assert abs(got[1] - want[1]) < 1e-12
    assert 2 in got and got[2] is None and want[2] is None


def test_histogram_extreme_outlier_clamps_not_wraps(spark):
    """An outlier whose raw bin exceeds int32 must clamp into the edge bin
    (clamp happens on the long bin id BEFORE any narrowing cast), never
    wrap negative into bin 0 or an arbitrary middle bin."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        histogram,
    )

    df = spark.createDataFrame(
        [(5.0,), (1.0e16,), (-1.0e16,)], "v double"
    )
    out = {r.bin: r.n_rows for r in histogram(df, "v", lo=0.0, hi=10.0, n_bins=4).collect()}
    assert out == {0: 1, 2: 1, 3: 1}  # -1e16 -> bin 0, 5.0 -> bin 2, 1e16 -> bin 3


def test_fuzzy_join_rejects_ambiguous_columns(spark):
    import pytest

    from sql_data_warehouse_analytics_project_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "b1", "kitten")], "id int, blk string, name string")
    right = spark.createDataFrame([(2, "b1", "mitten")], "id int, blk string, name string")
    # match column that is itself a block key: edit distance would always be 0
    with pytest.raises(ValueError, match="must not be block keys"):
        fuzzy_join(left, right, ["blk"], "blk", "name")
    # block key "l_name" collides with the l_-prefixed "name" payload column
    l2 = left.withColumnRenamed("blk", "l_name")
    r2 = right.withColumnRenamed("blk", "l_name")
    with pytest.raises(ValueError, match="collide"):
        fuzzy_join(l2, r2, ["l_name"], "name", "name")


def test_keyset_paginate_chains_like_offset(people):
    # chaining pages by last key tuple == OFFSET pagination over the same
    # total order
    p1 = relational.keyset_paginate(people, ["id"], 2).collect()
    assert [r.id for r in p1] == [1, 2]
    p2 = relational.keyset_paginate(people, ["id"], 2, after=(p1[-1].id,)).collect()
    off2 = relational.paginate(people, [F.col("id")], 2, 2).collect()
    assert [r.id for r in p2] == [r.id for r in off2]
    # composite keys: resume mid-tie on the first key
    p = relational.keyset_paginate(
        people, ["dept", "id"], 10, after=("x", 1)
    ).collect()
    assert [r.id for r in p] and all(
        (r.dept, r.id) > ("x", 1) for r in p
    )
    with pytest.raises(ValueError):
        relational.keyset_paginate(people, [], 2)
    with pytest.raises(ValueError):
        relational.keyset_paginate(people, ["id"], 2, after=(1, 2))


def test_cumulative_distinct_hand_checked(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", i=1, v="x"),
            Row(k="a", i=2, v="y"),
            Row(k="a", i=3, v="x"),
            Row(k="a", i=4, v="z"),
            Row(k="b", i=1, v="x"),
        ]
    )
    out = {
        (r.k, r.i): r.n_distinct_cum
        for r in windows.cumulative_distinct(df, ["k"], ["i"], "v").collect()
    }
    assert out == {("a", 1): 1, ("a", 2): 2, ("a", 3): 2, ("a", 4): 3, ("b", 1): 1}


def test_interval_overlap_join_semantics(spark):
    iv = spark.createDataFrame(
        [
            Row(g=1, id=1, s=0, e=10),
            Row(g=1, id=2, s=5, e=15),    # overlaps 1
            Row(g=1, id=3, s=10, e=20),   # touches 1 (half-open: no), overlaps 2
            Row(g=1, id=4, s=100, e=200), # disjoint, spans many cells vs itself
            Row(g=2, id=5, s=0, e=10),    # other key: never pairs with g=1
        ]
    )
    out = joins.interval_overlap_join(
        iv, iv, ["g"], left_start="s", left_end="e",
        right_start="s", right_end="e", bucket=3,
    ).filter(F.col("l_id") < F.col("r_id"))
    pairs = sorted((r.l_id, r.r_id) for r in out.collect())
    # exactly once per overlapping pair, half-open endpoints excluded
    assert pairs == [(1, 2), (2, 3)]


def test_cumulative_distinct_ignores_nulls(spark):
    df = spark.createDataFrame(
        [Row(k="a", i=1, v=None), Row(k="a", i=2, v="x"), Row(k="a", i=3, v=None)],
        "k string, i int, v string",
    )
    out = {
        r.i: r.n_distinct_cum
        for r in windows.cumulative_distinct(df, ["k"], ["i"], "v").collect()
    }
    # SQL COUNT(DISTINCT) semantics: NULL never counts
    assert out == {1: 0, 2: 1, 3: 1}


def test_interval_overlap_join_skips_empty_intervals(spark):
    iv = spark.createDataFrame(
        [
            Row(g=1, id=1, s=0, e=100),
            Row(g=1, id=2, s=50, e=10),  # inverted: empty set, matches nothing
            Row(g=1, id=3, s=20, e=20),  # zero-length: empty under half-open
        ]
    )
    out = joins.interval_overlap_join(
        iv, iv, ["g"], left_start="s", left_end="e",
        right_start="s", right_end="e", bucket=7,
    ).filter(F.col("l_id") < F.col("r_id"))
    assert out.count() == 0


def test_interval_overlap_join_rejects_reserved_cell_key(spark):
    """A join key literally named ``_cell`` would silently collide with
    the internal cell column and corrupt the equi-join condition."""
    iv = spark.createDataFrame([(1, 1, 0, 10)], "_cell int, id int, s int, e int")
    with pytest.raises(ValueError, match="_cell"):
        joins.interval_overlap_join(
            iv, iv, ["_cell"], left_start="s", left_end="e",
            right_start="s", right_end="e", bucket=7,
        )


def test_reserved_internal_column_guards(spark):
    """Operators that inject helper columns must refuse inputs already
    using those names — silent overwrite-then-drop corrupts user data."""
    from sql_data_warehouse_analytics_project_spark.operators import (
        cleansing,
        relational,
    )

    ts = spark.createDataFrame([(1, 2, 3)], "k int, _ts int, v int")
    plain = spark.createDataFrame([(1, 2)], "k int, v int")
    with pytest.raises(ValueError, match="_ts"):
        joins.asof_join(
            ts, plain.withColumnRenamed("v", "ts"), ["k"],
            left_ts="_ts", right_ts="ts", right_values=[],
        )
    bkt = spark.createDataFrame([(1, 2)], "k int, _bucket int")
    with pytest.raises(ValueError, match="_bucket"):
        joins.range_join(
            bkt, bkt, ["k"], left_start="_bucket", left_end="_bucket",
            right_point="_bucket", bucket_seconds=60,
        )
    salted = spark.createDataFrame([(1, 2)], "k int, _salt int")
    with pytest.raises(ValueError, match="_salt"):
        joins.salted_join(salted, plain, ["k"])
    rn = spark.createDataFrame([(1, 2)], "k int, _rn int")
    with pytest.raises(ValueError, match="_rn"):
        relational.paginate(rn, ["k"], 1, 10)
    with pytest.raises(ValueError, match="_rn"):
        cleansing.dedup_keep_latest(rn, ["k"], "k")


def test_contiguous_rank_matches_global_row_number(spark):
    """Two-phase surrogate-key rank (round-6 verdict #1): bit-identical
    to ``row_number() OVER (ORDER BY ...)`` on a total order, including
    composite keys and NULL order values, with no single-partition sort."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    rows = [(i, rng.random(), f"s{i%7}") for i in range(1, 1501)]
    rng.shuffle(rows)
    rows[0] = (None, rows[0][1], rows[0][2])  # NULL order key rides too
    df = spark.createDataFrame(rows, "k int, v double, s string").repartition(13)

    by_rank = lambda rows: sorted((tuple(r) for r in rows), key=lambda t: t[-1])
    got = by_rank(windows.contiguous_rank(df, ["k"], "rk").collect())
    ref = by_rank(
        df.withColumn("rk", F.row_number().over(Window.orderBy("k"))).collect()
    )
    assert got == ref

    # composite order key
    got2 = by_rank(windows.contiguous_rank(df, ["s", "k"], "rk").collect())
    ref2 = by_rank(
        df.withColumn(
            "rk", F.row_number().over(Window.orderBy("s", "k"))
        ).collect()
    )
    assert got2 == ref2


def test_contiguous_rank_empty_and_guards(spark):
    empty = spark.createDataFrame([], "k int, v string")
    out = windows.contiguous_rank(empty, ["k"], "rk")
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<k:int,v:string,rk:int>"
    taken = spark.createDataFrame([(1, 2)], "k int, _cr_pid int")
    with pytest.raises(ValueError, match="_cr_pid"):
        windows.contiguous_rank(taken, ["k"], "rk")


def test_contiguous_rank_plan_no_single_partition(spark):
    """The scale contract: phase 1+2 plan range-partitions and ranks per
    partition — no Exchange SinglePartition, no unpartitioned Window."""
    df = spark.range(1000).withColumnRenamed("id", "k")
    p = (
        windows._contiguous_local_ranks(df, ["k"], None)
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    assert "SinglePartition" not in p, p
    assert "rangepartitioning" in p, p


def test_unpartitioned_window_policy_enforced(spark):
    """W2/W3/W4 refuse a no-partition call (single-task global sort)
    unless the caller explicitly opts in — the same policy window_spec
    itself enforces (round-6 verdict item 2)."""
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-05", 20.0)],
        "id int, d string, v double",
    ).withColumn("d", F.to_date("d"))
    with pytest.raises(ValueError, match="unpartitioned"):
        windows.running_totals(df, "v", "d")
    with pytest.raises(ValueError, match="unpartitioned"):
        windows.lag_lead(df, "v", "d")
    with pytest.raises(ValueError, match="unpartitioned"):
        windows.detect_gaps(df, "d")
    # explicit opt-in works and computes the same values as partitioned
    rt = windows.running_totals(df, "v", "d", allow_unpartitioned=True)
    assert [r["running_total"] for r in rt.orderBy("d").collect()] == [10.0, 30.0]
    ll = windows.lag_lead(df, "v", "d", allow_unpartitioned=True)
    assert [r["lag_1"] for r in ll.orderBy("d").collect()] == [None, 10.0]
    gaps = windows.detect_gaps(df, "d", allow_unpartitioned=True).collect()
    assert len(gaps) == 1 and gaps[0]["gap_length_days"] == 4
    # a reset frequency partitions by the extracted period — allowed
    assert windows.running_totals(df, "v", "d", reset_frequency="yearly").count() == 2


def test_global_running_sum_matches_global_window(spark):
    """Two-phase global_running_sum is bit-identical to the single-task
    SUM() OVER (ORDER BY ...) on a total order, across multiple range
    partitions, and its executed plan never routes through an Exchange
    SinglePartition (the window phase partitions by the range-partition
    id — parallel by construction)."""
    from pyspark.sql.window import Window as W

    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        global_running_sum,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 101, (i % 7) + 1) for i in range(500)],
        "id long, key int, v int",
    )
    out = global_running_sum(
        df, [F.col("key"), F.col("id")], "v", "running", num_partitions=8
    )
    got = {r.id: r.running for r in out.collect()}
    w = W.orderBy("key", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r.id: r.running
        for r in df.withColumn("running", F.sum("v").over(w)).collect()
    }
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().treeString()
    assert "SinglePartition" not in plan
    # reserved-name hygiene
    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_running_sum(df.withColumn("running", F.lit(1)),
                           ["id"], "v", "running")
