"""Driver-side rows (``session.local_rows``): the one way the package turns
Python rows into a DataFrame. The rows travel as one Arrow table that the
JVM decodes, so no Python worker runs; they equal the rows the list path
(``spark.createDataFrame(<list>)``) builds, except that a naive timestamp
is a UTC instant on any host time zone instead of the process's local
time. Also the log flush's one-file-per-append rule, which no longer
needs a ``coalesce`` at the call site."""

from __future__ import annotations

import ast
import datetime as dt
import os
import time
from contextlib import contextmanager
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import types as T

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.medallion import gold, silver
from sql_data_warehouse_analytics_project_spark.ops import context, schemas
from sql_data_warehouse_analytics_project_spark.ops.context import RunContext
from sql_data_warehouse_analytics_project_spark.session import local_rows

PKG = Path(__file__).resolve().parents[1] / "sql_data_warehouse_analytics_project_spark"


@contextmanager
def _process_tz(name: str):
    """Run the block with the Python process's local time zone set to
    ``name``; the previous zone is restored afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


#: per type: the full row's value and the alternative row's (edge values)
_VALUES = {
    T.LongType: (2**53 + 1, -(2**62) - 3),
    T.StringType: ("x", "ü ✓"),
    T.BooleanType: (True, False),
    T.DateType: (dt.date(2024, 2, 29), dt.date(1, 1, 1)),
    T.TimestampType: (
        dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
        dt.datetime(1999, 12, 31, 23, 59, 59),
    ),
    T.DecimalType: (Decimal("12345678901.2345"), Decimal("-0.5")),
    T.BinaryType: (b"\x00\xff", bytearray(b"q")),
    T.ArrayType: (["a", None], []),
    T.MapType: ({"k": "v"}, {}),
}


def _rows(struct: T.StructType) -> list[dict]:
    """A full row, an alternative row, and a row with every nullable
    field null."""
    full, alt, nulls = {}, {}, {}
    for f in struct.fields:
        a, b = _VALUES[type(f.dataType)]
        full[f.name], alt[f.name] = a, b
        nulls[f.name] = None if f.nullable else a
    return [full, alt, nulls]


_EXTRA = (
    "id bigint, amount decimal(15,4), day date, tags array<string>,"
    " payload binary, at timestamp"
)
CONTRACT_SCHEMAS = {
    **schemas.LOGS_TABLES,
    "silver_ledger": silver.LEDGER_SCHEMA,
    "gold_pending": gold._PENDING_SCHEMA,
    "types": _EXTRA,
}


def _python_workers(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("name", sorted(CONTRACT_SCHEMAS))
def test_local_rows_match_the_list_path(spark, name):
    """Same rows and schema as ``createDataFrame(<list>)``, built with no
    Python worker, in one partition. The process zone is UTC here, the
    one zone where both paths read a naive timestamp the same way."""
    schema = CONTRACT_SCHEMAS[name]
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    rows = _rows(struct)
    with _process_tz("UTC"):
        for batch in (rows, [tuple(r[n] for n in struct.names) for r in rows]):
            old = spark.createDataFrame(batch, schema)
            new = local_rows(spark, batch, schema)
            assert new.schema == old.schema
            assert new.collect() == old.collect()
            assert new.rdd.getNumPartitions() == 1
            assert not _python_workers(new)
            assert _python_workers(old)  # the probe sees a worker when one runs
        empty = local_rows(spark, [], schema)
        assert empty.schema == struct
        assert empty.rdd.getNumPartitions() == 0
        assert empty.count() == 0


def test_local_rows_rejects_a_row_of_the_wrong_width(spark):
    with pytest.raises(ValueError, match="has 1 values; the schema has 2"):
        local_rows(spark, [("a",)], silver.LEDGER_SCHEMA)


def test_log_times_do_not_shift_with_host_time_zone(spark, monkeypatch):
    """``_now()`` is a naive UTC wall-clock time; under the engine's UTC
    session it must read back unchanged on a host in another zone (the
    list path stored 12:00 as 17:00 under America/New_York)."""
    cat = Catalog(spark, prefix="tzlog_")
    cat.create_layers()
    monkeypatch.setattr(context, "_now", lambda: dt.datetime(2024, 1, 2, 12, 0, 0))
    try:
        with _process_tz("America/New_York"):
            ctx = RunContext(cat, created_by="tztest")
            ctx.end_process(ctx.start_process("tz_probe"))
            got = {
                tuple(r)
                for r in ctx.table("process_log")
                .selectExpr("CAST(start_time AS STRING)", "CAST(end_time AS STRING)")
                .collect()
            }
        assert got == {
            ("2024-01-02 12:00:00", None),
            ("2024-01-02 12:00:00", "2024-01-02 12:00:00"),
        }
    finally:
        cat.drop_layers()


def test_one_log_flush_adds_one_parquet_file(spark):
    """A flush of more rows than the session has cores is one append of
    one file to the table's current generation."""
    cat = Catalog(spark, prefix="flushfiles_")
    cat.create_layers()
    try:
        ctx = RunContext(cat, created_by="filetest")
        q = cat.qualified("logs", "data_lineage")
        before = set(spark.table(q).inputFiles())
        n = 3 * spark.sparkContext.defaultParallelism
        for i in range(n):
            ctx.log_lineage(
                source_schema="s", source_table=f"t{i}",
                target_schema="s", target_table="u",
            )
        ctx.flush("data_lineage")
        after = set(spark.table(q).inputFiles())
        assert before <= after
        assert len(after - before) == 1
        assert spark.table(q).count() == n
    finally:
        cat.drop_layers()


# -- only local_rows builds driver rows -------------------------------------

HELPER = "session.py::local_rows"
#: no module builds a DataFrame from driver rows any other way
ALLOWED: set[str] = set()


def _create_dataframe_calls(path: Path) -> list[str]:
    """``<file>::<function>`` for every ``createDataFrame`` call in ``path``."""
    rel = path.relative_to(PKG).as_posix()
    hits: list[str] = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            hits.append(f"{rel}::{func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text(encoding="utf-8")), "<module>")
    return hits


def test_only_local_rows_calls_create_dataframe():
    hits = {h for path in sorted(PKG.rglob("*.py")) for h in _create_dataframe_calls(path)}
    assert HELPER in hits
    assert hits - {HELPER} == ALLOWED
