"""Crash enumeration over the catalog's writes, with no recovery call.

For each write operation the uninterrupted run is counted first: every
``spark.sql`` statement and every ``saveAsTable``/``insertInto`` it
makes. Then, for every k, the operation is rerun on a fresh table with a
crash raised in place of its k-th call, and the test asserts that

- the view reads exactly the state before or after the operation (or no
  table, where the operation is a first write or a drop);
- rerunning the operation converges to the uninterrupted run's state;
- ``vacuum_generations`` then leaves only the published generation and
  the retention tail before it.

The guard at the end pins what makes a single table format enough: no
module but ``catalog.py`` writes a metastore table.
"""

from __future__ import annotations

import ast
import re
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from sql_data_warehouse_analytics_project_spark.catalog import GEN_RE, Catalog

LAYER = "silver"
SCHEMA = "k int, p string"
A = [(1, "a"), (2, "b")]


class Crash(Exception):
    pass


@contextmanager
def _interrupt(spark, at: int):
    """Count the metastore statements and table writes made inside the
    block (the yielded list), raising :class:`Crash` in place of the
    ``at``-th one; ``at=0`` never crashes."""
    calls: list[str] = []

    def hook(fn, label):
        def wrapped(*a, **kw):
            calls.append(f"{label} {a[1] if label != 'sql' else a[0]}")
            if len(calls) == at:
                raise Crash(calls[-1])
            return fn(*a, **kw)

        return wrapped

    with pytest.MonkeyPatch.context() as m:
        m.setattr(spark, "sql", hook(spark.sql, "sql"))
        for name in ("saveAsTable", "insertInto"):
            m.setattr(DataFrameWriter, name, hook(getattr(DataFrameWriter, name), name))
        yield calls


def _df(cat, rows):
    return cat.spark.createDataFrame(rows, SCHEMA)


def _state(cat, t):
    """What a reader sees through the view: None when there is no table,
    else (columns, rows in a canonical order)."""
    if not cat.table_exists(LAYER, t):
        return None
    df = cat.spark.table(cat.qualified(LAYER, t))
    return tuple(df.columns), sorted((tuple(r) for r in df.collect()), key=repr)


def _generations(cat, t):
    return sorted(
        x.name for x in cat.spark.catalog.listTables(cat.db(LAYER))
        if not x.isTemporary and (m := GEN_RE.match(x.name)) and m["base"] == t
    )


def _overwritten_twice(cat, t):
    # two generations, so the measured overwrite also drops one
    cat.overwrite(_df(cat, [(0, "z")]), LAYER, t, partition_by=["p"])
    cat.overwrite(_df(cat, A), LAYER, t, partition_by=["p"])


#: name -> (set-up of the state before, the operation, may the view be
#: absent after a crash)
CASES = {
    "create_table": (
        lambda cat, t: None,
        lambda cat, t: cat.create_table(
            LAYER, t, _df(cat, []).schema, medallion_metadata=False,
            partition_by=["p"], comment="crash test",
        ),
        True,
    ),
    "append_first_write": (
        lambda cat, t: None,
        lambda cat, t: cat.append(_df(cat, A), LAYER, t),
        True,
    ),
    "append_partitioned": (
        lambda cat, t: cat.overwrite(_df(cat, A), LAYER, t, partition_by=["p"]),
        lambda cat, t: cat.append(_df(cat, [(3, "a"), (4, "c")]), LAYER, t),
        False,
    ),
    "overwrite": (
        _overwritten_twice,
        lambda cat, t: cat.overwrite(
            _df(cat, [(5, "a"), (6, "d")]), LAYER, t, partition_by=["p"]
        ),
        False,
    ),
    "overwrite_partitions": (
        lambda cat, t: cat.overwrite(_df(cat, A), LAYER, t, partition_by=["p"]),
        lambda cat, t: cat.overwrite_partitions(_df(cat, [(9, "a")]), LAYER, t),
        False,
    ),
    "add_column": (
        lambda cat, t: cat.overwrite(_df(cat, A), LAYER, t),
        lambda cat, t: cat.add_column(LAYER, t, "extra", "string"),
        False,
    ),
    "drop_table": (
        _overwritten_twice,
        lambda cat, t: cat.drop_table(LAYER, t),
        True,
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_crash_at_every_catalog_call_converges(spark, case):
    setup, op, may_vanish = CASES[case]
    cat = Catalog(spark, prefix=f"crash_{case}_")
    cat.drop_layers()
    cat.create_layers()
    try:
        setup(cat, "clean")
        before = _state(cat, "clean")
        with _interrupt(spark, 0) as calls:
            op(cat, "clean")
        after = _state(cat, "clean")
        assert after != before
        assert calls, "the operation made no catalog call"

        allowed = [before, after] + ([None] if may_vanish else [])
        for k in range(1, len(calls) + 1):
            t = f"t{k}"
            setup(cat, t)
            with pytest.raises(Crash), _interrupt(spark, k):
                op(cat, t)
            assert _state(cat, t) in allowed, (k, calls[k - 1])
            op(cat, t)
            assert _state(cat, t) == after, (k, calls[k - 1])

            cat.vacuum_generations(LAYER)
            assert _state(cat, t) == after, (k, calls[k - 1])
            gens = _generations(cat, t)
            if after is None:
                assert gens == [], (k, calls[k - 1], gens)
            else:
                published = cat.resolve_table(LAYER, t).split(".")[-1]
                older = [g for g in gens if g < published]
                tail = older[len(older) - cat.generation_retention:]
                assert set(gens) <= {published, *tail}, (k, calls[k - 1], gens)
    finally:
        cat.drop_layers()


def test_overwrite_retains_the_generation_it_replaced(spark):
    """An overwrite keeps the generation that was published until its own
    publish (readers resolved to it finish their scans), not the newest
    generation name: a generation an earlier overwrite left unpublished
    is dropped instead."""
    cat = Catalog(spark, prefix="crash_retain_")
    cat.drop_layers()
    cat.create_layers()
    try:
        cat.overwrite(_df(cat, [(1, "a")]), LAYER, "t")
        cat.overwrite(_df(cat, [(2, "b")]), LAYER, "t")
        # an overwrite that crashed before its publish
        _df(cat, [(3, "c")]).write.format("parquet").saveAsTable(
            f"{cat.db(LAYER)}.t__g000003"
        )
        cat.overwrite(_df(cat, [(4, "d")]), LAYER, "t")
        assert _generations(cat, "t") == ["t__g000002", "t__g000004"]
        assert _state(cat, "t") == (("k", "p"), [(4, "d")])
    finally:
        cat.drop_layers()


# -- only catalog.py writes metastore tables ---------------------------------

PKG = Path(__file__).resolve().parents[1] / "sql_data_warehouse_analytics_project_spark"
WRITE_CALLS = {"saveAsTable", "insertInto", "writeTo", "toTable"}
WRITE_SQL = re.compile(
    r"\b(CREATE\s+(OR\s+REPLACE\s+)?TABLE|INSERT\s+(INTO|OVERWRITE)|ALTER\s+TABLE)\b",
    re.IGNORECASE,
)
#: ``write_bucketed`` saves a bucketed table under a name its caller
#: chooses, for bucketed-join plans; it never writes a layer table
ALLOWED = {"operators/joins.py::write_bucketed"}


def _table_writes(path: Path) -> list[str]:
    """``<file>::<function>`` for every table-writing call or SQL literal
    in ``path`` (docstrings are prose, not SQL)."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    hits: list[str] = []
    rel = path.relative_to(PKG).as_posix()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        writes = (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in WRITE_CALLS
        ) or (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and WRITE_SQL.search(node.value)
        )
        if writes:
            hits.append(f"{rel}::{func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_only_catalog_writes_metastore_tables():
    hits = {
        h
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "catalog.py" or path.parent != PKG
        for h in _table_writes(path)
    }
    assert hits == ALLOWED
