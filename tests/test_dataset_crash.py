"""Crash enumeration over the path-dataset writes, with no recovery call.

The steps of a write are ``manifest.new_generation``, every Spark
``save``/``parquet`` and the ``os.replace`` in ``manifest.publish``. For
each operation the uninterrupted run is counted first. Then, for every
k, the operation is rerun on a fresh dataset with a crash raised in
place of its k-th step, and the test asserts that

- a write that is not a slice reads exactly the state before or after
  it (or no dataset, for a first write). A Spark overwrite of one slice
  directory deletes before it writes, so for a slice write the other
  slices are untouched instead: the sinks' replay contract;
- rerunning the operation converges to the uninterrupted run's rows;
- after the rerun's publish, only what the new and the previous manifest
  reference remains under ``_generations/``.

The guard at the end pins what makes one dataset format enough: no
module but ``sources/writers.py`` writes a path dataset.
"""

from __future__ import annotations

import ast
import os
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.utils import AnalysisException

from sql_data_warehouse_analytics_project_spark.sources import manifest
from sql_data_warehouse_analytics_project_spark.sources.writers import (
    compact_dataset,
    read_dataset,
    write_dataset,
    write_partitioned_slice,
)
from sql_data_warehouse_analytics_project_spark.streaming.ingest import (
    bm25_index_sink,
    load_bm25_index_from_sink,
    retire_compact_bm25_sink,
)


class Crash(Exception):
    pass


@contextmanager
def _interrupt(at: int):
    """Count the file-system steps made inside the block (the yielded
    list), raising :class:`Crash` in place of the ``at``-th one; ``at=0``
    never crashes."""
    steps: list[str] = []

    def hook(fn, label):
        def wrapped(*a, **kw):
            steps.append(label)
            if len(steps) == at:
                raise Crash(label)
            return fn(*a, **kw)

        return wrapped

    with pytest.MonkeyPatch.context() as m:
        m.setattr(manifest, "new_generation", hook(manifest.new_generation, "new_generation"))
        m.setattr(os, "replace", hook(os.replace, "os.replace"))
        for name in ("save", "parquet"):
            m.setattr(DataFrameWriter, name, hook(getattr(DataFrameWriter, name), name))
        yield steps


def _rows(spark, root):
    """What a reader sees: None when there is no dataset, else the rows
    in a canonical order."""
    try:
        df = read_dataset(spark, root)
    except AnalysisException:
        return None
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _slice(spark, root, b, rows):
    write_partitioned_slice(
        spark.createDataFrame([(b * 10 + i,) for i in range(rows)], "v long"),
        f"{root}/cp=default/batch_id={b}",
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


B0 = [(1, "spark shuffles data"), (2, "cats purr softly"), (3, "zebras graze")]
B1 = [(2, "dogs bark loudly"), (3, ""), (4, "executors spill data")]


def _bm25_batches(spark, root):
    sink = bm25_index_sink(root, cdc=True)
    sink(_docs(spark, B0), 0)
    sink(_docs(spark, B1), 1)


def _folded(spark, root):
    """What a reader of a CDC sink sees: the folded live index."""
    idx = load_bm25_index_from_sink(spark, root)
    return (
        sorted(tuple(r) for r in idx["postings"].collect()),
        idx["n_docs"],
        idx["total_dl"],
    )


#: name -> (set-up, operation, the dataset roots it publishes, the batch
#: a slice write writes (None for other writes), may the dataset be
#: absent after a crash)
CASES = {
    "write_dataset_first": (
        lambda s, r: None,
        lambda s, r: write_dataset(s.range(5), r),
        [""], None, True,
    ),
    "write_dataset_overwrite": (
        lambda s, r: [write_dataset(s.range(n), r) for n in (2, 3)],
        lambda s, r: write_dataset(
            s.range(4).withColumn("k", F.col("id") % 2), r, partition_by=["k"]
        ),
        [""], None, False,
    ),
    "slice_first": (
        lambda s, r: None,
        lambda s, r: _slice(s, r, 0, 3),
        [""], 0, True,
    ),
    "slice_new": (
        lambda s, r: _slice(s, r, 0, 3),
        lambda s, r: _slice(s, r, 1, 3),
        [""], 1, False,
    ),
    "slice_replay": (
        lambda s, r: [_slice(s, r, b, 3) for b in (0, 1)],
        lambda s, r: _slice(s, r, 1, 2),
        [""], 1, False,
    ),
    "compact_dataset": (
        lambda s, r: [_slice(s, r, b, 3) for b in (0, 1)],
        lambda s, r: compact_dataset(s, r),
        [""], None, False,
    ),
    "retire_compact_bm25_sink": (
        _bm25_batches,
        lambda s, r: retire_compact_bm25_sink(s, r),
        ["/postings", "/retired"], None, False,
    ),
}


def _state(spark, case, root):
    if case == "retire_compact_bm25_sink":
        return _folded(spark, root)
    return _rows(spark, root)


def _layout(spark, case, root):
    """Every row of every dataset the operation writes."""
    return [_rows(spark, root + sub) for sub in CASES[case][2]]


@pytest.mark.parametrize("case", list(CASES))
def test_crash_at_every_dataset_step_converges(spark, tmp_path, case):
    setup, op, subs, batch, may_vanish = CASES[case]
    clean = str(tmp_path / "clean")
    setup(spark, clean)
    before = _state(spark, case, clean)
    with _interrupt(0) as steps:
        op(spark, clean)
    after = _state(spark, case, clean)
    layout = _layout(spark, case, clean)
    assert steps, "the operation made no file-system step"

    for k in range(1, len(steps) + 1):
        root = str(tmp_path / f"k{k}")
        setup(spark, root)
        with pytest.raises(Crash), _interrupt(k):
            op(spark, root)
        seen = _state(spark, case, root)
        if batch is None:
            allowed = [before, after] + ([None] if may_vanish else [])
            assert seen in allowed, (k, steps[k - 1])
        else:  # a slice write: every other slice is untouched
            def others(rows):
                return [r for r in rows or [] if r[0] != batch]  # (batch_id, cp, v)

            assert others(seen) == others(before), (k, steps[k - 1])

        prev = [manifest.read_manifest(root + sub) for sub in subs]
        op(spark, root)
        assert _state(spark, case, root) == after, (k, steps[k - 1])
        assert _layout(spark, case, root) == layout, (k, steps[k - 1])
        for sub, p in zip(subs, prev):
            m = manifest.read_manifest(root + sub)
            if m != p:  # the rerun published
                keep = {*m["referenced"], *(p["referenced"] if p else [])}
                gens = set(os.listdir(f"{root}{sub}/{manifest.GENERATIONS_DIR}"))
                assert gens <= keep, (k, steps[k - 1], sub, gens)


# -- only sources/writers.py writes path datasets ----------------------------

PKG = Path(__file__).resolve().parents[1] / "sql_data_warehouse_analytics_project_spark"
WRITER_CALLS = {"parquet", "save", "json"}
#: functions that allocate one generation and write several sub-datasets
#: into it (``writers._write_layout`` each), then publish it with the
#: artifact's metadata in the manifest
ALLOWED = {
    # postings + term_stats, with the scalars and the bucket map
    "llm/retrieval.py::write_bm25_index",
    # the affected buckets + term_stats; the map keeps older buckets
    "llm/retrieval.py::update_bm25_index_on_disk",
    # term_stats refolded; the map keeps every bucket's generation
    "llm/retrieval.py::refold_bm25_meta",
    # assignments, with the models and the cell map
    "llm/similarity.py::write_ivfpq_index",
    # the affected cells + tombstones; the map keeps older cells
    "llm/similarity.py::update_ivfpq_index",
    # merges + word_pieces or pieces, with the model scalars
    "llm/vocab.py::write_tokenizer",
    # the truncated CDC ledger: one 0-row marker slice in a new generation
    "streaming/ingest.py::retire_compact_bm25_sink",
}


def _chained_from_write(node) -> bool:
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _dataset_writes(path: Path) -> list[str]:
    """``<file>::<function>`` for every DataFrameWriter
    ``.parquet``/``.save``/``.json`` chained from ``.write``, and every
    ``manifest.publish`` call, in ``path``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    hits: list[str] = []
    rel = path.relative_to(PKG).as_posix()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr, owner = node.func.attr, node.func.value
            if (attr in WRITER_CALLS and _chained_from_write(owner)) or (
                attr == "publish"
                and isinstance(owner, ast.Name)
                and owner.id.endswith("manifest")
            ):
                hits.append(f"{rel}::{func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return hits


def test_only_writers_write_path_datasets():
    hits = {
        h
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix()
        not in ("sources/writers.py", "sources/manifest.py")
        for h in _dataset_writes(path)
    }
    assert hits == ALLOWED
