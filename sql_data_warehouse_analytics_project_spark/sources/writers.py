"""Layout-aware dataset sinks (extends reference S3/S4 bulk-load intent,
``sql/dml.py:169-246``, to distributed columnar output).

At 100 TB the WRITE layout decides every later read: partition directories
give partition pruning, in-file sort gives min/max row-group skipping and
better encodings, and a records-per-file cap keeps any single file
re-processable. These writers only arrange the plan — Spark executors
write in parallel; nothing funnels through the driver.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.sources import manifest

#: optional auto-capture hook for PATH-based writes — the twin of
#: ``Catalog.observer`` for datasets that live outside the metastore
#: (curation ``write_through`` stages, streaming dedup/BM25 index sinks).
#: Set by ``RunContext.enable_auto_capture()`` via :func:`set_path_observer`;
#: one active observer per process (last enable wins — same contract as
#: ``Catalog.observer``, which is per-catalog only because catalogs are).
_path_observer = None


def set_path_observer(observer):
    """Install (or clear, with ``None``) the process-wide path-write
    observer. Returns the previous observer so callers can restore it.
    The observer contract is ``begin_path_write(df, path, mode=...) ->
    (instrumented_df, finish_callable | None)`` — see
    ``RunContext.begin_path_write``."""
    global _path_observer
    prev = _path_observer
    _path_observer = observer
    return prev


def _observe_path_write(df: DataFrame, path: str, mode: str):
    """Route a dataset write through the active observer (no-op without
    one). Observation failures must never break a write — the same
    best-effort contract as catalog auto-capture."""
    if _path_observer is None:
        return df, None
    try:
        return _path_observer.begin_path_write(df, path, mode=mode)
    except Exception:  # noqa: BLE001 — capture never breaks a write
        return df, None


def split_partition_suffix(path: str) -> "tuple[str, str]":
    """Split a slice path into (dataset root, ``k=v/...`` partition
    suffix): the root is everything before the first path component
    containing ``=``. Lets slice writers resolve the DATASET through its
    generation manifest and re-apply the partition segments inside the
    current generation."""
    parts = path.rstrip("/").split("/")
    for i, comp in enumerate(parts):
        if "=" in comp:
            return "/".join(parts[:i]), "/".join(parts[i:])
    return path.rstrip("/"), ""


def _write_layout(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] | None = None,
    sort_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """The layout half of every dataset write: overwrite ``path`` — a
    directory INSIDE a generation (``manifest.new_generation``), never a
    dataset root — with ``df`` laid out for later reads.

    - ``partition_by``: hash-repartition on the partition columns first so
      each partition value is written by one task — without this, every
      task holding any row of a value opens a file there and a 1000-task
      write emits 1000 small files PER partition directory.
    - ``sort_by``: ``sortWithinPartitions`` so parquet row-group min/max
      stats are tight → scans with predicates on the sort key skip whole
      row groups.
    - ``max_records_per_file``: bounds file size so a single file never
      becomes an un-splittable straggler.

    When a path observer is active (``RunContext.enable_auto_capture``),
    the write emits auto-captured ``data_lineage`` edges to
    ``(external, <dataset>)`` and write metrics — the same zero-caller
    contract catalog writes have."""
    out, finish = _observe_path_write(df, path, "overwrite")
    if partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)
    if finish is not None:
        finish()


def write_partitioned_slice(df: DataFrame, path: str) -> None:
    """Overwrite ONE partition directory of a larger dataset (the
    streaming sinks' per-(checkpoint, batch) layout contract — replays
    rewrite their own slice byte-for-byte instead of double-appending).
    ``path`` is ``<dataset root>/k=v/...``; the slice lands in the
    CURRENT generation (the quiesce contract in ``sources/manifest``),
    and a dataset's first slice publishes its first generation. Observed
    like any dataset write; the recorded
    dataset name strips the ``k=v`` partition segments, so every slice of
    one sink dataset aggregates under one lineage node (``postings``, not
    ``batch_id=7``)."""
    root, suffix = split_partition_suffix(path)
    if not suffix:
        raise ValueError(f"{path} names no k=v partition slice")
    m = manifest.read_manifest(root)
    if m is None:
        gid, gdir = manifest.new_generation(root)
    else:
        gid, gdir = None, manifest.generation_dir(root, m["current"])
    _write_layout(df, f"{gdir}/{suffix}")
    if gid is not None:
        manifest.publish(root, gid)


def write_dataset(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] | None = None,
    sort_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as the whole dataset rooted at ``path``, laid out by
    :func:`_write_layout`: the rows land in a NEW generation, then one
    atomic manifest replace publishes it (``sources/manifest``), so
    readers never see a partial dataset and a crash leaves the previous
    state live. Read it back with :func:`read_dataset`."""
    gid, gdir = manifest.new_generation(path)
    _write_layout(
        df, gdir, partition_by=partition_by, sort_by=sort_by,
        max_records_per_file=max_records_per_file,
    )
    manifest.publish(path, gid)


def read_dataset(spark, path: str) -> DataFrame:
    """Read a path dataset THROUGH its generation manifest
    (``sources/manifest.resolve``) — the reader half of the atomic-
    publish protocol. Partition-directory discovery, pushdown, and
    pruning behave exactly as a direct read of the current generation."""
    return spark.read.parquet(manifest.resolve(path))


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    compression: str | None = None,
    num_files: int | None = None,
) -> None:
    """JSON-Lines sink (corpus interchange). ``num_files`` coalesces small
    exports; leave unset for large data so every executor writes.
    Observed like :func:`write_dataset`. An interchange export for
    readers outside the engine, so it stays a plain directory, not a
    manifest-managed dataset."""
    out, finish = _observe_path_write(df, path, mode)
    if num_files:
        out = out.coalesce(num_files)
    writer = out.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.json(path)
    if finish is not None:
        finish()


def zorder_key(cols: Sequence[str], *, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of already-bucketed non-negative ints.

    Sorting a dataset by this key before writing clusters EVERY listed
    dimension at once, so parquet row-group min/max stats stay tight on
    all of them — the multi-column generalization of ``write_dataset``'s
    single ``sort_by`` (the trick behind Delta/Iceberg Z-ORDER, built here
    from plain bit arithmetic, fully codegen'd).

    Callers bucket each column into ``[0, 2**bits)`` first (e.g. modulo,
    or quantile bucket via ``ntile``); values outside the range are
    masked. ``bits * len(cols)`` must fit a signed int64 (≤ 62).
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} cols overflows int64")
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        v = F.col(c).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return key


def zorder_key_sql(cols: Sequence[str], *, bits: int = 16) -> str:
    """ANSI-SQL twin of :func:`zorder_key` (arithmetic only — runs on any
    engine, used by the oracle check): bit b of col i via
    ``(x // 2^b) % 2`` scaled by ``2^(b*n+i)``."""
    n = len(cols)
    mask = (1 << bits) - 1
    terms = [
        f"(((({c}) % {mask + 1}) // {1 << b}) % 2) * {1 << (b * n + i)}"
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def dataset_file_stats(path: str) -> dict:
    """File-layout health probe for a parquet dataset: file count, total
    bytes, mean file size, and the small-file ratio (files under 8 MiB).
    The number that decides whether :func:`compact_dataset` is worth a
    rewrite — a 100 TB table of 4 KiB files spends its scan time on open
    overhead and its driver memory on file listings, not on data.

    A plain filesystem walk, O(files) with no executors: cheap enough to
    run before every maintenance window. Stats the CURRENT generation
    (``sources/manifest``)."""
    n_files = total = small = 0
    for dirpath, _dirs, files in os.walk(manifest.resolve(path)):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            size = os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
            total += size
            if size < 8 * 1024 * 1024:
                small += 1
    return {
        "n_files": n_files,
        "total_bytes": total,
        "mean_bytes": total // n_files if n_files else 0,
        "small_file_ratio": round(small / n_files, 4) if n_files else 0.0,
    }


def _partition_columns(gdir: str) -> "list[str]":
    """The partition columns of a written dataset, outermost first, read
    off its first chain of ``k=v`` directories (empty for a flat one)."""
    cols, d = [], gdir
    while subs := sorted(
        n for n in os.listdir(d) if "=" in n and os.path.isdir(f"{d}/{n}")
    ):
        cols.append(subs[0].split("=", 1)[0])
        d = f"{d}/{subs[0]}"
    return cols


def compact_dataset(
    spark,
    path: str,
    *,
    target_bytes_per_file: int = 128 * 1024 * 1024,
    sort_by: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction: rewrite a parquet dataset into fewer,
    larger files — ceil(total/target) for a flat dataset, one per
    partition directory otherwise — in the partition layout its current
    generation already has (its ``k=v`` directories), with an optional
    in-file sort. The 100 TB hygiene op a streaming sink needs
    periodically — micro-batches emit files per trigger, and a month of
    30-second triggers is 86k tiny files per partition. A sink's
    ``cp=<id>/batch_id=N`` slices keep their directories, so a later
    slice lands beside them and a replay overwrites its own.

    The rewrite is :func:`write_dataset` on the root, so concurrent
    readers see the old or the new generation, never a mixture; on a
    dataset that takes slices it runs under the quiesce contract of
    ``sources/manifest``. Returns before/after file stats. On Delta this
    is OPTIMIZE; here it is the parquet-native equivalent."""
    import math

    before = dataset_file_stats(path)
    gdir = manifest.resolve(path)
    df = spark.read.parquet(gdir)
    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes_per_file))
    cols = _partition_columns(gdir)
    write_dataset(
        df if cols else df.repartition(n_out), path,
        partition_by=cols, sort_by=sort_by,
    )
    return {
        "before": before,
        "after": dataset_file_stats(path),
        "target_files": n_out,
        "generation": manifest.read_manifest(path)["current"],
    }
