"""SparkSession factory (maps reference ``core/config.py`` + connection mgmt).

The reference manages PostgreSQL engines/pools
(``utils/database_utils.py:95-157``); in Spark the session IS the resource
manager, so this module is the entire "connection" layer.

Scale notes:
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it (or rely on AQE coalescing) to ~2-3× total cores.
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy switching — required behavior at 100 TB.
- The driver heap defaults to half the box's memory, capped at 48g
  (``SPARK_DRIVER_MEMORY`` overrides it).
- Session timezone is pinned to UTC so timestamp semantics are stable and
  DuckDB-oracle comparisons hash identically (SURVEY.md §7.2 risk 5).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any, TypeVar

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

T = TypeVar("T")


def default_cpus() -> int:
    """Cores the session uses by default: ``SPARK_GRAFT_CPUS`` when it is
    a positive integer, else the cores this process may run on (its CPU
    affinity mask). Unset or malformed values fall back rather than fail."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    return n if n > 0 else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half the box's
    physical memory, capped at 48g, so a small box does not promise a
    heap it cannot back."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return f"{min(half_mb, 48 * 1024)}m"


def fan_out(spark: SparkSession, units: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent units side by side and return their results in
    input order.

    A unit is one or more Spark statements that touch nothing another
    unit of the call touches (a table write, a log-table append). Running
    them on a thread pool overlaps each statement's fixed driver and
    scheduling cost instead of paying it once per unit. The pool is as
    wide as the session's ``defaultParallelism``, so it follows the
    cores the session was given. Every unit runs to its end, then the
    first failure in input order is raised: no unit is still writing
    when the caller sees the error. One unit runs inline, on the
    caller's thread.

    Each unit gets its own copy of the caller's Spark local properties
    (job group, SQL execution id): PySpark pins a Python thread to a JVM
    thread, and ``inheritable_thread_target`` clones the properties once
    per wrapper, so a wrapper shared by several threads would have them
    overwrite one another's job group."""
    if len(units) <= 1:
        return [u() for u in units]
    width = min(spark.sparkContext.defaultParallelism, len(units))
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(u)) for u in units]
    return [f.result() for f in futures]


def local_rows(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any] | Sequence[Any]],
    schema: StructType | str,
) -> DataFrame:
    """The one way to turn driver-side rows into a DataFrame.

    ``rows`` are dicts (read by field name, a missing key is null) or
    tuples (read by position); ``schema`` is a ``StructType`` or a DDL
    string. The rows become one ``pyarrow.Table`` that the JVM decodes,
    so no Python worker task runs. The DataFrame has one partition when
    there are rows (a driver-side append writes one file) and none when
    there are none; repartition it where a large input should spread.
    ``spark.createDataFrame(<list>)`` instead pickles the rows through a
    Python worker per partition (~0.2 s each) and slices even a handful
    of rows across ``defaultParallelism`` partitions.

    Naive ``datetime`` values in a ``timestamp`` column are UTC instants,
    whatever the process or session time zone (the list path reads them
    as the Python process's local time)."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = struct.fieldNames()
    columns: list[list[Any]] = [[] for _ in names]
    for row in rows:
        values = [row.get(n) for n in names] if isinstance(row, Mapping) else row
        if len(values) != len(names):
            raise ValueError(
                f"row {row!r} has {len(values)} values; the schema has "
                f"{len(names)} fields ({', '.join(names)})"
            )
        for column, value in zip(columns, values):
            column.append(value)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    df = spark.createDataFrame(table, struct)
    # Spark plans the table as a local relation scanned on up to
    # ``defaultParallelism`` partitions (none when empty); one is enough
    return df.coalesce(1) if table.num_rows else df


def get_spark(
    app_name: str = "sql_data_warehouse_analytics_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Tuned for local[N] testing but every setting is cluster-valid: AQE,
    Arrow, UTC, and a 64 MB broadcast threshold (vs the 10 MB default) so
    genuinely small dims (region/nation/part at test SF) broadcast
    automatically while anything fact-sized still shuffles.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
    )
    if os.environ.get("SPARK_GRAFT_PERSISTENT_CATALOG", "0") == "1":
        # Opt-in persistent metastore (Hive catalog over an embedded Derby
        # db in ./metastore_db): table metadata survives the process, so
        # multi-invocation CLI workflows (--bronze today,
        # --silver-incremental/--gold-incremental tomorrow) see yesterday's
        # tables. Off by default — tests/bench/gate run one disposable
        # session and the in-memory catalog avoids Derby's single-writer
        # lock. On a cluster this maps to the real shared metastore.
        builder = builder.enableHiveSupport()
    builder = (
        builder
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries; a workload
        # running ~100 distinct queries (this engine's registry, or any
        # real multi-query batch) evicts the whole cache between repeats,
        # so every re-run pays the ~1s janino compile again — measured as
        # phantom per-query "regressions" once the registry passed 100
        # codegen stages. Static conf: must be set before the first query.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
