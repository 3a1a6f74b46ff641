"""SparkSession factory (maps reference ``core/config.py`` + connection mgmt).

The reference manages PostgreSQL engines/pools
(``utils/database_utils.py:95-157``); in Spark the session IS the resource
manager, so this module is the entire "connection" layer.

Scale notes:
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it (or rely on AQE coalescing) to ~2-3× total cores.
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy switching — required behavior at 100 TB.
- Session timezone is pinned to UTC so timestamp semantics are stable and
  DuckDB-oracle comparisons hash identically (SURVEY.md §7.2 risk 5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores the session uses by default: ``SPARK_GRAFT_CPUS`` when it is
    a positive integer, else the cores this process may run on (its CPU
    affinity mask). Unset or malformed values fall back rather than fail."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    return n if n > 0 else len(os.sched_getaffinity(0))


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
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
