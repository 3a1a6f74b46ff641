"""RunContext — the engine's operational-metadata writer (maps reference
``logs/audit_logger.py`` L1-L3, ``logs/error_handler.py`` L4,
``logs/data_lineage.py`` L7, ``logs/performance_monitor.py`` L11).

Reproduces the reference's job lifecycle contract
(``bronze.py:441-560``): start_process → work → log_lineage →
record_metric → end_process(SUCCESS) / on exception log_exception +
end_process(FAILED).

Implementation notes:
- Log rows are BUFFERED in driver memory and appended per table in
  batches: one parquet file per (table, flush) instead of one file per
  event. A per-event append is fine at one-job granularity, but at 100×
  job counts the logs tables become a small-file swamp that every
  history/analysis read then pays for. Flush points: ``end_process``
  (the reference's job boundary), any read through :meth:`table`
  (read-your-writes), ``error_log`` events (immediately — error
  durability must not wait for a flush that a crashing job may never
  reach), and :meth:`flush`/:meth:`close` for callers logging outside a
  process lifecycle. Trade-off: a hard-killed driver loses buffered
  RUNNING rows — call ``flush()`` after ``start_process`` if a
  monitoring system needs in-flight visibility.
- A flush builds its rows through Arrow (:func:`session.local_rows`), so
  it starts no Python worker, and a naive ``_now()`` time is stored as
  the UTC instant it names whatever the host's time zone.
- ``end_process`` carries the start row in memory (no read-back query);
  ids not started by this context fall back to reading the table —
  append-only cross-process semantics unchanged.
- IDs: the reference uses BIGSERIAL; a distributed engine has no cheap
  global sequence, so ids are microsecond-timestamp longs with a
  process-local counter tiebreak — monotonic per driver, collision-safe
  in practice, and never load-bearing (joins use them, ordering uses
  timestamps).
"""

from __future__ import annotations

import itertools
import threading
from collections import defaultdict
import time
import traceback
from contextlib import ExitStack, contextmanager
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.catalog import Catalog, observe_rows
from sql_data_warehouse_analytics_project_spark.ops import schemas
from sql_data_warehouse_analytics_project_spark.session import fan_out, local_rows

_counter = itertools.count()


def _new_id() -> int:
    return int(time.time() * 1_000_000) * 1000 + (next(_counter) % 1000)


class RunContext:
    """Writes/queries the five ``logs`` tables for a warehouse catalog."""

    def __init__(self, catalog: Catalog, created_by: str = "engine"):
        self.catalog = catalog
        self.spark = catalog.spark
        self.created_by = created_by
        # fanned-out stage units (session.fan_out) log from worker
        # threads; appends to ONE parquet table share a commit-protocol
        # staging dir, so same-table writes must not interleave — but
        # different log tables are independent, so the lock is per table
        # and flush() appends to the tables side by side
        self._write_locks: dict[str, threading.Lock] = defaultdict(threading.Lock)
        self._buf_lock = threading.Lock()
        self._buffers: dict[str, list[dict]] = defaultdict(list)
        # start rows of processes opened by THIS context, so end_process
        # never issues a read-back query for the common same-driver case
        self._open_starts: dict[int, dict] = {}
        self._ensure_tables()

    def _ensure_tables(self) -> None:
        fan_out(self.spark, [
            partial(self.catalog.create_table, "logs", name, schema,
                    medallion_metadata=False)
            for name, schema in schemas.LOGS_TABLES.items()
        ])

    def _append(self, table: str, row: dict) -> None:
        with self._buf_lock:
            self._buffers[table].append(row)
        if table == "error_log":
            self.flush("error_log")

    def flush(self, table: str | None = None) -> None:
        """Write buffered rows for ``table`` (or all tables) as ONE
        columnar append each; the appends to different tables run side
        by side (:func:`session.fan_out`).

        Rows leave the buffer only AFTER their append commits: a failed
        append keeps them buffered for the next flush instead of
        dropping them, and a concurrent ``table()`` reader serializes on
        the per-table write lock, so it can never observe rows in
        neither the buffer nor the table mid-write."""
        names = [table] if table is not None else list(schemas.LOGS_TABLES)
        with self._buf_lock:
            names = [n for n in names if self._buffers.get(n)]
        fan_out(self.spark, [partial(self._flush_one, name) for name in names])

    def _flush_one(self, name: str) -> None:
        with self._write_locks[name]:
            with self._buf_lock:
                rows = list(self._buffers.get(name, ()))
            if not rows:
                return
            df = local_rows(self.spark, rows, schemas.LOGS_TABLES[name])
            self.catalog.append(df, "logs", name)
            with self._buf_lock:
                buf = self._buffers.get(name, [])
                del buf[: len(rows)]

    def close(self) -> None:
        """Flush everything still buffered (call when done logging
        outside a ``run``/``end_process`` lifecycle); detaches this
        context's auto-capture hook so a closed context never observes
        later writes."""
        if getattr(self.catalog, "observer", None) is self:
            self.catalog.observer = None
        from sql_data_warehouse_analytics_project_spark.sources import writers

        if writers._path_observer is self:
            writers.set_path_observer(None)
        self.flush()

    def table(self, name: str) -> DataFrame:
        self.flush(name)  # read-your-writes
        return self.spark.table(self.catalog.qualified("logs", name))

    # -- L1: process lifecycle (audit_logger.py:188-399) --------------------

    def start_process(
        self,
        process_name: str,
        *,
        description: str | None = None,
        source_system: str | None = None,
        target_layer: str | None = None,
        metadata: dict[str, str] | None = None,
        durable: bool = False,
    ) -> int:
        """Open a process-log row; returns its ``log_id``. Pass
        ``durable=True`` when the id will be handed to ANOTHER context or
        driver (the start row is flushed immediately so the other side's
        ``end_process`` read-back can see it; buffered rows are invisible
        across processes)."""
        log_id = _new_id()
        row = {
            "log_id": log_id,
            "process_name": process_name,
            "process_description": description,
            "start_time": _now(),
            "end_time": None,
            "status": "RUNNING",
            "rows_processed": None,
            "rows_inserted": None,
            "rows_updated": None,
            "rows_deleted": None,
            "source_system": source_system,
            "target_layer": target_layer,
            "error_message": None,
            "process_metadata": metadata,
            "created_by": self.created_by,
        }
        with self._buf_lock:
            self._open_starts[log_id] = row
        self._append("process_log", row)
        if durable:
            # handoff contract: make the start row visible to OTHER
            # contexts/drivers before the id leaves this one — buffered
            # rows are invisible across processes until a flush
            self.flush("process_log")
        return log_id

    def end_process(
        self,
        log_id: int,
        status: str = "SUCCESS",
        *,
        rows_processed: int | None = None,
        rows_inserted: int | None = None,
        rows_updated: int | None = None,
        rows_deleted: int | None = None,
        error_message: str | None = None,
    ) -> None:
        """The reference UPDATEs the row in place; append-friendly columnar
        logs instead append a terminal row with the same ``log_id`` —
        ``process_history`` reads the latest row per id (window dedup).

        The start row is carried in driver memory for processes this
        context opened (the common case — no read-back query); an unknown
        ``log_id`` (cross-process/driver handoff) falls back to reading
        the append-only table."""
        with self._buf_lock:
            start_row = self._open_starts.pop(log_id, None)
        if start_row is not None:
            name = start_row["process_name"]
            start_time = start_row["start_time"]
            src = start_row["source_system"]
            layer = start_row["target_layer"]
        else:
            start = (
                self.table("process_log")
                .filter(F.col("log_id") == log_id)
                .select("process_name", "start_time", "source_system", "target_layer")
                .limit(1)
                .collect()
            )
            if not start:
                raise ValueError(
                    f"end_process({log_id}): no start row found — this "
                    "context did not open the process and the table has "
                    "no durable row. A log_id handed across contexts "
                    "must come from start_process(durable=True) (or the "
                    "starter must flush() first); ending it here anyway "
                    "would record a nameless process with no start time"
                )
            name, start_time, src, layer = (
                start[0][0], start[0][1], start[0][2], start[0][3],
            )
        self._append(
            "process_log",
            {
                "log_id": log_id,
                "process_name": name or "unknown",
                "process_description": None,
                "start_time": start_time,
                "end_time": _now(),
                "status": status,
                "rows_processed": rows_processed,
                "rows_inserted": rows_inserted,
                "rows_updated": rows_updated,
                "rows_deleted": rows_deleted,
                "source_system": src,
                "target_layer": layer,
                "error_message": error_message,
                "process_metadata": None,
                "created_by": self.created_by,
            },
        )
        # the job boundary: everything this process buffered (its start
        # row, lineage edges, metrics, this terminal row) lands as one
        # columnar append per table
        self.flush()

    def process_history(
        self,
        *,
        days: int | None = None,
        process_name: str | None = None,
        status: str | None = None,
    ) -> DataFrame:
        """Latest state per log_id + duration (audit_logger.py:320-399)."""
        from pyspark.sql.window import Window

        df = self.table("process_log")
        w = Window.partitionBy("log_id").orderBy(
            F.col("end_time").desc_nulls_last(), F.col("start_time").desc()
        )
        df = df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
        if days is not None:
            df = df.filter(F.col("start_time") >= F.date_sub(F.current_timestamp(), days))
        if process_name is not None:
            df = df.filter(F.col("process_name") == process_name)
        if status is not None:
            df = df.filter(F.col("status") == status)
        return df.withColumn(
            "duration_seconds",
            F.unix_timestamp("end_time") - F.unix_timestamp("start_time"),
        ).orderBy(F.col("start_time").desc())

    def get_active_processes(self) -> DataFrame:
        return self.process_history(status="RUNNING")

    # -- L2: configuration log (audit_logger.py:473-569) --------------------

    def log_config_change(
        self,
        key: str,
        new_value: str,
        *,
        old_value: str | None = None,
        reason: str | None = None,
        environment: str = "default",
    ) -> None:
        self._append(
            "configuration_log",
            {
                "config_log_id": _new_id(),
                "config_key": key,
                "old_value": old_value,
                "new_value": new_value,
                "change_reason": reason,
                "changed_by": self.created_by,
                "change_timestamp": _now(),
                "environment": environment,
            },
        )

    def get_config_value(self, key: str, environment: str = "default"):
        """Latest value for a key — used as the M5 watermark store."""
        rows = (
            self.table("configuration_log")
            .filter((F.col("config_key") == key) & (F.col("environment") == environment))
            .orderBy(F.col("change_timestamp").desc())
            .limit(1)
            .collect()
        )
        return rows[0]["new_value"] if rows else None

    # -- L4: error log (error_handler.py:185-376) ---------------------------

    def log_error(
        self,
        error: Exception | str,
        *,
        process_log_id: int | None = None,
        level: str = "ERROR",
        table_name: str | None = None,
        column_name: str | None = None,
        row_context: str | None = None,
        recovery_suggestion: str | None = None,
    ) -> int:
        error_id = _new_id()
        if isinstance(error, Exception):
            code = type(error).__name__  # auto error-code from exception type
            message = str(error)
            detail = "".join(
                traceback.format_exception(type(error), error, error.__traceback__)
            )[-4000:]
        else:
            code, message, detail = "GENERIC", str(error), None
        self._append(
            "error_log",
            {
                "error_id": error_id,
                "process_log_id": process_log_id,
                "error_timestamp": _now(),
                "error_level": level,
                "error_code": code,
                "error_message": message,
                "error_detail": detail,
                "table_name": table_name,
                "column_name": column_name,
                "row_context": row_context,
                "recovery_suggestion": recovery_suggestion,
                "is_resolved": False,
                "resolved_by": None,
                "resolved_timestamp": None,
            },
        )
        return error_id

    def get_unresolved_errors(self) -> DataFrame:
        return self.table("error_log").filter(~F.coalesce("is_resolved", F.lit(False)))

    def mark_error_resolved(self, error_id: int, resolved_by: str) -> None:
        from sql_data_warehouse_analytics_project_spark import dml

        updated = dml.batch_update(
            self.table("error_log"),
            {
                "is_resolved": F.lit(True),
                "resolved_by": F.lit(resolved_by),
                "resolved_timestamp": F.current_timestamp(),
            },
            F.col("error_id") == error_id,
        )
        self.catalog.overwrite(updated, "logs", "error_log")

    # -- L7: lineage edges (data_lineage.py:179-307) ------------------------

    def log_lineage(
        self,
        *,
        source_schema: str,
        source_table: str,
        target_schema: str,
        target_table: str,
        source_column: str | None = None,
        target_column: str | None = None,
        transformation_logic: str | None = None,
        record_count: int | None = None,
        process_log_id: int | None = None,
    ) -> None:
        self._append(
            "data_lineage",
            {
                "lineage_id": _new_id(),
                "process_log_id": process_log_id,
                "source_schema": source_schema,
                "source_table": source_table,
                "source_column": source_column,
                "target_schema": target_schema,
                "target_table": target_table,
                "target_column": target_column,
                "transformation_logic": transformation_logic,
                "record_count": record_count,
                "created_timestamp": _now(),
            },
        )

    # -- auto-capture: plan-derived lineage + metrics (SURVEY §4) -----------

    def enable_auto_capture(self) -> "RunContext":
        """Attach this context to its catalog so EVERY
        ``Catalog.append``/``overwrite`` emits ``data_lineage`` edges and
        ``performance_metrics`` rows derived from the executed plan —
        zero explicit ``log_lineage`` calls required (the reference
        demands one per movement, ``logs/data_lineage.py:179-307``; a
        forgotten call silently loses the edge there, never here).

        Also installs this context as the process-wide PATH-write
        observer (``sources.writers.set_path_observer``), so datasets
        written outside the metastore — ``write_dataset`` (the curation
        funnel's ``write_through`` stages), ``write_jsonl``, and the
        streaming sinks' per-batch partition slices — emit the same
        ``(external, <dataset>)`` edges and write metrics. One active
        path observer per process (last enable wins); :meth:`close`
        detaches both hooks. Returns self for chaining."""
        from sql_data_warehouse_analytics_project_spark.sources import writers

        self.catalog.observer = self
        writers.set_path_observer(self)
        return self

    def begin_path_write(self, df: DataFrame, path: str, *, mode: str):
        """Path-write hook (the ``writers`` twin of :meth:`begin_write`):
        lineage edges point at ``(external, <dataset leaf>)`` — the same
        naming convention plan extraction uses for path-based READS, so a
        downstream stage that reads the dataset back chains onto this
        edge and ``q34``-style traversal walks through on-disk stages."""
        from sql_data_warehouse_analytics_project_spark.ops.lineage_capture import (
            EXTERNAL_SCHEMA,
            dataset_leaf,
        )

        name = dataset_leaf(path)
        return self._begin_capture(
            df,
            target_schema=EXTERNAL_SCHEMA,
            target_table=name,
            metric_prefix=f"{EXTERNAL_SCHEMA}.{name}",
            mode=mode,
        )

    def begin_write(self, df: DataFrame, layer: str, table: str, *, mode: str):
        """Catalog write hook: returns ``(instrumented_df, finish)``.

        The returned df carries an ``observe`` aggregate so the row count
        is computed BY the write job (no second scan); ``finish()`` —
        called by the catalog only after the write (and swap) committed —
        buffers the lineage edges and the metric rows. Writes into the
        ``logs`` layer are never captured: the log tables are the
        capture's own sink (recursion) and metadata, not data flow."""
        if layer == "logs":
            return df, None
        target_schema = self.catalog.db(layer)
        return self._begin_capture(
            df,
            target_schema=target_schema,
            target_table=table,
            metric_prefix=f"{layer}.{table}",
            mode=mode,
        )

    def _begin_capture(
        self,
        df: DataFrame,
        *,
        target_schema: str,
        target_table: str,
        metric_prefix: str,
        mode: str,
    ):
        """Shared capture core for catalog writes (:meth:`begin_write`)
        and path-dataset writes (:meth:`begin_path_write`): plan-derived
        lineage edges, an ``observe``-ridden row count, wall-clock write
        time, and the Spark work the write ran (jobs, stages, tasks,
        shuffle read/write, task time, spill — ``ops/spark_metrics.py``).
        The Spark-work rows share one ``capture:<id>`` tag in
        ``additional_context`` with the write's time/row rows, so
        ``analysis.identify_bottlenecks`` can correlate a slow write with
        its shuffle volume and call it SHUFFLE_HEAVY instead of merely
        SLOW_EXECUTION."""
        from sql_data_warehouse_analytics_project_spark.ops import spark_metrics
        from sql_data_warehouse_analytics_project_spark.ops.lineage_capture import (
            plan_column_lineage,
            plan_sources,
        )

        sources = plan_sources(df)
        # column-granularity edges (round-10): the analyzed plan's
        # expression tree names every output column's source columns;
        # degenerate plans (hundreds of edges) fall back to table-level
        # only so a wide UNION can't flood the log table
        col_edges = plan_column_lineage(df)
        if len(col_edges) > 512:
            col_edges = []
        logs_db = self.catalog.db("logs")
        instrumented, count = observe_rows(df)
        # the capture stays open from here until the caller's finish(),
        # so the write's jobs run under its job group
        corr = f"capture:{_new_id()}"
        bracket = ExitStack()
        work = bracket.enter_context(spark_metrics.capture(self.spark, corr))
        t0 = time.time()

        def finish() -> None:
            elapsed = time.time() - t0
            bracket.close()  # restores the job group and fills ``work``
            try:
                rows = count()
            except Exception:  # noqa: BLE001 — metrics are best-effort
                rows = None
            for src_schema, src_table in sources:
                if src_schema == logs_db:
                    continue  # log-table reads are metadata, not data flow
                if (src_schema, src_table) == (target_schema, target_table):
                    # reconcile reads (upsert/soft-delete scan the target
                    # itself) are an implementation detail, not an edge
                    continue
                self.log_lineage(
                    source_schema=src_schema,
                    source_table=src_table,
                    target_schema=target_schema,
                    target_table=target_table,
                    transformation_logic=f"auto:{mode}",
                    record_count=rows,
                )
            for src_schema, src_table, src_col, tgt_col in col_edges:
                if src_schema == logs_db:
                    continue
                if (src_schema, src_table) == (target_schema, target_table):
                    continue
                self.log_lineage(
                    source_schema=src_schema,
                    source_table=src_table,
                    source_column=src_col,
                    target_schema=target_schema,
                    target_table=target_table,
                    target_column=tgt_col,
                    transformation_logic=f"auto:{mode}:column",
                )
            if rows is not None:
                self.record_metric(
                    f"{metric_prefix}.rows_written", float(rows), "rows",
                    context=corr,
                )
            self.record_metric(
                f"{metric_prefix}.write_time", elapsed, "seconds",
                context=corr,
            )
            self._record_work(metric_prefix, work, context=corr)

        return instrumented, finish

    # -- L11: performance metrics (performance_monitor.py:184-334) ----------

    def record_metric(
        self,
        name: str,
        value: float,
        unit: str = "seconds",
        *,
        process_log_id: int | None = None,
        context: str | None = None,
    ) -> None:
        """Buffer one ``performance_metrics`` row. ``metric_value`` is
        DECIMAL(15,4): values beyond its ±99,999,999,999.9999 range are
        CLAMPED to the bound (and the unit suffixed ``+clamped``) rather
        than buffered as-is — an unrepresentable Decimal would fail
        the Arrow conversion at every later flush and, since failed rows stay
        buffered, poison the whole metrics buffer including ``close()``.
        Telemetry callers avoid the clamp by recording in units that fit
        (executor byte counters record as MB — ``ops/spark_metrics.py``).
        """
        from decimal import Decimal

        bound = 10**11 - 0.0001  # DECIMAL(15,4) max
        if value != value:  # NaN is as unrepresentable as an overflow
            value, unit = 0.0, f"{unit}+nan"
        elif value > bound or value < -bound:
            value = bound if value > bound else -bound
            unit = f"{unit}+clamped"
        self._append(
            "performance_metrics",
            {
                "metric_id": _new_id(),
                "process_log_id": process_log_id,
                "metric_name": name,
                "metric_value": Decimal(str(round(value, 4))),
                "metric_unit": unit,
                "measurement_timestamp": _now(),
                "additional_context": context,
            },
        )

    def _record_work(
        self,
        prefix: str,
        work: dict,
        *,
        context: str,
        process_log_id: int | None = None,
    ) -> None:
        """Record a :func:`spark_metrics.capture` result as one
        ``<prefix>.<key>`` row per key, in the key's own unit."""
        for key, (value, unit) in work.items():
            self.record_metric(
                f"{prefix}.{key}", value, unit,
                process_log_id=process_log_id, context=context,
            )

    @contextmanager
    def measure(self, name: str, *, process_log_id: int | None = None):
        """Context-managed timing (+ psutil cpu/mem when available,
        performance_monitor.py:273-322), ALSO recording the Spark work the
        block ran (jobs, stages, tasks, shuffle bytes, task time, spill —
        ``ops/spark_metrics.py``), tagged with one ``capture:<id>`` so
        ``analysis.identify_bottlenecks`` can call a slow measured block
        SHUFFLE_HEAVY. Attribution is job-group-exact (the block's jobs
        run under the capture's group; interleaved jobs from other
        threads are excluded — a nested capture attributes its stages to
        ITS OWN tag, not this block's); a block that runs no Spark job
        records only its timing rows."""
        from sql_data_warehouse_analytics_project_spark.ops import spark_metrics

        try:
            import psutil

            proc = psutil.Process()
            cpu0 = proc.cpu_times()
            mem0 = proc.memory_info().rss
        except Exception:  # noqa: BLE001 — psutil optional
            proc = None
        corr = f"capture:{_new_id()}"
        bracket = ExitStack()
        work = bracket.enter_context(spark_metrics.capture(self.spark, corr))
        t0 = time.time()
        try:
            yield
        finally:
            elapsed = time.time() - t0
            bracket.close()  # restores the job group and fills ``work``
            self.record_metric(f"{name}.execution_time", elapsed, "seconds",
                               process_log_id=process_log_id, context=corr)
            if proc is not None:
                cpu1 = proc.cpu_times()
                self.record_metric(
                    f"{name}.cpu_time",
                    (cpu1.user - cpu0.user) + (cpu1.system - cpu0.system),
                    "seconds", process_log_id=process_log_id, context=corr,
                )
                self.record_metric(
                    f"{name}.memory_delta",
                    (proc.memory_info().rss - mem0) / 1e6,
                    "MB", process_log_id=process_log_id, context=corr,
                )
            self._record_work(
                name, work, process_log_id=process_log_id, context=corr
            )

    # -- lifecycle wrapper --------------------------------------------------

    @contextmanager
    def run(self, process_name: str, **start_kwargs):
        """start → yield log_id → end(SUCCESS) / log_exception + end(FAILED)
        — the bronze.py:441-591 contract as a context manager."""
        log_id = self.start_process(process_name, **start_kwargs)
        try:
            yield log_id
        except Exception as e:
            self.log_error(e, process_log_id=log_id)
            self.end_process(log_id, "FAILED", error_message=str(e))
            raise
        else:
            self.end_process(log_id, "SUCCESS")


def _now():
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
