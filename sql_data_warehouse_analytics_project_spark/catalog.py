"""Medallion catalog & table manager (maps reference ``setup/`` + ``sql/ddl.py``).

The reference bootstraps PostgreSQL databases/schemas/tables with generated
DDL (``setup/setup_orchestrator.py:536-603``, strict order
database → schemas → logging → samples). Here layers are Spark databases
and tables are parquet-backed managed tables; everything is idempotent
(``IF NOT EXISTS`` semantics of ``sql/ddl.py:86-88,148-150``).

Medallion metadata columns (``sql/ddl.py:178-189``) are appended to every
managed table at write time: Spark tables have no server-side column
defaults, so defaults become expressions (``current_timestamp()`` etc.)
applied by ``with_medallion_metadata``.

The ``is_deleted`` standing filter (``sql/query_builder.py:121-124``) is
enforced by ``read()`` — the predicate is a plain column equality, so it
pushes down to the parquet scan.

Atomic publish (round 9): a managed table is a metastore VIEW pointing
at a physical GENERATION table (``<table>__gNNNNNN``). ``overwrite``
writes the new state as a brand-new generation table, then republishes
the view with ONE ``ALTER VIEW … AS`` statement — a single metastore
update, so a concurrent ``spark.table()``/``Catalog.read`` never
observes a missing table or a half-swapped state (the reference
gets this from PostgreSQL transactions, ``sql/dml.py:96-167,248-337``;
Delta would make it a table-format commit — this is the metastore-native
equivalent, the same pointer-commit idea as ``sources/manifest.py``).
Readers resolve through the view automatically; filters and column
pruning push through view resolution into the physical scan unchanged.
The view definition is the only record of which generation is
published: writers read it back from the view text
(:meth:`Catalog.resolve_table`), so no second pointer can go stale.
The previous generation is retained for one publish cycle (in-flight
scans drain), older ones are dropped.

This is the only table format the catalog knows, and this module is the
only code that writes a layer table (``tests/test_catalog_crash.py``
pins both). A name that holds a plain table, or a view over anything but
one of its own generations, was written by older code: ``resolve_table``,
``append`` and ``overwrite`` raise for it before writing, and the fix is
to drop it and rerun the stage that builds it. A crash at any statement
of a catalog write leaves the view on the state before or after the
write (or absent, for a first write or a drop), plus at most orphan
generations for :meth:`Catalog.vacuum_generations`; rerunning the write
converges, so there is no recovery step.
"""

from __future__ import annotations

import itertools
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_data_warehouse_analytics_project_spark.functions.scalars import row_hash
from sql_data_warehouse_analytics_project_spark.operators.relational import (
    exclude_soft_deleted,
)
from sql_data_warehouse_analytics_project_spark.session import local_rows

LAYERS = ("bronze", "silver", "gold", "logs")

#: physical generation tables backing a published view: <table>__gNNNNNN
GEN_RE = re.compile(r"^(?P<base>.+)__g(?P<seq>\d{6})$")
#: a published view's definition, naming its qualified generation table
_VIEW_TEXT_RE = re.compile(r"^\s*SELECT \* FROM (?P<gen>\S+)\s*$", re.IGNORECASE)

#: Managed-table metadata columns (reference ``sql/ddl.py:178-189``;
#: README list README.md:517-525).
MEDALLION_METADATA_FIELDS = [
    T.StructField("created_at", T.TimestampType(), True),
    T.StructField("updated_at", T.TimestampType(), True),
    T.StructField("created_by", T.StringType(), True),
    T.StructField("updated_by", T.StringType(), True),
    T.StructField("source_system", T.StringType(), True),
    T.StructField("batch_id", T.StringType(), True),
    T.StructField("is_deleted", T.BooleanType(), True),
    T.StructField("row_hash", T.StringType(), True),
]
MEDALLION_METADATA_COLUMNS = [f.name for f in MEDALLION_METADATA_FIELDS]


def with_medallion_metadata(
    df: DataFrame,
    *,
    created_by: str = "engine",
    source_system: str = "unknown",
    batch_id: str | None = None,
) -> DataFrame:
    """Append the eight managed-table metadata columns. ``row_hash`` covers
    the *data* columns only (sorted by name — order-normalized like the
    reference's sorted row dict, ``medallion/bronze.py:255-268``); the
    ``_``-prefixed infrastructure columns (batch provenance, derived
    partition keys) are not data."""
    data_cols = [
        c for c in df.columns
        if c not in MEDALLION_METADATA_COLUMNS and not c.startswith("_")
    ]
    now = F.current_timestamp()
    return (
        df.withColumn("created_at", now)
        .withColumn("updated_at", now)
        .withColumn("created_by", F.lit(created_by))
        .withColumn("updated_by", F.lit(created_by))
        .withColumn("source_system", F.lit(source_system))
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("is_deleted", F.lit(False))
        .withColumn("row_hash", row_hash(*data_cols))
    )


def observe_rows(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` with a row counter that the job writing it fills, and the
    getter to call once that write is done: the count of what was written
    without a second scan of the data or the table."""
    from pyspark.sql import Observation

    obs = Observation()
    counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    return counted, lambda: int(obs.get["rows"])


def _generation_writer(df: DataFrame, mode: str, partition_by: Sequence[str] = ()):
    """Parquet writer for a generation table. The dynamic
    ``partitionOverwriteMode`` is stored on the table it creates, so
    :meth:`Catalog.overwrite_partitions` replaces only the partitions it
    writes whatever the session conf says (a per-write option on
    ``insertInto`` is ignored, and flipping the session conf would race
    with other threads' writes)."""
    writer = (
        df.write.mode(mode).format("parquet")
        .option("partitionOverwriteMode", "dynamic")
    )
    return writer.partitionBy(*partition_by) if partition_by else writer


class Catalog:
    """Layer databases + idempotent table lifecycle + metadata-aware I/O."""

    def __init__(self, spark: SparkSession, prefix: str = ""):
        # prefix lets tests isolate their own set of layer databases
        self.spark = spark
        self.prefix = prefix
        # optional auto-capture hook (RunContext.enable_auto_capture):
        # an object with begin_write(df, layer, table, mode) ->
        # (instrumented_df, finish_callable | None). See
        # ops/lineage_capture.py for the contract.
        self.observer = None

    def db(self, layer: str) -> str:
        return f"{self.prefix}{layer}"

    def qualified(self, layer: str, table: str) -> str:
        return f"{self.db(layer)}.{table}"

    # -- setup (maps setup_orchestrator.run_complete_setup) -----------------

    def create_layers(self) -> None:
        """logs first so later steps can audit-log
        (``setup/create_schemas.py:348-351``)."""
        for layer in ("logs", "bronze", "silver", "gold"):
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.db(layer)}")

    def drop_layers(self) -> None:
        for layer in LAYERS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {self.db(layer)} CASCADE")

    # -- generation plumbing (atomic view-pointer publish) -------------------

    def _gen_name(self, table: str, seq: int) -> str:
        return f"{table}__g{seq:06d}"

    def _published(self, layer: str, table: str) -> str | None:
        """The qualified generation the view ``table`` selects from, read
        from the view's own definition (``View Text``); None when no table
        has the name. Anything else under the name — a plain table, or a
        view over something other than one of its generations — was
        written by code older than this format and raises, so no caller
        writes anything next to it."""
        q = self.qualified(layer, table)
        if not self.spark.catalog.tableExists(q):
            return None
        detail, in_detail = {}, False
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {q}").collect():
            # column rows come first, and a data column may be named "Type"
            in_detail = in_detail or r["col_name"] == "# Detailed Table Information"
            if in_detail:
                detail[r["col_name"]] = r["data_type"] or ""
        prefix = f"{self.db(layer)}."
        m = _VIEW_TEXT_RE.match(detail.get("View Text", ""))
        gen = m.group("gen") if m else ""
        g = GEN_RE.match(gen[len(prefix):]) if gen.startswith(prefix) else None
        if detail.get("Type") == "VIEW" and g and g.group("base") == table:
            return gen
        kind = "VIEW" if detail.get("Type") == "VIEW" else "TABLE"
        raise RuntimeError(
            f"{q} is not a view over one of its generation tables; it was "
            f"written by older code: DROP {kind} {q} and rerun the stage"
        )

    def _partition_columns(self, gen_q: str) -> list[str]:
        """Partition columns of a generation table, read with one
        ``DESCRIBE TABLE`` (no Spark job; ``catalog.listColumns`` runs
        two). A generation's partition spec never changes after it is
        created."""
        rows = self.spark.sql(f"DESCRIBE TABLE {gen_q}").collect()
        names = [r["col_name"] for r in rows]
        if "# Partition Information" not in names:
            return []
        # the section is a "# col_name" header, then one row per column
        rest = names[names.index("# Partition Information") + 2:]
        return list(itertools.takewhile(lambda n: n and not n.startswith("#"), rest))

    def resolve_table(self, layer: str, table: str) -> str:
        """The qualified PHYSICAL generation behind the published view.
        Physical-only operations (append, ANALYZE, DESCRIBE location,
        partition overwrite) go through this; plain reads never need it
        (``spark.table`` resolves the view)."""
        gen = self._published(layer, table)
        if gen is None:
            raise RuntimeError(f"table {self.qualified(layer, table)} does not exist")
        return gen

    def _generations(self, layer: str) -> dict[str, list[str]]:
        """Generation table NAMES of the layer per base table,
        seq-ascending (orphans a crash left included). ``SHOW TABLES``
        reads names only, where ``catalog.listTables`` also fetches every
        table's metadata and launches Spark jobs to do it. Session temp
        views are skipped."""
        gens: dict[str, list[tuple[int, str]]] = {}
        for r in self.spark.sql(f"SHOW TABLES IN {self.db(layer)}").collect():
            m = GEN_RE.match(r["tableName"])
            if m and not r["isTemporary"]:
                gens.setdefault(m.group("base"), []).append(
                    (int(m.group("seq")), r["tableName"])
                )
        return {b: [n for _, n in sorted(p)] for b, p in gens.items()}

    def _publish(self, layer: str, table: str, gen_q: str, *,
                 create: bool = False, comment: str | None = None) -> None:
        """Point the table view at ``gen_q`` without the view EVER being
        absent.

        The repoint of an existing view is ``ALTER VIEW … AS`` — ONE
        ``catalog.alterTable`` call, so a concurrent reader resolves the
        old or the new definition, never a missing view. ``CREATE OR
        REPLACE VIEW`` is NOT that: Spark's ``CreateViewCommand``
        implements replace as ``dropTable`` + ``createTable`` ("nothing
        we need to retain… just drop and create"), leaving a real
        TABLE_OR_VIEW_NOT_FOUND window that the concurrent-reader test
        hit under a loaded box (round 12). The repoint is the whole
        publish: :meth:`resolve_table` reads the generation back from the
        view text, so there is no second statement for a crash to split
        from it. Only the FIRST publish of a table (``create``) creates
        the view, with ``comment`` — no reader can hold its name before
        it ever exists."""
        q = self.qualified(layer, table)
        if not create:
            self.spark.sql(f"ALTER VIEW {q} AS SELECT * FROM {gen_q}")
            return
        stmt = f"CREATE VIEW {q} "
        if comment:
            escaped = comment.replace("\\", "\\\\").replace("'", "\\'")
            stmt += f"COMMENT '{escaped}' "
        self.spark.sql(stmt + f"AS SELECT * FROM {gen_q}")

    #: previous generations retained per table after a publish (in-flight
    #: readers' grace window); older ones are dropped by overwrite itself
    generation_retention = 1

    def _drop_unretained(
        self,
        layer: str,
        names: list[str],
        published: str | None,
        previous: str | None,
    ) -> list[str]:
        """The one retention rule, over one table's generation ``names``
        (unqualified, seq-ascending): keep the ``published`` generation
        and the newest ``generation_retention`` generations up to and
        including ``previous``, the one published before it, so a
        generation a crash left unpublished never takes a slot of the
        tail. Every other generation is dropped — all of them for a table
        with no view (``published`` None: a crashed first write, or a
        crashed :meth:`drop_table`). Returns the dropped names."""
        tail = [n for n in names if previous is not None and n <= previous]
        keep = {published, *tail[len(tail) - self.generation_retention:]}
        db = self.db(layer)
        dropped = [n for n in names if n not in keep]
        for name in dropped:
            self.spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        return dropped

    def create_table(
        self,
        layer: str,
        table: str,
        schema: T.StructType,
        *,
        medallion_metadata: bool = True,
        partition_by: Sequence[str] = (),
        comment: str | None = None,
    ) -> None:
        """Idempotent CREATE TABLE (maps ``sql/ddl.py:102-232``). Postgres
        RANGE/HASH/LIST partitioning and indexes (``ddl.py:199-297``) map to
        parquet directory partitioning + file statistics. Creates the first
        generation table plus the published view (module docstring), so
        every later overwrite is an atomic pointer republish."""
        if self.spark.catalog.tableExists(self.qualified(layer, table)):
            return
        fields = list(schema.fields)
        if medallion_metadata:
            present = {f.name for f in fields}
            fields += [f for f in MEDALLION_METADATA_FIELDS if f.name not in present]
        empty = local_rows(self.spark, [], T.StructType(fields))
        gen_q = f"{self.db(layer)}.{self._gen_name(table, 1)}"
        # a crashed first write may have left generation 1 without a view
        self.spark.sql(f"DROP TABLE IF EXISTS {gen_q}")
        _generation_writer(empty, "errorifexists", partition_by).saveAsTable(gen_q)
        self._publish(layer, table, gen_q, create=True, comment=comment)

    def table_exists(self, layer: str, table: str) -> bool:
        """S5 probe (maps ``BronzeManager.table_exists`` ``bronze.py:303-331``)."""
        return self.spark.catalog.tableExists(self.qualified(layer, table))

    def drop_table(self, layer: str, table: str) -> None:
        """Drop the view first, then its generations: a crash in between
        leaves the table absent and orphan generations for
        :meth:`vacuum_generations` (or a rerun) to drop."""
        self.spark.sql(f"DROP VIEW IF EXISTS {self.qualified(layer, table)}")
        self._drop_unretained(
            layer, self._generations(layer).get(table, []), None, None
        )

    def add_column(self, layer: str, table: str, name: str, dtype: str) -> None:
        """Maps ``alter_table_add_column`` (``sql/ddl.py:347-385``). Alters
        the physical generation, then republishes the view (a view's star
        expansion is frozen at creation — without the republish the new
        column would stay invisible). A column on the generation but not
        on the view is what a crash between the two statements leaves; a
        rerun then only republishes."""
        phys = self.resolve_table(layer, table)

        def cols(t: str) -> set[str]:
            return {c.lower() for c in self.spark.table(t).columns}

        if name.lower() not in cols(phys) - cols(self.qualified(layer, table)):
            self.spark.sql(f"ALTER TABLE {phys} ADD COLUMNS ({name} {dtype})")
            self.spark.catalog.refreshTable(phys)
        self._publish(layer, table, phys)

    # -- I/O ----------------------------------------------------------------

    def read(self, layer: str, table: str, *, include_deleted: bool = False) -> DataFrame:
        """Table read with the standing ``is_deleted = FALSE`` filter (P3).
        Resolves through the published view — a concurrent overwrite
        republishes the pointer atomically, so this never sees a missing
        or half-swapped table."""
        df = self.spark.table(self.qualified(layer, table))
        return df if include_deleted else exclude_soft_deleted(df)

    def refresh(self, layer: str, table: str) -> None:
        """Invalidate cached file listings for the table AND its published
        physical generation — needed when another session (a streaming
        micro-batch clone) appended files this session's cache predates."""
        q = self.qualified(layer, table)
        if not self.spark.catalog.tableExists(q):
            return
        self.spark.catalog.refreshTable(q)
        self.spark.catalog.refreshTable(self.resolve_table(layer, table))

    def append(self, df: DataFrame, layer: str, table: str) -> None:
        """S3/S4 sink — bulk columnar append (replaces the reference's
        per-row INSERT loop, ``bronze.py:495-527``) into the CURRENT
        physical generation behind the view. Appends into a partitioned
        table restate its partition columns (saveAsTable refuses a writer
        whose partitioning differs from the table's)."""
        published = self._published(layer, table)
        finish = None
        if self.observer is not None:
            df, finish = self.observer.begin_write(df, layer, table, mode="append")
        pcols: list[str] = []
        if published is None:
            # first write creates generation 1 + the published view, so
            # every table is pointer-committed from birth
            target = f"{self.db(layer)}.{self._gen_name(table, 1)}"
            self.spark.sql(f"DROP TABLE IF EXISTS {target}")
        else:
            target = published
            pcols = self._partition_columns(target)
        _generation_writer(df, "append", pcols).saveAsTable(target)
        if published is None:
            self._publish(layer, table, target, create=True)
        if finish is not None:
            finish()

    def overwrite(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        *,
        partition_by: Sequence[str] = (),
    ) -> None:
        """Full-table replace via generation write + ATOMIC view republish.

        The new state is written completely as a brand-new generation
        table (``<table>__gNNNNNN``), then one ``ALTER VIEW … AS`` — a
        single ``alterTable`` metastore update — repoints the table at it
        (see :meth:`_publish` for why CREATE OR REPLACE VIEW is not
        atomic in Spark).
        A concurrent reader resolves the view to the old or the new
        generation, never to a missing table or a half-swapped state (the
        reference gets this atomicity from PostgreSQL transactions,
        ``sql/dml.py:96-167,248-337``; a Delta deployment would make it a
        table-format commit). A crash while writing leaves the view — and
        every reader — on the old generation, with at most an orphan
        generation table for :meth:`vacuum_generations`; there is no
        recovery step because no partial state is ever published.

        The previous generation is retained for ``generation_retention``
        further publishes (grace for scans already resolved to it), then
        dropped. Writing the new generation also materializes the plan,
        which typically READS the current generation (upsert/soft-delete
        reconcile) — Spark cannot overwrite files it is still scanning,
        and here it never has to."""
        published = self._published(layer, table)
        finish = None
        if self.observer is not None:
            # instrument BEFORE the generation write (the row count rides
            # that job); finish fires only after the publish, so lineage/
            # metrics describe the published TARGET, never a half-done write
            df, finish = self.observer.begin_write(df, layer, table, mode="overwrite")
        gens = self._generations(layer).get(table, [])
        seq = int(GEN_RE.match(gens[-1]).group("seq")) + 1 if gens else 1
        name = self._gen_name(table, seq)
        gen_q = f"{self.db(layer)}.{name}"
        # directory partitioning lives on the generation table, so the
        # published view keeps partition pruning (the scale lever for
        # month-scoped fact scans)
        _generation_writer(df, "overwrite", partition_by).saveAsTable(gen_q)
        self._publish(layer, table, gen_q, create=published is None)
        self._drop_unretained(
            layer, gens + [name], name, published and published.split(".")[-1]
        )
        if finish is not None:
            finish()

    def overwrite_partitions(self, df: DataFrame, layer: str, table: str) -> None:
        """Dynamic partition overwrite of a partitioned table: only the
        partitions present in ``df`` are replaced in the published
        generation; every other partition's files are untouched. Commit is
        per-job via the parquet committer — a crash mid-write leaves the
        old partition files visible (on Delta this would be a single
        atomic commit). The dynamic mode is the generation table's own
        option (:func:`_generation_writer`); the session conf is never
        touched, so concurrent writers cannot turn this into a static
        overwrite that drops every other partition."""
        # insertInto writes files: it targets the PHYSICAL generation behind
        # the published view (views are not insertable)
        target = self.resolve_table(layer, table)
        props = {
            r["col_name"]: r["data_type"]
            for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {target}").collect()
        }
        if "partitionOverwriteMode=dynamic" not in props.get("Storage Properties", ""):
            raise RuntimeError(
                f"{target} lacks the dynamic partitionOverwriteMode option; it "
                "was written by older code: rerun the stage as a full build"
            )
        tcols = self.spark.table(target).columns
        # insertInto is position-based: order columns to the table schema
        df.select(*tcols).write.mode("overwrite").insertInto(target)

    def vacuum_generations(self, layer: str) -> list[str]:
        """Reclaim generation tables a crash or retention left behind, by
        the retention rule of :meth:`_drop_unretained`, taking the
        generation just before the published one as published before it:
        every other generation outside the retention tail is dropped — all
        of them for a table with no view. A table written by older code
        raises, as in :meth:`resolve_table`. Returns the dropped names.

        Safe against concurrent readers of the PUBLISHED state (nothing
        referenced is touched); run it while no write is in flight on the
        layer, or a freshly-written-but-not-yet-published generation could
        be vacuumed out from under it (that write would fail and retry —
        the published data is never at risk). Temporary views are skipped
        — only this layer's persisted tables are candidates."""
        dropped: list[str] = []
        for base, names in self._generations(layer).items():
            published = self._published(layer, base)
            published = published and published.split(".")[-1]
            older = [n for n in names if published is not None and n < published]
            dropped += self._drop_unretained(
                layer, names, published, older[-1] if older else None
            )
        return dropped

    # -- declared constraints (S7, maps sql/ddl.py:300-344) -----------------

    def declare_constraints(
        self,
        layer: str,
        table: str,
        specs: Sequence[dict],
        *,
        declared_by: str = "engine",
    ) -> None:
        """Persist a table's constraint declaration (PK/FK/UNIQUE/CHECK
        specs — see :mod:`constraints`) to ``logs.table_constraints``.
        Latest declaration wins; an empty list clears enforcement.
        Enforcement happens on :meth:`checked_append`."""
        import datetime
        import json

        from sql_data_warehouse_analytics_project_spark import constraints as C

        C.compile_constraints(specs)  # validate the spec shape up front
        self.create_table(
            "logs", C.CONSTRAINTS_TABLE, C.CONSTRAINTS_SCHEMA, medallion_metadata=False
        )
        row = {
            "layer": layer,
            "table_name": table,
            "constraints_json": json.dumps(list(specs)),
            "declared_at": datetime.datetime.now(datetime.timezone.utc).replace(
                tzinfo=None
            ),
            "declared_by": declared_by,
        }
        self.append(
            local_rows(self.spark, [row], C.CONSTRAINTS_SCHEMA),
            "logs",
            C.CONSTRAINTS_TABLE,
        )

    def get_constraints(self, layer: str, table: str) -> list[dict]:
        """Latest declared constraint specs for a table ([] if none)."""
        import json

        from sql_data_warehouse_analytics_project_spark import constraints as C

        if not self.table_exists("logs", C.CONSTRAINTS_TABLE):
            return []
        rows = (
            self.spark.table(self.qualified("logs", C.CONSTRAINTS_TABLE))
            .filter((F.col("layer") == layer) & (F.col("table_name") == table))
            .orderBy(F.col("declared_at").desc())
            .limit(1)
            .collect()
        )
        return json.loads(rows[0]["constraints_json"]) if rows else []

    def checked_append(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        *,
        run_context=None,
        process_log_id: int | None = None,
    ) -> DataFrame | None:
        """Append with declared-constraint enforcement: evaluate the
        table's constraints against the batch, record every failed rule to
        ``logs.error_log`` (when ``run_context`` is given), REFUSE the
        write on any ERROR-severity violation (raises
        :class:`constraints.ConstraintViolationError` — the target is
        untouched, matching the all-or-nothing write the reference gets
        from PostgreSQL constraints), and append otherwise. Returns the
        per-rule summary, or None when no constraints are declared."""
        from sql_data_warehouse_analytics_project_spark import constraints as C

        specs = self.get_constraints(layer, table)
        if not specs:
            self.append(df, layer, table)
            return None
        # materialize once (eager): the constraint summary is a UNION of
        # per-rule scans of this batch — concurrent leaf stages that would
        # race on an unmaterialized pin's block locks — and the append
        # below reads it a further time
        df = df.localCheckpoint(eager=True)
        summary = C.check(self, df, specs)
        failed = summary.filter(~F.col("passed")).collect()
        if run_context is not None:
            for r in failed:
                run_context.log_error(
                    f"CONSTRAINT_{r['rule_type'].upper()} {r['rule_name']}:"
                    f" {r['violation_count']} violation(s) in batch for"
                    f" {self.qualified(layer, table)}",
                    level=r["severity"],
                    table_name=self.qualified(layer, table),
                    process_log_id=process_log_id,
                )
        errors = [r.asDict() for r in failed if r["severity"] == "ERROR"]
        if errors:
            raise C.ConstraintViolationError(self.qualified(layer, table), errors)
        self.append(df, layer, table)
        return summary

    # -- catalog introspection (maps S8, sql/query_builder.py:390-567) ------

    def list_tables(self, layer: str):
        """Logical tables of a layer — the generation tables behind them
        are implementation detail and filtered out."""
        db = self.db(layer)
        return [
            t.name
            for t in self.spark.catalog.listTables(db)
            if t.database == db and not GEN_RE.match(t.name)
        ]

    def table_stats(self, layer: str, table: str) -> dict:
        """Maps ``get_table_stats_sql`` (row estimate + size). Location
        comes from the published physical generation."""
        q = self.qualified(layer, table)
        n = self.spark.table(q).count()
        detail = self.spark.sql(
            f"DESCRIBE EXTENDED {self.resolve_table(layer, table)}"
        ).collect()
        props = {r.col_name: r.data_type for r in detail}
        return {"table": q, "row_count": n, "location": props.get("Location")}

    def analyze(
        self, layer: str, table: str, columns: "Sequence[str] | None" = None
    ) -> dict:
        """ANALYZE TABLE — collect table (and optionally per-column)
        statistics into the metastore so Catalyst's cost-based optimizer
        has real cardinalities: with column stats, join reordering and
        broadcast decisions stop guessing from file sizes. The Postgres
        reference leans on autovacuum/ANALYZE implicitly; a Spark
        warehouse must run this explicitly after large loads — call it
        from ingest jobs the way ``table_stats`` is called from audits.

        Returns the recorded stats (rowCount/sizeInBytes, plus distinct/
        null counts per analyzed column) read back via DESCRIBE. Stats
        live on the published physical generation — exactly the relation
        every read through the view resolves to, so CBO uses them.
        """
        q = self.qualified(layer, table)
        phys = self.resolve_table(layer, table)
        stmt = f"ANALYZE TABLE {phys} COMPUTE STATISTICS"
        if columns:
            cols = ", ".join(f"`{c}`" for c in columns)
            stmt += f" FOR COLUMNS {cols}"
        self.spark.sql(stmt)
        detail = self.spark.sql(f"DESCRIBE EXTENDED {phys}").collect()
        props = {r.col_name: r.data_type for r in detail}
        out: dict = {"table": q, "statistics": props.get("Statistics")}
        for c in columns or []:
            rows = self.spark.sql(f"DESCRIBE EXTENDED {phys} `{c}`").collect()
            out[c] = {r.info_name: r.info_value for r in rows}
        return out

    def column_info(self, layer: str, table: str) -> list[dict]:
        """Per-column metadata (maps ``get_column_info_sql``,
        ``sql/query_builder.py:437-489``: name/type/nullable/position plus
        the partition flag Postgres expresses via table DDL — read from
        the physical generation, where partitioning lives)."""
        cols = self.spark.catalog.listColumns(self.resolve_table(layer, table))
        return [
            {
                "name": c.name,
                "data_type": c.dataType,
                "nullable": c.nullable,
                "is_partition": c.isPartition,
                "is_bucket": c.isBucket,
                "ordinal_position": i,
            }
            for i, c in enumerate(cols)
        ]

    def table_info(self, layer: str, table: str) -> dict:
        """Table-level metadata (maps ``get_table_info_sql``). The
        ``table_type`` reported is the PHYSICAL generation's (MANAGED) —
        the pointer view is plumbing, not what a catalog audit asks
        about; ``storage`` names the published generation."""
        q = self.qualified(layer, table)
        t = self.spark.catalog.getTable(q)
        phys = self.resolve_table(layer, table)
        return {
            "name": t.name,
            "database": self.db(layer),
            "table_type": self.spark.catalog.getTable(phys).tableType,
            "is_temporary": t.isTemporary,
            "description": t.description,
            "storage": phys,
        }

    def database_info(self, layer: str) -> dict:
        """Layer-database metadata (maps ``get_database_info_sql``)."""
        d = self.spark.catalog.getDatabase(self.db(layer))
        return {
            "name": d.name,
            "catalog": d.catalog,
            "description": d.description,
            "location": d.locationUri,
        }

    def schema_info(self) -> list[dict]:
        """All layer databases with their table inventory (maps
        ``get_schema_info_sql`` — one row per schema with object counts)."""
        out = []
        for layer in LAYERS:
            db = self.db(layer)
            if not self.spark.catalog.databaseExists(db):
                continue
            tables = sorted(self.list_tables(layer))
            out.append(
                {"layer": layer, "database": db, "table_count": len(tables), "tables": tables}
            )
        return out
