"""Structured Streaming extensions (SURVEY.md §2.13: the reference has no
streaming — these extend its incremental-load (M5) and batch-logger (L3)
concepts to streams, per the north-star brief).

- ``stream_csv_drop_zone`` — the reference's CSV drop-zone directories
  (``datasets/source_crm`` etc., ``core/config.py:159``) become a
  file-source stream: new files are discovered and ingested continuously.
- ``stream_bronze_ingest`` — foreachBatch: each micro-batch runs the SAME
  columnar bronze enrichment as batch mode and appends, wrapped in the
  RunContext lifecycle (one process_log row per batch — the reference's
  BatchLogger contract, ``audit_logger.py:578-693``).
- Event-time windowed aggregations with watermarks for late data.

Batch/stream parity is a design invariant: enrich_bronze and the window
helpers are the same code in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from sql_data_warehouse_analytics_project_spark.catalog import Catalog
from sql_data_warehouse_analytics_project_spark.medallion.bronze import enrich_bronze
from sql_data_warehouse_analytics_project_spark.session import local_rows
from sql_data_warehouse_analytics_project_spark.sources import (
    manifest as sources_manifest,
)
from sql_data_warehouse_analytics_project_spark.sources import writers


def stream_csv_drop_zone(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source CSV stream over a drop-zone directory. Streaming sources
    require an explicit schema (no inference mid-stream)."""
    # NB: the file source tracks seen files by (path, modification time);
    # a file written within the same mtime tick as an already-committed
    # batch can be skipped on restart. Real drop zones should write files
    # atomically (tmp name + rename) — standard practice this source assumes.
    reader = (
        spark.readStream.schema(schema)
        .option("header", header)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def stream_bronze_ingest(
    stream: DataFrame,
    catalog: Catalog,
    table: str,
    *,
    checkpoint_dir: str,
    run_context=None,
    available_now: bool = False,
    refresh_silver: bool = False,
    refresh_gold: bool = False,
) -> StreamingQuery:
    """foreachBatch bronze sink: per micro-batch — enrich (same columnar
    path as batch ingestion) → append → audit row. Exactly-once at the
    batch level: foreachBatch alone is only at-least-once (a crash between
    the append and the checkpoint commit replays the batch), so the sink
    probes for its own ``_ingestion_batch_id`` and skips a batch it
    already wrote.

    ``refresh_silver=True`` extends the stream through the medallion: after
    each committed micro-batch the ledger-driven incremental silver refresh
    runs for this table (``medallion.silver.run_silver_incremental``,
    scoped), so silver continuously tracks the drop zone. Restart-safe by
    composition: the silver ledger makes a replayed batch an exact no-op,
    and the refresh also runs on the bronze-side replay-skip path, closing
    the crash window between a bronze commit and its silver refresh.

    ``refresh_gold=True`` (requires ``refresh_silver``) completes the
    continuous medallion: after the silver refresh, the gold-ledger-driven
    :func:`medallion.gold.run_gold_incremental` rebuilds only the
    ``order_month`` fact partitions the micro-batch touched (plus dims on
    content change). Restart-safe for the same reason — the gold ledger and
    its noop detection make a replayed refresh converge — and it too runs
    on the replay-skip path, closing the crash window between the silver
    refresh and the gold refresh. The warehouse must already hold all six
    silver tables: a refresh that finds no gold yet builds every gold
    table, and that reads every gold input."""
    sink = bronze_batch_sink(
        catalog, table, run_context,
        refresh_silver=refresh_silver, refresh_gold=refresh_gold,
    )
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bronze_batch_sink(
    catalog: Catalog,
    table: str,
    run_context=None,
    *,
    refresh_silver: bool = False,
    refresh_gold: bool = False,
):
    """The foreachBatch callable itself, exposed so tests can drive replay
    scenarios directly (same (batch_df, batch_id) signature Spark uses)."""
    if refresh_gold and not refresh_silver:
        # gold reads silver: refreshing gold over a stale silver would pin
        # the lag into gold rather than shrink it
        raise ValueError("refresh_gold requires refresh_silver")

    def _silver_refresh() -> None:
        from sql_data_warehouse_analytics_project_spark.medallion import (
            silver as silver_mod,
        )

        if table in silver_mod.SILVER_TRANSFORMS:
            # scoped to this table; the batch ledger makes replays no-ops
            silver_mod.run_silver_incremental(
                catalog, run_context=run_context, tables=[table]
            )
        if refresh_gold:
            from sql_data_warehouse_analytics_project_spark.medallion import (
                gold as gold_mod,
            )

            # the gold batch ledger + dim hash-diff make this a cheap noop
            # when the micro-batch changed nothing gold reads
            gold_mod.run_gold_incremental(catalog, run_context=run_context)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bid = f"stream-{batch_id}"
        spark = batch_df.sparkSession
        qname = catalog.qualified("bronze", table)
        if spark.catalog.tableExists(qname):
            already = (
                spark.table(qname)
                .filter(F.col("_ingestion_batch_id") == bid)
                .limit(1)
                .count()
            )
            if already:
                # replay of a committed bronze batch — idempotent skip, but
                # still drive silver: the crash may have hit AFTER the
                # bronze commit and BEFORE the silver refresh
                if refresh_silver:
                    _silver_refresh()
                return
        # materialize once: the audit count and the append would otherwise
        # each execute the full enrichment plan
        enriched = enrich_bronze(batch_df, batch_id=bid).localCheckpoint(
            eager=False
        )
        n = enriched.count()  # full scan — also materializes the lazy pin
        catalog.append(enriched, "bronze", table)  # creates the table on batch 0
        # foreachBatch runs on a CLONED micro-batch session; the append
        # refreshes only the clone's file-listing cache, so the parent
        # session would keep serving the stale listing without this
        # (refresh() also invalidates the physical generation table).
        catalog.refresh("bronze", table)
        if run_context is not None:
            log_id = run_context.start_process(
                f"stream_bronze.{table}.batch_{batch_id}", target_layer="bronze"
            )
            run_context.end_process(log_id, "SUCCESS", rows_processed=n)
        if refresh_silver:
            _silver_refresh()

    return sink


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    slide_duration: str | None = None,
    watermark: str = "30 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a watermark.
    Works identically on a stream (stateful, late data dropped past the
    watermark) and on a batch DataFrame (watermark is a no-op)."""
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return src.groupBy(win.alias("w"), *[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        "n_events",
        "total_value",
    )


def sessionized_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "5 minutes",
) -> DataFrame:
    """Session windows (gap-based) per user — ``session_window`` is the
    built-in stateful operator; in batch mode it degenerates to
    gaps-and-islands. Output: user, session start/end, event count."""
    src = events.withWatermark(ts_col, gap) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: "list[str]",
    ts_col: str,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup: suppress records re-delivered within the
    watermark horizon — the ingest guard for at-least-once sources
    (replayed Kafka offsets, re-dropped files) in a training-data feed.

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key and
    expires each key's state once the watermark passes it, so state size
    is bounded by arrival-rate × horizon, never by stream history — the
    property that makes this safe to run forever at 100 TB/day (a plain
    streaming ``dropDuplicates`` grows state without bound)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def _checkpoint_identity(spark, checkpoint_id: str) -> str:
    """Resolve a checkpoint DIRECTORY to the stream's stable query id
    (the ``id`` field of ``<checkpoint>/metadata``). Spark regenerates
    that uuid whenever the checkpoint is wiped — which also restarts
    batch ids at 0 — so it is the identity that actually tracks batch-id
    continuity. The directory PATH is not: wiping and recreating the
    checkpoint at the same path would pass a path-equality guard while
    silently skipping every replayed batch. Non-directory identifiers
    (no metadata file) pass through unchanged."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(checkpoint_id, "metadata")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return checkpoint_id
        stream = fs.open(path)
        try:
            content = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        import json

        return str(json.loads(content).get("id", checkpoint_id))
    except Exception:  # noqa: BLE001 — identity probe must never kill a batch
        return checkpoint_id


def rollup_batch_sink(
    catalog: Catalog,
    table: str,
    keys: "tuple[str, ...] | list[str]",
    measures,
    *,
    layer: str = "gold",
    checkpoint_id: "str | None" = None,
):
    """foreachBatch sink maintaining a MATERIALIZED ROLLUP incrementally
    (``plans/incremental``): each micro-batch is aggregated alone into
    mergeable partial state and merged into the stored rollup — per-batch
    cost is batch-size + rollup-cardinality, never the full fact history.

    Batch-level idempotence rides inside the state itself: every state row
    carries ``_last_batch_id`` (the highest applied batch), and the
    atomic generation publish of :meth:`Catalog.overwrite` commits data
    + marker in one step — a replayed batch sees its own id recorded and skips, and there
    is no window where the data is applied but the marker is not (the
    separate-marker-table design would have exactly that window).

    Batch ids are only comparable WITHIN one checkpoint: ``foreachBatch``
    ids restart at 0 under a fresh checkpoint directory, and a fresh
    checkpoint also replays the source from the beginning. The state rows
    therefore also carry ``_checkpoint_id`` (pass ``checkpoint_id``, as
    :func:`streaming_rollup` does with its checkpoint dir): a marker from
    a DIFFERENT checkpoint is neither skipped (silent data loss until the
    new counter passes the old high-water mark) nor merged (the replayed
    source would double-count) — the sink raises and tells the operator
    to drop the state table together with the old checkpoint.

    When ``checkpoint_id`` is the checkpoint DIRECTORY, the stored
    identity is the stream's stable query uuid read from
    ``<checkpoint>/metadata`` — Spark regenerates it when the directory
    is wiped, so "same path, fresh checkpoint" (the standard reset) is
    detected too, not just a different path."""
    from sql_data_warehouse_analytics_project_spark.plans import incremental

    keys = list(keys)
    resolved: dict[str, str] = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checkpoint_id is not None and "id" not in resolved:
            # resolve lazily: the metadata file exists only once the
            # stream has started, which is guaranteed by the first batch
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp_identity = resolved.get("id", checkpoint_id)
        qstate = catalog.qualified(layer, table)
        delta = incremental.partial_aggs(batch_df, keys, measures)
        if spark.catalog.tableExists(qstate):
            state = spark.table(qstate)
            marker_cols = [F.max("_last_batch_id").alias("_b")]
            has_cp = "_checkpoint_id" in state.columns
            if has_cp:
                marker_cols.append(F.max("_checkpoint_id").alias("_cp"))
            marker = state.agg(*marker_cols).collect()[0]
            applied = marker["_b"]
            applied_cp = marker["_cp"] if has_cp else None
            # accept the resolved uuid OR the raw identifier (states
            # written before uuid resolution carry the path and stay
            # valid as long as the checkpoint was never wiped)
            if (
                cp_identity is not None
                and applied_cp is not None
                and applied_cp not in (cp_identity, checkpoint_id)
            ):
                raise RuntimeError(
                    f"rollup state {qstate} was written by checkpoint "
                    f"{applied_cp!r} but this stream runs from "
                    f"{cp_identity!r}: a fresh checkpoint replays the "
                    "source from the start, so merging would double-count "
                    "— drop the state table together with the old "
                    "checkpoint directory"
                )
            if applied is not None and applied >= batch_id:
                return  # replay of a committed batch — idempotent skip
            merged = incremental.merge_partials(
                keys,
                state.drop("_last_batch_id", "_checkpoint_id"),
                delta,
            )
            out = merged.withColumn("_last_batch_id", F.lit(batch_id))
            if cp_identity is not None:
                out = out.withColumn("_checkpoint_id", F.lit(cp_identity))
            catalog.overwrite(out, layer, table)
        else:
            out = delta.withColumn("_last_batch_id", F.lit(batch_id))
            if cp_identity is not None:
                out = out.withColumn("_checkpoint_id", F.lit(cp_identity))
            catalog.append(out, layer, table)
        catalog.refresh(layer, table)

    return sink


def streaming_rollup(
    stream: DataFrame,
    catalog: Catalog,
    table: str,
    keys,
    measures,
    *,
    checkpoint_dir: str,
    layer: str = "gold",
    available_now: bool = False,
) -> StreamingQuery:
    """Attach :func:`rollup_batch_sink` to a stream. Read the result with
    :func:`read_rollup` (finalizes partial state to measure values)."""
    sink = rollup_batch_sink(
        catalog, table, keys, measures, layer=layer, checkpoint_id=checkpoint_dir
    )
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(catalog: Catalog, table: str, keys, measures, *, layer: str = "gold"):
    """Finalized view of a streaming rollup's partial state."""
    from sql_data_warehouse_analytics_project_spark.plans import incremental

    state = catalog.spark.table(catalog.qualified(layer, table))
    return incremental.finalize(
        state.drop("_last_batch_id", "_checkpoint_id"), list(keys), measures
    )


def corpus_dedup_sink(
    corpus_dir: str,
    ledger_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    checkpoint_id: "str | None" = None,
):
    """foreachBatch sink giving a streaming document feed CORPUS-LIFETIME
    exact dedup: every micro-batch dedups against the durable
    cross-snapshot fingerprint ledger
    (``llm.dedup.dedup_against_snapshot``), appends the survivors to the
    corpus dataset, and rolls the ledger forward — where
    :func:`dedup_stream`'s watermark state only suppresses redelivery
    within its horizon, this suppresses content seen EVER, with state on
    disk (32 bytes per distinct content), not in stream memory.

    Replay-idempotent by layout: both the corpus survivors and their
    fingerprints land in per-(checkpoint, batch) partition directories
    (``.../cp=<id>/batch_id=N``) written with overwrite, so a replayed
    batch rewrites its own partitions byte-for-byte instead of double-
    appending; the probe excludes the replaying batch's own ledger
    partition (otherwise a replay would see its own fingerprints and
    emit an empty partition — data loss). Per-batch work is
    batch × ledger-probe sized; the ledger read prunes to fingerprint
    columns and the anti-join ships only hashes. As the per-batch ledger
    partitions accumulate, fold them with
    ``sources.writers.compact_dataset`` (it keeps the slice directories;
    quiesce contract in ``sources/manifest``).

    ``foreachBatch`` batch ids restart at 0 when the checkpoint is wiped
    (which also replays the source): pass ``checkpoint_id`` (the
    checkpoint DIRECTORY, like :func:`rollup_batch_sink`) and partitions
    are keyed by the stream's stable query uuid — a reset lineage writes
    under a NEW ``cp=`` prefix instead of silently overwriting the old
    lineage's batch 0, and its replayed documents dedup against the
    accumulated ledger. Without it, all batches share one ``cp=default``
    lineage and a checkpoint reset must come with fresh output dirs."""
    from pyspark.sql.utils import AnalysisException

    from sql_data_warehouse_analytics_project_spark.llm import dedup

    resolved: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checkpoint_id is not None and "id" not in resolved:
            # lazy: <checkpoint>/metadata exists once the stream started
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp = resolved.get("id") or "default"
        try:
            ledger = writers.read_dataset(spark, ledger_dir)
            prior = ledger.filter(
                ~((F.col("cp") == cp) & (F.col("batch_id") == batch_id))
            ).select("fingerprint")
        except AnalysisException:  # first batch: no ledger yet
            prior = local_rows(spark, [], "fingerprint string")
        fresh = dedup.dedup_against_snapshot(batch_df, prior, id_col, text_col)
        part = f"cp={cp}/batch_id={batch_id}"
        # observed slice writes: with auto-capture enabled the corpus and
        # ledger maintenance emit (external, <dataset>) lineage edges +
        # write metrics per batch, like any other dataset write
        writers.write_partitioned_slice(fresh, f"{corpus_dir}/{part}")
        writers.write_partitioned_slice(
            dedup.snapshot_fingerprints(fresh, text_col), f"{ledger_dir}/{part}"
        )

    return sink


def bm25_index_sink(
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    checkpoint_id: "str | None" = None,
    cdc: bool = False,
):
    """foreachBatch sink maintaining a PERSISTED BM25 inverted index from
    a document stream — the streaming twin of
    ``llm.retrieval.update_bm25_index``.

    Per micro-batch it tokenizes ONLY the batch and writes three
    per-(checkpoint, batch) partitioned datasets under ``index_dir``:

    - ``postings/cp=<id>/batch_id=N`` — (term, doc, tf, dl): history is
      never rewritten, each batch only ADDS files;
    - ``deltas/cp=<id>/batch_id=N`` — (term, df_delta): the batch's
      document-frequency contribution (a delta LEDGER instead of a
      mutable term_stats table, so a replayed batch can overwrite its own
      partition instead of double-merging);
    - ``stats/cp=<id>/batch_id=N`` — one row (n_docs, total_dl, id_type).

    :func:`load_bm25_index_from_sink` folds the ledgers into a
    search-ready index; ``retrieval.search_bm25`` over it is proven
    equal to a one-shot ``build_bm25_index`` over the union of batches.
    Replay-idempotent by the same layout contract as
    :func:`corpus_dedup_sink` (partition overwrite per batch;
    ``checkpoint_id`` keys lineages by the stream's stable query uuid).

    Default stream contract: doc ids are NEW each batch (append-only
    ingest). ``cdc=True`` lifts that: each batch ALSO writes a tombstone
    ledger

    - ``retired/cp=<id>/batch_id=N`` — (doc): every id the batch
      carried, meaning "any version of this id from an EARLIER batch is
      dead"

    so a CDC-style stream can REPLACE a document (re-ingest it — new
    postings land this batch, old versions retire) or DELETE it
    (re-ingest with empty/null text: tokenizes to nothing, so it retires
    old postings and contributes none — exactly
    ``update_bm25_index``'s tombstone semantics) WITHOUT rewriting
    historical postings files; fold-time anti-joins apply the ledger
    (:func:`load_bm25_index_from_sink`). Replay stays idempotent: the
    retired slice is overwritten per (cp, batch) like every other.

    As batch partitions accumulate, fold them with
    ``sources.writers.compact_dataset`` (it keeps the slice directories;
    quiesce contract in ``sources/manifest``)."""
    from sql_data_warehouse_analytics_project_spark.llm.retrieval import _tokenize

    resolved: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checkpoint_id is not None and "id" not in resolved:
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp = resolved.get("id") or "default"
        part = f"cp={cp}/batch_id={batch_id}"
        tf, _ = _tokenize(batch_df, id_col, text_col)
        tf = tf.localCheckpoint()  # one (eager) pin; dl derives from the
        # pinned tf — the postings write scans tf through two leaves
        # (join probe + dl's map stage), so a lazy pin would make those
        # stages race on block locks
        dl = tf.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
        writers.write_partitioned_slice(
            tf.join(dl, "doc").select("term", "doc", "tf", "dl"),
            f"{index_dir}/postings/{part}",
        )
        writers.write_partitioned_slice(
            tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_delta")),
            f"{index_dir}/deltas/{part}",
        )
        if cdc:
            # EVERY id the batch carried — including docs tokenizing to
            # nothing (the delete case): the retire set must come from
            # the raw batch, not the tokenized reduction (the same
            # tombstone rule update_bm25_index enforces)
            writers.write_partitioned_slice(
                batch_df.select(F.col(id_col).alias("doc")).distinct(),
                f"{index_dir}/retired/{part}",
            )
        row = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
        ).collect()[0]
        id_type = dict(batch_df.dtypes)[id_col]
        writers.write_partitioned_slice(
            local_rows(
                spark, [(int(row["n_docs"] or 0), int(row["total_dl"] or 0), id_type)],
                "n_docs long, total_dl long, id_type string",
            ),
            f"{index_dir}/stats/{part}",
        )

    return sink


def token_count_sink(
    ledger_dir: str,
    text_col: str = "text",
    *,
    checkpoint_id: "str | None" = None,
):
    """foreachBatch sink maintaining a PER-SNAPSHOT TOKEN-COUNT ledger
    from a document stream — the streaming half of the qd53 corpus-drift
    monitor (``llm.text.token_drift``), productionized for recurring
    ingest: every micro-batch tokenizes ONLY itself and appends its
    ``(token, cnt)`` reduction as a per-(checkpoint, batch) partition
    slice. The accumulated ledger folds to the current snapshot's token
    distribution in one vocab-sized aggregation
    (:func:`token_drift_from_sink`) — no text is ever re-read, so a
    drift check against a pinned reference costs vocab, not corpus.

    Replay-idempotent by the sink layout contract (partition overwrite
    per (cp, batch); ``checkpoint_id`` keys lineages by the stream's
    stable query uuid, exactly :func:`corpus_dedup_sink`). As slices
    accumulate, ``sources.writers.compact_dataset`` folds them (quiesce
    contract in ``sources/manifest``; the fold is a plain sum)."""
    from sql_data_warehouse_analytics_project_spark.llm.text import tokens

    resolved: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checkpoint_id is not None and "id" not in resolved:
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp = resolved.get("id") or "default"
        counts = (
            batch_df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        writers.write_partitioned_slice(
            counts, f"{ledger_dir}/cp={cp}/batch_id={batch_id}"
        )

    return sink


def token_drift_from_sink(
    spark,
    ledger_dir: str,
    reference: DataFrame,
    *,
    text_col: str = "text",
    add_k: float = 0.5,
    top_k: int = 20,
) -> DataFrame:
    """Drift of the sink-accumulated snapshot vs a PINNED reference
    corpus: fold the :func:`token_count_sink` ledger to the stream's
    token distribution (one vocab-sized sum over the already-reduced
    slices — the stream's text is never re-read) and hand both count
    tables to ``llm.text.drift_from_counts``. Output/contract identical
    to ``token_drift(stream_corpus, reference)`` — gate-checked
    bit-exact against that one-shot twin (qd55). Positive contributions
    ⇒ over-represented in the STREAM snapshot."""
    from sql_data_warehouse_analytics_project_spark.llm.text import (
        drift_from_counts,
        tokens,
    )

    ca = (
        writers.read_dataset(spark, ledger_dir)
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("ca"))
    )
    cb = (
        reference.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    return drift_from_counts(ca, cb, add_k=add_k, top_k=top_k)


def retire_compact_bm25_sink(spark, index_dir: str) -> dict:
    """Fold the CDC tombstone ledger INTO the postings files: physically
    drop every posting a later batch retired and truncate the ``retired``
    ledger — the maintenance op that returns fold cost to ∝ live index
    on a long-running CDC stream (without it the ledger, and the dead
    postings it shadows, grow with history: every
    :func:`load_bm25_index_from_sink` pays for documents that died
    months ago).

    Both rewrites commit through the generation manifest
    (``sources/manifest``): the live postings are ``write_dataset`` of
    the postings root partitioned by ``(cp, batch_id)`` — the SAME
    directory shape the sink writes, so later micro-batches keep writing
    slices into the current generation — and the ledger's new generation
    holds a single 0-row marker slice (``cp=__compacted__/batch_id=-1``)
    that keeps the dataset readable and the fold on the CDC branch.
    Publishes are atomic; concurrent READERS are always safe; the stream
    itself is quiesced by the contract of ``sources/manifest``.

    Correctness after compaction is unchanged: surviving postings keep
    their original ``(cp, batch_id)``, so a FUTURE retire of doc ``d``
    at batch ``B`` still shadows d's older rows (``batch_id < B``), and
    a replace in batch ``B`` keeps its own rows (``batch_id >= B``).
    Returns row counts dropped/kept."""
    from pyspark.sql.utils import AnalysisException

    root = index_dir.rstrip("/")
    try:
        retired = writers.read_dataset(spark, f"{root}/retired")
    except AnalysisException:
        return {"postings_kept": None, "postings_dropped": 0,
                "retired_folded": 0}
    postings = writers.read_dataset(spark, f"{root}/postings")
    n_retired = retired.count()
    last = retired.groupBy("cp", "doc").agg(
        F.max("batch_id").alias("_last_retire")
    )
    live = (
        postings.join(last, ["cp", "doc"], "left")
        .filter(
            F.col("_last_retire").isNull()
            | (F.col("batch_id") >= F.col("_last_retire"))
        )
        .drop("_last_retire")
        .select("term", "doc", "tf", "dl", "cp", "batch_id")
    )
    n_before = postings.count()

    writers.write_dataset(
        live, f"{root}/postings", partition_by=["cp", "batch_id"], sort_by=["term"]
    )
    n_after = writers.read_dataset(spark, f"{root}/postings").count()

    # truncate the ledger: one 0-row marker slice keeps the dataset
    # readable (an empty dir can't be) and the fold on the CDC branch
    doc_type = dict(retired.dtypes)["doc"]
    rgid, rgdir = sources_manifest.new_generation(f"{root}/retired")
    writers._write_layout(
        local_rows(spark, [], f"doc {doc_type}"),
        f"{rgdir}/cp=__compacted__/batch_id=-1",
    )
    sources_manifest.publish(f"{root}/retired", rgid)
    return {
        "postings_kept": n_after,
        "postings_dropped": n_before - n_after,
        "retired_folded": n_retired,
    }


def load_bm25_index_from_sink(spark, index_dir: str) -> dict:
    """Fold a :func:`bm25_index_sink` directory into a search-ready index
    dict (the ``retrieval.search_bm25`` contract).

    Append-only sink (no ``retired`` ledger on disk): postings read as-is
    (lazy — the scan is the search's own term-pruned join), the df delta
    ledger aggregates to term_stats (vocab-sized), the per-batch stats
    rows sum to the two exact-int scalars. Nothing here scans postings.

    CDC sink (``cdc=True`` wrote a tombstone ledger): only the LIVE
    version of each doc survives — a posting is dead when a later batch
    of the same checkpoint lineage retired its doc (the doc's OWN batch
    survives: its retire row and its replacement postings land
    together). Because retires change document frequencies and corpus
    scalars in ways the append-only ledgers can't express, term_stats
    and (n_docs, total_dl) fold from the live postings instead — one
    postings-METADATA pass at load time (ids and lengths; the text was
    never stored), the price of delete support without rewriting
    history. Folding stays correct after ``compact_dataset`` on any of
    the per-batch datasets: compaction keeps the cp/batch_id partition
    directories."""
    from pyspark.sql.utils import AnalysisException

    def _read(sub: str):
        return writers.read_dataset(spark, f"{index_dir}/{sub}")

    stats = _read("stats")
    id_type = stats.select("id_type").limit(1).collect()[0][0]
    try:
        retired = _read("retired")
    except AnalysisException:
        retired = None
    if retired is None:
        postings = _read("postings").select("term", "doc", "tf", "dl")
        term_stats = (
            _read("deltas")
            .groupBy("term")
            .agg(F.sum("df_delta").alias("df"))
            .filter(F.col("df") > 0)
        )
        row = stats.agg(
            F.sum("n_docs").alias("n"), F.sum("total_dl").alias("t")
        ).collect()[0]
        return {
            "postings": postings,
            "term_stats": term_stats,
            "n_docs": int(row["n"] or 0),
            "total_dl": int(row["t"] or 0),
            "id_type": id_type,
        }
    last = retired.groupBy("cp", "doc").agg(
        F.max("batch_id").alias("_last_retire")
    )
    postings = (
        _read("postings")
        .join(last, ["cp", "doc"], "left")
        .filter(
            F.col("_last_retire").isNull()
            | (F.col("batch_id") >= F.col("_last_retire"))
        )
        .select("term", "doc", "tf", "dl")
    )
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    row = (
        postings.select("doc", "dl")
        .distinct()  # one live version per doc; one (doc, dl) row each
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
        .collect()[0]
    )
    return {
        "postings": postings,
        "term_stats": term_stats,
        "n_docs": int(row["n"] or 0),
        "total_dl": int(row["t"] or 0),
        "id_type": id_type,
    }


def ivfpq_index_sink(
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    checkpoint_id: "str | None" = None,
):
    """foreachBatch sink maintaining a PERSISTED IVF-PQ ANN index from an
    embedding stream — the streaming twin of
    ``llm.similarity.update_ivfpq_index`` (round-11 verdict #2: BM25 got
    its streaming CDC sink in round 7; this closes the same lifecycle
    for the ANN stack, so a recurring-crawl pipeline no longer
    orchestrates micro-batch index updates by hand).

    Requires a ``write_ivfpq_index`` BASE at ``index_dir``: the coarse
    quantizer and PQ codebooks are PINNED from its manifest (resolved
    once, lazily) — streaming maintenance never retrains models, exactly
    the batch updater's contract. Per micro-batch it writes ledger
    slices under per-(checkpoint, batch) partition directories:

    - ``codes/cp=<id>/batch_id=N`` — (neighbor_id, centroid_id,
      pq_code): the batch's non-null vectors encoded under the pinned
      models (batch-sized work; history never rewritten);
    - ``retired/cp=<id>/batch_id=N`` — every id the batch CARRIED,
      null-vector deletes included (the CDC tombstone rule: any earlier
      version of the id is dead; the id's own batch survives);
    - ``qstats/cp=<id>/batch_id=N`` — one row (n_rows, batch_qerr): the
      batch's quantization error under the pinned codebooks, the same
      drift probe ``update_ivfpq_index`` records.

    Replay-idempotent by the sink layout contract (partition overwrite
    per (cp, batch); ``checkpoint_id`` keys lineages by the stream's
    stable query uuid, exactly :func:`corpus_dedup_sink`).
    :func:`load_ivfpq_index_from_sink` folds the ledger into a
    search-ready pinned snapshot proven equal to applying
    ``update_ivfpq_index`` batch-by-batch; folding the slices INTO the
    manifest layout (compaction; quiesce contract in ``sources/manifest``)
    is ``write_ivfpq_index`` over the loaded snapshot."""
    from sql_data_warehouse_analytics_project_spark.llm import similarity

    resolved: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if "models" not in resolved:
            m = sources_manifest.read_manifest(index_dir.rstrip("/"))
            if m is None or "cells" not in (m.get("extra") or {}):
                raise FileNotFoundError(
                    "ivfpq_index_sink needs a write_ivfpq_index base "
                    f"(cell-mapped manifest) at {index_dir}"
                )
            resolved["models"] = m["extra"]
        if checkpoint_id is not None and "id" not in resolved:
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp = resolved.get("id") or "default"
        part = f"cp={cp}/batch_id={batch_id}"
        ex = resolved["models"]
        codes = similarity._assign_encode(
            batch_df, ex["centroids"], ex["codebooks"],
            id_col, vec_col, ex["id_type"],
        )
        writers.write_partitioned_slice(codes, f"{index_dir}/codes/{part}")
        writers.write_partitioned_slice(
            batch_df.select(F.col(id_col).alias("neighbor_id")).distinct(),
            f"{index_dir}/retired/{part}",
        )
        n_rows = batch_df.count()
        bq = similarity._mean_qerr(batch_df, ex["codebooks"], id_col, vec_col)
        writers.write_partitioned_slice(
            local_rows(
                spark, [(int(n_rows), float(bq) if bq is not None else None)],
                "n_rows long, batch_qerr double",
            ),
            f"{index_dir}/qstats/{part}",
        )

    return sink


def load_ivfpq_index_from_sink(
    spark, index_dir: str, *, retrain_factor: float = 2.0
) -> dict:
    """Fold an :func:`ivfpq_index_sink` ledger over its base index into a
    search-ready snapshot (the ``similarity.search_ivfpq_index``
    contract) — value-equal to applying
    ``similarity.update_ivfpq_index`` batch-by-batch in ledger order
    (gate qd69; per-id latest-batch-wins IS sequential replace/delete):

    - a CODES row is live unless a LATER batch of its checkpoint lineage
      retired its id (the id's own batch survives — its retire marker
      and replacement codes land together, the BM25 CDC fold rule);
    - a BASE row is live unless ANY ledger batch carried its id (every
      stream batch supersedes the base build, whatever the lineage);
    - models stay pinned from the base manifest; the fold is ledger +
      tombstone sized, never a corpus re-encode.

    The folded ``retrain_recommended`` flips when any batch's recorded
    quantization error (``qstats``) exceeds ``retrain_factor`` × the
    build-time baseline — the same drift rule as the batch updater, so
    ``similarity.retrain_ivfpq_if_needed`` consumes stream drift too.
    With no ledger on disk this is exactly ``read_ivfpq_index``.
    Folding stays correct after ``compact_dataset`` on the ledger
    datasets (compaction keeps the cp/batch_id directories)."""
    from pyspark.sql.utils import AnalysisException

    from sql_data_warehouse_analytics_project_spark.llm import similarity

    base = similarity.read_ivfpq_index(spark, index_dir)
    try:
        codes = writers.read_dataset(spark, f"{index_dir}/codes")
        retired = writers.read_dataset(spark, f"{index_dir}/retired")
    except AnalysisException:  # no stream slices yet
        return base
    last = retired.groupBy("cp", "neighbor_id").agg(
        F.max("batch_id").alias("_last_retire")
    )
    ledger_live = (
        codes.join(last, ["cp", "neighbor_id"], "left")
        .filter(
            F.col("_last_retire").isNull()
            | (F.col("batch_id") >= F.col("_last_retire"))
        )
        .select("neighbor_id", "centroid_id", "pq_code")
    )
    base_live = base["assignments"].join(
        retired.select("neighbor_id").distinct(), "neighbor_id", "anti"
    )
    out = dict(base)
    out["assignments"] = base_live.unionByName(ledger_live)
    try:
        q = writers.read_dataset(spark, f"{index_dir}/qstats")
        mx = q.agg(F.max("batch_qerr")).collect()[0][0]
        bq = base.get("qerr")
        if (
            mx is not None
            and bq is not None
            and float(mx) > retrain_factor * max(float(bq), 1e-12)
        ):
            out["retrain_recommended"] = True
    except AnalysisException:
        pass
    return out


def sketch_sink(
    ledger_dir: str,
    text_col: str = "text",
    *,
    depth: int = 3,
    width: int = 64,
    p: int = 8,
    checkpoint_id: "str | None" = None,
):
    """foreachBatch sink maintaining STREAMING corpus sketches — the
    count-min frequency grid (``llm.text.cms_table``) and the
    HyperLogLog register table (``llm.sketches.hll_registers``) — as
    per-(checkpoint, batch) ledger slices. Sketches are the natural
    streaming summaries: both merge by a plain keyed reduction (CMS:
    cellwise sum; HLL: register-wise max), so every micro-batch
    sketches ONLY itself and the accumulated ledger folds to the
    exact whole-stream sketch in one fixed-size aggregation
    (:func:`sketches_from_sink`) — the corpus text is never re-read,
    and the fold is provably identical to the one-shot sketch of the
    concatenated batches (gate key qd80). Replay-idempotent by the
    sink layout contract (partition overwrite per (cp, batch), the
    :func:`token_count_sink` protocol); slices compact with
    ``sources.writers.compact_dataset`` (quiesce contract in
    ``sources/manifest``) without changing the fold."""
    from sql_data_warehouse_analytics_project_spark.llm.sketches import (
        hll_registers,
    )
    from sql_data_warehouse_analytics_project_spark.llm.text import (
        cms_table,
        tokens,
    )

    resolved: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checkpoint_id is not None and "id" not in resolved:
            resolved["id"] = _checkpoint_identity(spark, checkpoint_id)
        cp = resolved.get("id") or "default"
        toks = batch_df.select(F.explode(tokens(text_col)).alias("term"))
        writers.write_partitioned_slice(
            cms_table(toks, "term", depth=depth, width=width),
            f"{ledger_dir}/cms/cp={cp}/batch_id={batch_id}",
        )
        writers.write_partitioned_slice(
            hll_registers(toks, "term", p=p),
            f"{ledger_dir}/hll/cp={cp}/batch_id={batch_id}",
        )

    return sink


def sketches_from_sink(spark, ledger_dir: str) -> dict:
    """Fold the :func:`sketch_sink` ledgers to the whole-stream
    sketches: CMS cells sum, HLL registers max — each a fixed-size
    keyed aggregation over already-reduced slices. Returns
    ``{"cms": DataFrame(depth, bucket, cell_count),
    "hll": DataFrame(register, rho)}`` with the exact schemas of the
    one-shot builders, so everything downstream (``cms_estimate``,
    ``hll_estimate``, merges with other corpora) is oblivious to the
    streaming provenance."""
    cms = (
        writers.read_dataset(spark, f"{ledger_dir}/cms")
        .groupBy("depth", "bucket")
        .agg(F.sum("cell_count").cast("long").alias("cell_count"))
    )
    hll = (
        writers.read_dataset(spark, f"{ledger_dir}/hll")
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )
    return {"cms": cms, "hll": hll}
